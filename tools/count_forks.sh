#!/usr/bin/env bash
# Counts the `chmod` and `readlink` processes a command starts.
#
#   tools/count_forks.sh <command...>
#   tools/count_forks.sh python3 perfbench/run.py --workload ingest_ticks --seed 7 --seconds 20 --trace 0
#
# Without the native Hadoop library, Hadoop's local file system forks
# `chmod` for every file and directory it creates, and `readlink` in
# `FileContext.rename`. This script puts a wrapper for each of the two
# programs first on PATH; each wrapper logs its call and then runs the
# real program. It runs the command, then prints one line per program,
# `<program> <count>`, and a `total <count>` line to standard error. It
# exits with the command's exit status.
set -u

if [ $# -eq 0 ]; then
  echo "usage: $0 <command...>" >&2
  exit 2
fi

dir=$(mktemp -d "${TMPDIR:-/tmp}/count_forks.XXXXXX") || exit 2
trap 'rm -rf "$dir"' EXIT
log="$dir/calls.log"
: >"$log"
progs="chmod readlink"
for prog in $progs; do
  real=$(command -v "$prog") || { echo "count_forks: no $prog on PATH" >&2; exit 2; }
  printf '#!/bin/sh\necho %s >>"%s"\nexec "%s" "$@"\n' "$prog" "$log" "$real" >"$dir/$prog"
done
chmod 755 "$dir"/*

PATH="$dir:$PATH" "$@"
status=$?

total=0
for prog in $progs; do
  n=$(grep -cx "$prog" "$log")
  echo "$prog $n" >&2
  total=$((total + n))
done
echo "total $total" >&2
exit "$status"
