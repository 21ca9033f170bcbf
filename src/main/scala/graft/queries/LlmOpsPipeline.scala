package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables => T}
import graft.functions.TextOps.{md5Code60, md5Uniform32, ngrams}

/** End-to-end training-data pipeline COMPOSITIONS — the LLM-corpus
  * counterpart of the TPC-H shapes: single declared rows that chain the
  * individual curation operators the way a real data-prep job does,
  * proving the stages compose without a driver-side seam.
  */
object LlmOpsPipeline {

  /** The canonical corpus-prep job as ONE query: quality filter
    * (min length, bounded digit ratio) → case-folded exact dedup
    * (keep-lowest-doc_id per content hash) → deterministic md5
    * train/val/test split → per-split accounting. Every stage is the
    * scale shape: the filter is a projection, the dedup is one shuffle
    * on the content hash, the split is map-only.
    */
  val pipelineCurate: Q = Q(
    "pipeline_curate",
    """WITH q AS (
      |  SELECT doc_id, lang, n_chars, text FROM documents
      |  WHERE len(string_split(text, ' ')) >= 20
      |    AND CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
      |        / length(text) <= 0.3
      |), dedup AS (
      |  SELECT doc_id, lang, n_chars FROM (
      |    SELECT doc_id, lang, n_chars,
      |           row_number() OVER (PARTITION BY md5(lower(text))
      |                              ORDER BY doc_id) AS rn
      |    FROM q
      |  ) WHERE rn = 1
      |), split AS (
      |  SELECT CASE WHEN bucket < 80 THEN 'train'
      |              WHEN bucket < 90 THEN 'val'
      |              ELSE 'test' END AS split, lang, n_chars
      |  FROM (SELECT CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket,
      |               lang, n_chars
      |        FROM dedup)
      |)
      |SELECT split, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars,
      |       count(DISTINCT lang) AS n_langs
      |FROM split
      |GROUP BY split
      |ORDER BY split NULLS FIRST""".stripMargin
  ) { (s, d) =>
    val quality = T.documents(s, d)
      .filter(size(split(col("text"), " ")) >= 20
        && length(regexp_replace(col("text"), "[^0-9]", "")).cast("double")
           / length(col("text")) <= 0.3)
    val wDup = Window.partitionBy(md5(lower(col("text")))).orderBy(col("doc_id").asc)
    val deduped = quality
      .withColumn("rn", row_number().over(wDup))
      .filter(col("rn") === 1)
    val bucket = md5Uniform32(col("doc_id").cast("string")) % 100
    deduped
      .select(
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").as("split"),
        col("lang"), col("n_chars"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("n_chars"),
        countDistinct(col("lang")).as("n_langs"))
      .orderBy(col("split").asc_nulls_first)
  }

  /** Train/eval CONTAMINATION check — decontamination is a first-class
    * training-data op: an eval document sharing enough distinct 5-gram
    * shingles with ANY train document leaks the benchmark into
    * training. Split by the same md5 buckets as the curation pipeline
    * (train < 90, eval ≥ 90), join distinct shingle CODES (md5-derived
    * 60-bit — 8-byte shuffle keys), count shared shingles per eval doc,
    * and report the contaminated/clean accounting. The join is the
    * scalable distinct-shingle equi-join of dedup_ngram_jaccard, never
    * an all-pairs compare; at 100 TB the train side is additionally
    * df-prunable (drop shingles present in >x% of docs).
    */
  val dedupContamination: Q = Q(
    "dedup_contamination",
    """WITH split AS (
      |  SELECT doc_id, text,
      |         CASE WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90
      |              THEN 'train' ELSE 'eval' END AS split
      |  FROM documents
      |), sh AS (
      |  SELECT DISTINCT split, doc_id,
      |         CAST(('0x' || substring(md5(sg), 1, 15)) AS BIGINT) AS s
      |  FROM (
      |    SELECT split, doc_id,
      |           unnest(list_transform(
      |             generate_series(1, greatest(len(t) - 4, 0)),
      |             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4])) AS sg
      |    FROM (SELECT split, doc_id, string_split(lower(text), ' ') AS t FROM split)
      |  )
      |), tr AS (
      |  SELECT DISTINCT s FROM sh WHERE split = 'train'
      |), ev AS (
      |  SELECT doc_id, s FROM sh WHERE split = 'eval'
      |), hits AS (
      |  SELECT ev.doc_id, count(*) AS n_shared
      |  FROM ev JOIN tr ON ev.s = tr.s
      |  GROUP BY ev.doc_id
      |), scored AS (
      |  SELECT e.doc_id, coalesce(h.n_shared, 0) AS n_shared
      |  FROM (SELECT DISTINCT doc_id FROM ev) e
      |  LEFT JOIN hits h ON e.doc_id = h.doc_id
      |)
      |SELECT CASE WHEN n_shared >= 3 THEN 'contaminated' ELSE 'clean' END AS status,
      |       count(*) AS n_eval_docs,
      |       CAST(min(n_shared) AS BIGINT) AS min_shared,
      |       CAST(max(n_shared) AS BIGINT) AS max_shared
      |FROM scored
      |GROUP BY 1
      |ORDER BY status NULLS FIRST""".stripMargin
  ) { (s, d) =>
    val bucket = md5Uniform32(col("doc_id").cast("string")) % 100
    // few-file straggler guard BEFORE the split+5-gram explode (r16;
    // pathology at Tables.spreadExplodeInput)
    val splitDf = T.spreadExplodeInput(s, T.documents(s, d))
      .select(col("doc_id"),
        when(bucket < 90, "train").otherwise("eval").as("split"),
        split(lower(col("text")), " ").as("t"))
    val sh = splitDf
      .select(col("split"), col("doc_id"), explode(ngrams("t", 5)).as("sg"))
      .select(col("split"), col("doc_id"), md5Code60(col("sg")).as("s"))
      .distinct()
    val tr = sh.filter(col("split") === "train").select(col("s")).distinct()
    val ev = sh.filter(col("split") === "eval")
      .select(col("doc_id"), col("s"))
    val hits = ev.join(tr, "s")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
    val scored = ev.select(col("doc_id")).distinct()
      .join(hits, Seq("doc_id"), "left")
      .select(coalesce(col("n_shared"), lit(0L)).as("n_shared"))
    scored
      .groupBy(when(col("n_shared") >= 3, "contaminated").otherwise("clean").as("status"))
      .agg(count(lit(1)).as("n_eval_docs"),
        min(col("n_shared")).cast("long").as("min_shared"),
        max(col("n_shared")).cast("long").as("max_shared"))
      .orderBy(col("status").asc_nulls_first)
  }

  /** Incremental-ingestion dedup — the growing-corpus shape: every new
    * BATCH doc (doc_id ≥ 250) is checked against the existing CORPUS
    * (doc_id < 250) and rejected if its 3-gram Jaccard vs some corpus
    * doc is ≥ 0.5; the emitted decision names the best corpus match
    * (max Jaccard, ties → lowest corpus doc_id). Candidates come from
    * the distinct-shingle equi-join (J ≥ 0.5 ⇒ a shared shingle ⇒
    * recall 1 — no minhash probability), restricted to batch×corpus
    * pairs so cost ∝ cross-set shingle collisions, never batch×corpus
    * row pairs; at real scale the ultra-common shingles are df-pruned
    * exactly as dedup_ngram_jaccard documents.
    */
  val dedupIncremental: Q = Q(
    "dedup_incremental",
    """WITH tk AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
      |), sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |           generate_series(1, greatest(len(t) - 2, 0)),
      |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
      |  FROM tk
      |), sizes AS (
      |  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
      |), inter AS (
      |  SELECT b.doc_id AS bid, c.doc_id AS cid, count(*) AS i
      |  FROM sh b JOIN sh c ON b.s = c.s
      |  WHERE b.doc_id >= 250 AND c.doc_id < 250
      |  GROUP BY 1, 2
      |), scored AS (
      |  SELECT bid, cid,
      |         round(CAST(i AS DOUBLE) / (sb.n + sc.n - i), 6) AS jaccard
      |  FROM inter
      |  JOIN sizes sb ON bid = sb.doc_id
      |  JOIN sizes sc ON cid = sc.doc_id
      |  WHERE CAST(i AS DOUBLE) / (sb.n + sc.n - i) >= 0.5
      |), best AS (
      |  SELECT bid, cid, jaccard,
      |         row_number() OVER (PARTITION BY bid
      |                            ORDER BY jaccard DESC, cid ASC) AS rk
      |  FROM scored
      |)
      |SELECT bid AS batch_doc, cid AS corpus_match, jaccard
      |FROM best WHERE rk = 1
      |ORDER BY batch_doc NULLS FIRST""".stripMargin
  ) { (s, d) =>
    // decision core factored into graft.operators.IncrementalDedup so
    // the cross-batch algebra (accepted docs join the corpus, rejected
    // docs never re-enter) is property-tested in IncrementalDedupSpec
    // few-file straggler guard before IncrementalDedup's shingle
    // explodes (r16; Tables.spreadExplodeInput)
    val docs = T.spreadExplodeInput(s, T.documents(s, d))
      .select(col("doc_id"), col("text"))
    graft.operators.IncrementalDedup.matches(
        corpus = docs.filter(col("doc_id") < 250),
        batch = docs.filter(col("doc_id") >= 250),
        threshold = 0.5)
      .orderBy(col("batch_doc").asc_nulls_first)
  }

  val all: Seq[Q] = Seq(pipelineCurate, dedupContamination, dedupIncremental)
}
