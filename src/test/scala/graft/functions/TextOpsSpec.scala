package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.Row

import graft.SparkSpec
import graft.queries.{EvalOps, LlmOpsAnn}

/** The shared text-signature derivations against independent
  * recomputations: n-grams against Scala's `sliding`, md5 codes against
  * `java.security.MessageDigest`, and the MinHash band frames through
  * the two queries that share them.
  */
class TextOpsSpec extends SparkSpec {

  private def tokenFrame(rows: Seq[Option[Seq[String]]]) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.zipWithIndex.map { case (t, i) => Row(i.toLong, t.orNull) }, 1),
      StructType(Seq(StructField("id", LongType),
        StructField("t", ArrayType(StringType)))))

  for (n <- Seq(2, 3, 5)) {
    test(s"ngrams($n): every window of $n tokens in order; empty below $n tokens and for NULL") {
      val lengths = Seq(0, 1, n - 1, n, n + 2)
      val inputs = lengths.map(len => Some((1 to len).map(i => s"w$i"))) :+ None
      val got = tokenFrame(inputs)
        .select(col("id"), TextOps.ngrams("t", n).as("g"))
        .orderBy("id").collect()
        .map(r => Option(r.getSeq[String](1)).map(_.toSeq)).toSeq
      // a NULL array gives [], not NULL: `greatest` skips the NULL size,
      // so the sliced index range is empty
      val want = inputs.map(_.getOrElse(Nil)).map { t =>
        Some(if (t.size < n) Seq.empty[String] else t.sliding(n).map(_.mkString(" ")).toSeq)
      }
      assert(got === want)
      assert(got.take(lengths.size).map(_.get.size) ===
        lengths.map(len => math.max(len - n + 1, 0)))
    }
  }

  test("ngrams on text goes through the shared tokenizer: duplicates kept, order kept") {
    val row = spark.range(1)
      .select(TextOps.tokens(lit("A b a B a")).as("t"))
      .select(TextOps.ngrams("t", 2).as("g")).head()
    assert(row.getSeq[String](0) === Seq("a b", "b a", "a b", "b a"))
  }

  private def md5Hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes(StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  test("md5Code60 and md5Uniform32 equal the md5 hex prefixes read as unsigned integers; NULL gives NULL") {
    val strs = Seq("", "a", "the quick brown fox", "naïve ☃ text", "123456789")
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(strs.map(Row(_)) :+ Row(null), 1),
      StructType(Seq(StructField("s", StringType))))
    val got = df.select(col("s"), TextOps.md5Code60(col("s")), TextOps.md5Uniform32(col("s")))
      .collect()
    assert(got.length === strs.size + 1)
    got.foreach { r =>
      if (r.isNullAt(0)) {
        assert(r.isNullAt(1) && r.isNullAt(2), "NULL text must give NULL codes")
      } else {
        val hex = md5Hex(r.getString(0))
        val code60 = java.lang.Long.parseLong(hex.take(15), 16)
        val u32 = java.lang.Long.parseLong(hex.take(8), 16)
        assert(r.getLong(1) === code60, s"md5Code60(${r.getString(0)})")
        assert(r.getLong(2) === u32, s"md5Uniform32(${r.getString(0)})")
        assert(code60 >= 0 && code60 < (1L << 60))
        assert(u32 >= 0 && u32 < (1L << 32))
      }
    }
  }

  test("eval_minhash_accuracy tabulates exactly dedup_minhash_lsh's candidate pairs") {
    val pairs = LlmOpsAnn.dedupMinhashLsh.fn(spark, sf()).count()
    val tabulated = EvalOps.evalMinhashAccuracy.fn(spark, sf())
      .agg(sum(col("n_pairs"))).head()
    assert(pairs > 0, "sf0.001 must yield banded candidates")
    assert(tabulated.getLong(0) === pairs)
  }
}
