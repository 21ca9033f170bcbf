package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextOps.md5Uniform32

/** Synthesize a SKEW-injected copy of an sf dir: every foreign-key
  * column a real pipeline shuffles on is remapped so `hotK` "hot" keys
  * jointly own `hotFrac` (default 0.3) of the rows — hotK = 1 is the
  * single-megacorp heavy hitter of round 11; hotK = 5 spreads the same
  * mass over five keys (5 × 10 %), the shape where AQE's skew-split
  * must fire on SEVERAL partitions at once (VERDICT r11 item 5).
  * Decided by a DETERMINISTIC md5-uniform of the row's primary key, so
  * both engines read identical files and the DuckDB differential still
  * gates answers; primary keys, row counts and non-key columns are
  * untouched, so join topology stays valid (hot keys are each table's
  * K smallest existing keys — never a dangling FK).
  *
  * Remapped: orders.o_custkey, lineitem.l_suppkey, lineitem.l_partkey,
  * events.user_id. Everything else verbatim.
  *
  * `embedPct` > 0 additionally rewrites that share of embeddings.
  * embedding onto a tight ball around the min-vec_id anchor vector
  * (anchor + per-(row,dim) deterministic noise in ±0.01) — EMBEDDING-
  * SPACE skew: one IVF cell captures ~embedPct of the corpus, the
  * adversarial input for the ann_ivf_* nprobe path and the semdedup
  * per-cell cap (VERDICT r11 item 6). vec_id/label untouched.
  *
  * Usage: tools/run.sh graft.SkewUp <srcSfDir> <outDir>
  *          [hotFracPct=30] [hotK=1] [embedPct=0]
  */
object SkewUp {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: graft.SkewUp <srcSfDir> <outDir> [hotFracPct] [hotK] [embedPct]")
      sys.exit(2)
    }
    val src = args(0); val out = args(1)
    val hotPct = if (args.length > 2) args(2).toInt else 30
    val hotK = if (args.length > 3) args(3).toInt else 1
    val embedPct = if (args.length > 4) args(4).toInt else 0
    val spark = Session.local(Session.envCores)

    def write(df: DataFrame, name: String): Unit = {
      import java.nio.file.{Files, Paths}
      val stage = s"$out/_stage_$name"
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = Files.list(Paths.get(stage)).toArray.map(_.toString)
        .filter(_.endsWith(".parquet"))
      require(part.length == 1, s"$name: expected one part file")
      Files.createDirectories(Paths.get(out))
      Files.move(Paths.get(part.head), Paths.get(s"$out/$name.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(stage))
      println(s"[skewup] $name done")
    }
    // md5-uniform of (salt, pk) as a 32-bit integer; hot iff < hotPct% of 2^32
    def u32(pkCol: String, salt: String): Column =
      md5Uniform32(concat(lit(salt), expr(pkCol).cast("string")))
    val hotThresh = (hotPct / 100.0 * 4294967296.0).toLong
    // the K smallest DISTINCT existing keys — deterministic hot targets
    def minKeys(df: DataFrame, c: String): Seq[Long] =
      df.select(col(c).cast("long")).na.drop().distinct()
        .orderBy(col(c)).limit(hotK).collect().map(_.getLong(0)).toSeq
    // remap: a hot row lands on hotKeys[floor(u / (T/K))] — each hot key
    // owns an equal hotPct/K slice of the uniform. Index math uses
    // hotKeys.size, NOT the requested hotK: minKeys can return fewer
    // keys than asked (a column with < hotK distinct values), and an
    // index capped at hotK-1 would then read past the array end —
    // element_at is non-ANSI here, so the overrun would silently write
    // NULL FKs and corrupt the corpus (ADVICE r12).
    def remap(pkCol: String, salt: String, orig: Column, hotKeys: Seq[Long]): Column = {
      require(hotKeys.nonEmpty, s"no distinct keys found for $salt remap")
      val k = hotKeys.size
      val u = u32(pkCol, salt)
      val idx = least(floor(u / lit(math.max(hotThresh / k, 1L))).cast("int"), lit(k - 1))
      when(u < lit(hotThresh),
        element_at(array(hotKeys.map(lit(_)): _*), idx + 1)).otherwise(orig)
    }

    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      write(spark.read.parquet(s"$src/$t.parquet"), t)
    }
    write(Tables.documents(spark, src), "documents")

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    if (embedPct > 0) {
      val anchor = emb.orderBy(col("vec_id")).limit(1)
        .select(col("embedding")).head().getSeq[Float](0)
      val anchorLit = array(anchor.map(lit(_)): _*)
      val embThresh = (embedPct / 100.0 * 4294967296.0).toLong
      // hot vectors: anchor + per-(vec_id, dim) deterministic noise in
      // ±0.01 — a tight cluster one IVF centroid will own
      val clustered = transform(sequence(lit(1), size(col("_anchor"))), i =>
        (element_at(col("_anchor"), i)
          + (md5Uniform32(concat(lit("emb"), col("vec_id").cast("string"), lit("_"), i.cast("string")))
            / lit(BigDecimal("4294967296.0")) - lit(BigDecimal("0.5"))) * lit(BigDecimal("0.02")))
          .cast("float"))
      write(emb
        .withColumn("_anchor", anchorLit)
        .withColumn("embedding",
          when(col("embedding").isNotNull && u32("vec_id", "emb") < lit(embThresh),
            clustered).otherwise(col("embedding")))
        .drop("_anchor"),
        "embeddings")
    } else write(emb, "embeddings")

    val orders = Tables.orders(spark, src)
    val hotCust = minKeys(orders, "o_custkey")
    write(orders.withColumn("o_custkey",
      remap("o_orderkey", "cust", col("o_custkey"), hotCust)), "orders")

    val li = Tables.lineitem(spark, src)
    val hotSupp = minKeys(li, "l_suppkey")
    val hotPart = minKeys(li, "l_partkey")
    // the lineitem PK is (orderkey, linenumber-ish position); orderkey +
    // partkey disambiguates enough for a deterministic per-row uniform.
    // Both hot flags/indices are computed from the ORIGINAL columns
    // BEFORE either remap (ADVICE r11: chained withColumns made the
    // partkey decision read the already-remapped suppkey, so for the
    // hot slice it collapsed to hash(orderkey, hotSupp) — correlated,
    // not uniform)
    write(li
      .withColumn("_supp2", remap("concat(l_orderkey, '_', l_partkey)", "supp", col("l_suppkey"), hotSupp))
      .withColumn("_part2", remap("concat(l_orderkey, '_', l_suppkey)", "part", col("l_partkey"), hotPart))
      .withColumn("l_suppkey", col("_supp2"))
      .withColumn("l_partkey", col("_part2"))
      .drop("_supp2", "_part2"),
      "lineitem")

    val ev = Tables.events(spark, src)
    val hotUser = minKeys(ev, "user_id")
    write(ev.withColumn("user_id",
      remap("event_id", "user", col("user_id"), hotUser)), "events")

    println(s"[skewup] done: hotK=$hotK cust=${hotCust.mkString(",")} supp=${hotSupp.mkString(",")} " +
      s"part=${hotPart.mkString(",")} user=${hotUser.mkString(",")} at $hotPct% embedPct=$embedPct")
    spark.stop()
  }
}
