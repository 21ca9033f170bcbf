package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale rehearsal generator (VERDICT r5 item 1): synthesize a ×N
  * corpus from an existing testdata dir by replicating every table N
  * times with SHIFTED KEYS — so join fan-outs, group cardinalities and
  * component structures scale linearly instead of colliding — and
  * per-copy content transforms chosen so each copy is statistically
  * independent of the others for the content-addressed operators:
  *
  *  - TPC-H keys (cust/order/part/supp) shift by copy × (max+1) per
  *    key DOMAIN, so referential integrity holds within each copy and
  *    no key collides across copies. region/nation are genuine
  *    dimensions (bounded by geography, not data volume) and are
  *    copied verbatim.
  *  - documents.text goes through a per-copy alphabet ROTATION
  *    (translate, length-preserving — n_chars stays consistent):
  *    within a copy the shingle/dup structure is exactly the
  *    original's, across copies shingle sets are disjoint — so dedup
  *    components scale in COUNT, not in size, like independent shards
  *    of a real corpus (naive duplication would make every doc a
  *    10-way near-dup and quadratically densify every LSH bucket).
  *  - embeddings get a per-copy deterministic ±1 sign flip per
  *    dimension — an ORTHOGONAL transform, so within-copy dot
  *    products, norms and neighbor structure are exactly preserved
  *    while cross-copy similarity is scrambled to noise.
  *  - events shift event_id/user_id; ts keeps the original range
  *    (telemetry time windows don't stretch with corpus size — the
  *    same hour now holds 10× events, which is what ×10 load means).
  *
  * Usage: ScaleUp <srcSfDir> <outDir> [factor=10]. Copy k=0 is always
  * the identity, so the output strictly contains the source corpus.
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: graft.ScaleUp <srcSfDir> <outDir> [factor]")
      sys.exit(2)
    }
    val src = args(0); val out = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = Session.local(Session.envCores)

    val copies = broadcast(spark.range(factor).select(col("id").as("k")))
    def rep(df: DataFrame): DataFrame = df.crossJoin(copies)
    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c).cast("long"))).head().getLong(0) + 1L

    // Flat single-file layout (`<out>/<table>.parquet` as a FILE, not a
    // directory) to match the driver's testdata exactly — DuckDB-side
    // tooling globs the path as one file. Row-group splitting keeps
    // Spark-side scan parallelism even with one file.
    def write(df: DataFrame, name: String): Unit = {
      import java.nio.file.{Files, Paths}
      val stage = s"$out/_stage_$name"
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = Files.list(Paths.get(stage)).toArray.map(_.toString)
        .filter(_.endsWith(".parquet"))
      require(part.length == 1, s"$name: expected one part file, got ${part.length}")
      Files.createDirectories(Paths.get(out))
      Files.move(Paths.get(part.head), Paths.get(s"$out/$name.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(stage))
      println(s"[scaleup] $name done")
    }

    // verbatim dimensions
    write(Tables.region(spark, src), "region")
    write(Tables.nation(spark, src), "nation")

    val customer = Tables.customer(spark, src)
    val orders = Tables.orders(spark, src)
    val part = Tables.part(spark, src)
    val supplier = Tables.supplier(spark, src)
    val lineitem = Tables.lineitem(spark, src)
    val oc = maxOf(customer, "c_custkey")
    val oo = maxOf(orders, "o_orderkey")
    val op = maxOf(part, "p_partkey")
    val os = maxOf(supplier, "s_suppkey")

    write(rep(customer)
      .withColumn("c_custkey", col("c_custkey") + col("k") * oc)
      .drop("k"), "customer")
    write(rep(supplier)
      .withColumn("s_suppkey", col("s_suppkey") + col("k") * os)
      .drop("k"), "supplier")
    write(rep(part)
      .withColumn("p_partkey", col("p_partkey") + col("k") * op)
      .drop("k"), "part")
    write(rep(orders)
      .withColumn("o_orderkey", col("o_orderkey") + col("k") * oo)
      .withColumn("o_custkey", col("o_custkey") + col("k") * oc)
      .drop("k"), "orders")
    write(rep(lineitem)
      .withColumn("l_orderkey", col("l_orderkey") + col("k") * oo)
      .withColumn("l_partkey", col("l_partkey") + col("k") * op)
      .withColumn("l_suppkey", col("l_suppkey") + col("k") * os)
      .drop("k"), "lineitem")

    val events = Tables.events(spark, src)
    val oe = maxOf(events, "event_id")
    val ou = maxOf(events, "user_id")
    write(rep(events)
      .withColumn("event_id", col("event_id") + col("k") * oe)
      .withColumn("user_id", col("user_id") + col("k") * ou)
      .drop("k"), "events")

    // per-copy alphabet rotation (lower+upper), copy 0 = identity
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val upper = lower.toUpperCase
    def rot(s: String, n: Int): String = s.drop(n % 26) + s.take(n % 26)
    val froms = lower + upper
    val tos = array((0 until factor).map(kk =>
      lit(rot(lower, kk) + rot(upper, kk))): _*)
    val documents = Tables.documents(spark, src)
    val od = maxOf(documents, "doc_id")
    write(rep(documents)
      .withColumn("doc_id", col("doc_id") + col("k") * od)
      .withColumn("text",
        translate_dyn(col("text"), lit(froms),
          element_at(tos, col("k").cast("int") + 1)))
      .drop("k"), "documents")

    val embeddings = Tables.embeddings(spark, src)
    val ov = maxOf(embeddings, "vec_id")
    write(rep(embeddings)
      .withColumn("vec_id", col("vec_id") + col("k") * ov)
      .withColumn("embedding",
        expr("""transform(embedding, (x, i) ->
                  CASE WHEN k = 0 OR pmod(hash(k, i), 2) = 0
                       THEN x ELSE -x END)"""))
      .drop("k"), "embeddings")

    spark.stop()
  }

  /** functions.translate takes literal match/replace strings only; the
    * per-copy rotation needs a column-valued replace, so go through
    * the SQL translate expression builder which accepts any expression.
    */
  private def translate_dyn(src: org.apache.spark.sql.Column,
                            from: org.apache.spark.sql.Column,
                            to: org.apache.spark.sql.Column) =
    call_function("translate", src, from, to)
}
