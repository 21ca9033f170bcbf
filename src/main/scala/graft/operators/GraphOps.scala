package graft.operators

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components via local contraction, one
  * shuffle per round, exact fixpoint (Łącki, Mirrokni, Włodarczyk:
  * "Connected Components at Scale via Local Contractions", 2018; the
  * star-contraction family of Kiveris, Lattanzi, Mirrokni, Rastogi,
  * Vassilvitskii: "Connected Components in MapReduce and Beyond",
  * SoCC 2014). A round hash-partitions every edge to BOTH of its
  * endpoints in a single shuffle; each partition then runs a local
  * union-find and points every node it saw at its local component
  * minimum. Because a node's partition holds all of its edges, a round
  * collapses whole local neighbourhoods at once, so the round count
  * does not depend on component diameter (chain-shaped template-spam
  * components converge in a handful of rounds) and each round is one
  * shuffle map stage plus one result stage — no per-round SQL plan for
  * AQE to re-optimize, no driver-side graph.
  */
object GraphOps {

  /** `labels`: (node BIGINT, label BIGINT) for every node incident to
    * an edge, label = component minimum. Isolated nodes never appear —
    * callers coalesce to the node id. `rounds` = contraction rounds
    * actually executed, counting the one that found the fixpoint
    * (spec-asserted ≪ diameter on chains).
    */
  final case class CcResult(labels: DataFrame, rounds: Int)

  /** One partition's round output: canonical star edges a → b (a > b,
    * b = a's local component minimum), and whether they differ from
    * the edge set the partition received.
    */
  private final case class Contracted(a: Array[Long], b: Array[Long], changed: Boolean)

  /** Local contraction of one partition's edges (each arriving as
    * (u, v) in either direction, possibly duplicated). Union-find over
    * the distinct nodes in ascending order, always linking the larger
    * root under the smaller, so every root is its component's minimum.
    *
    * The output equals the input edge set iff every input edge already
    * points its larger end at that end's root: then each input edge is
    * an output edge, and every non-root node is the larger end of some
    * input edge (were it only ever the smaller end b of an edge (a, b),
    * b = root(a) would make it a root), so each output edge is an input
    * edge.
    */
  private def contract(es: Iterator[(Long, Long)]): Contracted = {
    val ua = scala.collection.mutable.ArrayBuilder.make[Long]
    val ub = scala.collection.mutable.ArrayBuilder.make[Long]
    es.foreach { case (u, v) => ua += math.max(u, v); ub += math.min(u, v) }
    val ea = ua.result(); val eb = ub.result()
    val ends = ea ++ eb
    java.util.Arrays.sort(ends)
    var n = 0
    ends.indices.foreach { i =>
      if (n == 0 || ends(i) != ends(n - 1)) { ends(n) = ends(i); n += 1 }
    }
    val nodes = java.util.Arrays.copyOf(ends, n)
    val parent = Array.range(0, n)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val nx = parent(y); parent(y) = r; y = nx }
      r
    }
    val ia = ea.map(java.util.Arrays.binarySearch(nodes, _))
    val ib = eb.map(java.util.Arrays.binarySearch(nodes, _))
    ia.indices.foreach { i =>
      val (ra, rb) = (find(ia(i)), find(ib(i)))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val changed = ia.indices.exists(i => nodes(find(ia(i))) != eb(i))
    val moved = Array.range(0, n).filter(i => find(i) != i)
    Contracted(moved.map(nodes(_)), moved.map(i => nodes(find(i))), changed)
  }

  /** Run local contraction to its fixpoint. `edges` needs columns
    * (a, b); direction, duplicates, self-loops and NULL endpoints are
    * normalized here. The stop test is exact: a round in which no
    * partition changed its edge set leaves no node with two targets
    * (its own partition would have merged them) and no target with a
    * target of its own (the target's partition would have re-pointed
    * the pair), so every component is a star centred on its minimum
    * and each non-root node's single edge IS its label. Partition
    * count = `spark.sql.shuffle.partitions`. `maxRounds` is a
    * loud-failure guard: a trip means a bug, not a big input.
    */
  def starContract(edges: DataFrame, maxRounds: Int = 60): CcResult = {
    val spark = edges.sparkSession
    val part = new HashPartitioner(spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val input: RDD[(Long, Long)] = edges
      .select(col("a").cast("long"), col("b").cast("long"))
      .where(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .rdd.map(r => (r.getLong(0), r.getLong(1)))
    def round(in: RDD[(Long, Long)]): RDD[Contracted] =
      in.flatMap { case (u, v) => Iterator((u, v), (v, u)) }
        .partitionBy(part)
        .mapPartitions(it => Iterator(contract(it)))
        .localCheckpoint()
    var cur: RDD[Contracted] = null
    var rounds = 0
    var changed = true
    while (changed) {
      rounds += 1
      if (rounds > maxRounds)
        throw new IllegalStateException(
          s"starContract: no fixpoint after $maxRounds rounds — " +
            "suspect an edge-generation bug")
      // one job per round: it runs the shuffle, stores the checkpoint
      // blocks and reads every partition's flag
      val next = round(if (cur == null) input
        else cur.flatMap(c => c.a.iterator.zip(c.b.iterator)))
      changed = next.map(_.changed).collect().contains(true)
      // the previous round's blocks are dead once `next` is stored (Spark
      // warns that they cannot be recomputed; nothing reads them again);
      // the last round stays, `labels` reads it lazily
      if (cur != null) cur.unpersist(blocking = false)
      cur = next
    }
    // at the fixpoint each non-root node's one edge sits in its own
    // hash partition: keep it there only, one label row per node
    val labels = cur.mapPartitionsWithIndex { (p, it) =>
      it.flatMap(c => c.a.iterator.zip(c.b.iterator))
        .filter { case (a, _) => part.getPartition(a) == p }
    }
    import spark.implicits._
    CcResult(labels.toDF("node", "label"), rounds)
  }
}
