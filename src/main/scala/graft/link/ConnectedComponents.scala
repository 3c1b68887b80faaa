package graft.link

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Persist, Regime}

/** Connected components over the mention/similarity graph — iterative
  * DataFrame min-label propagation (alternating join + min-aggregate until
  * fixpoint), the GraphFrames-free formulation from SURVEY.md §4. Each
  * iteration localCheckpoints to cut lineage; convergence is detected with
  * a cheap aggregate (sum of labels is monotonically non-increasing).
  *
  * Iterations are O(graph diameter); entity-surface similarity graphs have
  * tiny diameters (hubs), so this converges in a handful of rounds even at
  * web scale. Skewed hub nodes are handled by the hash-partitioned
  * groupBy's partial aggregation.
  */
object ConnectedComponents {

  /** @param edges (src: long, dst: long) undirected
    * @return (node: long, component: long) — component = min node id
    *
    * Two regimes (`Regime.collectUpTo` at `Regime.MaxDriverPairs`): a
    * dimension-sized graph (entity/cluster graphs always are) finishes in
    * a driver [[UnionFind]] instead of paying ~2s of job overhead per
    * min-propagation round; above the budget the iterative distributed
    * algorithm runs. The symmetric edges are cached for the probe and the
    * rounds ([[Persist.within]]); neither the LocalRelation nor the
    * eagerly localCheckpointed labels read them after release. */
  def run(spark: SparkSession, edges: DataFrame, maxIter: Int = 20): DataFrame = {
    import spark.implicits._
    val sym = edges
      .select(col("src").cast("long"), col("dst").cast("long"))
      .unionAll(edges.select(col("dst").cast("long").as("src"), col("src").cast("long").as("dst")))
      .distinct()
    Persist.within(sym) {
      Regime.collectUpTo(sym.as[(Long, Long)], Regime.MaxDriverPairs) match {
        case Some(es) => smallGraph(spark, es)
        case None => propagate(sym, maxIter)
      }
    }
  }

  /** `nodes` with a `labelCol` column: the component of its `key` in the
    * graph of `edges`, or the key itself for a node on no edge (the
    * components left-joined on `key`, then coalesced to self). */
  def labelNodes(
      spark: SparkSession,
      edges: DataFrame,
      nodes: DataFrame,
      key: String,
      labelCol: String): DataFrame =
    nodes
      .join(run(spark, edges).withColumnRenamed("node", key), Seq(key), "left")
      .withColumn(labelCol, coalesce(col("component"), col(key)))

  /** The iterative distributed algorithm over the symmetric edge set. */
  private def propagate(sym: DataFrame, maxIter: Int): DataFrame = {
    var labels = sym
      .select(col("src").as("node"))
      .distinct()
      .withColumn("component", col("node"))
      .localCheckpoint(true)

    // exact: labels are arbitrary longs (hash ids), whose long sum
    // overflows; a decimal(30, 0) sum holds ~10^11 of them
    def labelSum(df: DataFrame): BigDecimal = {
      val v = df.agg(sum(col("component").cast("decimal(20,0)"))).collect()(0)
      if (v.isNullAt(0)) BigDecimal(0) else BigDecimal(v.getDecimal(0))
    }

    var converged = labels.isEmpty
    var iter = 0
    var prevSum = labelSum(labels)

    while (!converged && iter < maxIter) {
      // candidate labels: own label + min neighbor label
      val viaNeighbors = sym
        .join(labels.withColumnRenamed("node", "dst").withColumnRenamed("component", "nbr_comp"), Seq("dst"))
        .select(col("src").as("node"), col("nbr_comp").as("component"))
      val propagated = labels
        .unionAll(viaNeighbors)
        .groupBy("node")
        .agg(min("component").as("component"))
      // pointer jumping (path halving): additionally re-label through the
      // label's own label, so the min travels ~2^k hops by round k — a
      // diameter-D chain converges in O(log D) rounds instead of O(D).
      // (One-hop-only propagation silently hit maxIter on a 30-chain and
      // returned stale labels — caught by the Round6 parity spec.)
      val next = propagated
        .join(
          propagated.select(
            col("node").as("component"), col("component").as("__cc")),
          Seq("component"), "left")
        .select(col("node"), coalesce(col("__cc"), col("component")).as("component"))
        .localCheckpoint(true)
      val sumNow = labelSum(next)
      converged = sumNow == prevSum
      prevSum = sumNow
      labels = next
      iter += 1
    }
    // a silently-stale labeling is a correctness bug, not a perf trade:
    // with path halving 20 rounds cover diameters ~2^20, so hitting the
    // cap means something is genuinely wrong
    require(converged, s"connected components did not converge in $maxIter rounds")
    labels
  }

  /** Driver union-find for dimension-sized graphs; component = min member. */
  private def smallGraph(
      spark: SparkSession,
      es: Array[(Long, Long)]): DataFrame = {
    import spark.implicits._
    val uf = new UnionFind
    es.foreach { case (a, b) => uf.union(a, b) }
    uf.ids.toSeq.map(n => (n, uf.find(n))).toDF("node", "component")
  }
}

/** Driver union-find over long ids. Every set's root is its minimum id, so
  * `find` gives the same min-id label the distributed propagation
  * computes; an id never passed to `union` is its own root. */
final class UnionFind {
  private val parent = scala.collection.mutable.HashMap.empty[Long, Long]

  def find(x: Long): Long = {
    var r = x
    while (parent.getOrElse(r, r) != r) r = parent(r)
    var c = x
    while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
    r
  }

  def union(a: Long, b: Long): Unit = {
    parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
    val (ra, rb) = (find(a), find(b))
    if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
  }

  /** Every id passed to `union`. */
  def ids: Iterable[Long] = parent.keys
}
