package graft.link

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Persist, Regime}

/** Entity canonicalization: MinHash/LSH blocking → similarity edges →
  * connected components → canonical id/surface per cluster (north_star
  * "entity linking with MinHash/LSH candidate blocking plus
  * canonicalization via connected-components over the mention graph").
  *
  * Canonical surface = the surface of the lowest first-appearance id in the
  * cluster, so output is deterministic (never depends on partitioning). */
object EntityLinker {

  /** @param eDim entity dimension (e_id: long, e_text: string)
    * @return (e_id, e_text, canon_id, canon_text)
    *
    * Two regimes, same output: the distributed LSH+CC chain launches ~a
    * dozen jobs (signature/bucket/verify, CC probe, two link joins) whose
    * fixed overhead dwarfs the work when the entity dim is small — which
    * it usually is, since dims ≪ facts even at web scale. Up to
    * `Regime.MaxDriverRows` surfaces (one `Regime.collectUpTo` job) the
    * whole chain runs on the driver with the IDENTICAL hash/band/cap/verify
    * constants, and the result comes back as a LocalRelation that
    * downstream joins broadcast for free. Above it, the distributed path
    * runs over the cached dim and its result is materialized before the
    * dim is released ([[Persist.within]]). */
  def canonicalize(
      spark: SparkSession,
      eDimIn: DataFrame,
      threshold: Double = 0.7,
      numHashes: Int = 48,
      bands: Int = 16): DataFrame = {
    import spark.implicits._
    val dimSlim = eDimIn.select(col("e_id").cast("long"), col("e_text")).as[(Long, String)]
    val local = Regime.collectUpTo(dimSlim, Regime.MaxDriverRows)
    if (local.isDefined) return localCanonicalize(spark, local.get, threshold, numHashes, bands)

    // five consumers (LSH sigs + two text joins + comp join + canon agg);
    // the dim is dimension-sized by construction, so it is cached
    Persist.within(eDimIn) {
      val edges = MinHashLSH
        .similarPairs(spark, eDimIn, "e_id", "e_text",
          numHashes = numHashes, bands = bands, threshold = threshold)
        .select(col("id_a").as("src"), col("id_b").as("dst"))

      // entities untouched by any edge are their own canonical form
      val withComp = ConnectedComponents.labelNodes(spark, edges, eDimIn, "e_id", "component")

      val canonSurface = withComp
        .groupBy(col("component"))
        .agg(min(struct(col("e_id"), col("e_text"))).as("c"))
        .select(
          col("component"),
          col("c.e_id").as("canon_id"),
          col("c.e_text").as("canon_text"))

      withComp
        .join(canonSurface, Seq("component"))
        .select(col("e_id"), col("e_text"), col("canon_id"), col("canon_text"))
    }
  }

  /** Driver-side mirror of the distributed chain for dimension-sized
    * entity tables: char shingles, [[MinHashLSH.localPairs]] (the
    * distributed LSH's mirror) and min-id components, so the canonical
    * surface choice and the output equal the distributed path's by
    * construction. */
  private def localCanonicalize(
      spark: SparkSession,
      dim: Array[(Long, String)],
      threshold: Double,
      numHashes: Int,
      bands: Int): DataFrame = {
    import spark.implicits._
    val shinglesById = dim.map { case (id, text) =>
      id -> MinHashLSH.shingles(text, MinHashLSH.ShingleK) }.toMap
    val uf = new UnionFind
    MinHashLSH.localPairs(shinglesById, numHashes, bands, threshold)
      .foreach { case (a, b) => uf.union(a, b) }
    val textById = dim.toMap
    dim.toSeq.map { case (id, text) =>
      val canon = uf.find(id) // untouched nodes are their own canonical form
      (id, text, canon, textById(canon))
    }.toDF("e_id", "e_text", "canon_id", "canon_text")
  }

  /** Rewrite triples to canonical entity surfaces. */
  def canonicalizeTriples(
      triples: DataFrame,
      linked: DataFrame): DataFrame = {
    val bySurface = linked.select(col("e_text"), col("canon_text")).distinct()
    triples
      .join(bySurface.withColumnRenamed("e_text", "subj"), Seq("subj"), "left")
      .withColumn("subj_c", coalesce(col("canon_text"), col("subj")))
      .drop("canon_text")
      .join(bySurface.withColumnRenamed("e_text", "obj"), Seq("obj"), "left")
      .withColumn("obj_c", coalesce(col("canon_text"), col("obj")))
      .select(
        col("subj_c").as("subj"),
        col("pred"),
        col("obj_c").as("obj"),
        col("url"))
  }
}
