package graft.statements

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{DenseId, Salting}

/** Dictionary encoding (exact-surface-form canonicalization), pair-frequency
  * filtering and entity-pair pools — distributed re-expression of
  * `mtb_data_loader.py:427-561` (§2.9/2.10) and `:337-389` (§1.8/2.16).
  *
  * Determinism: the reference assigns dense ids in single-threaded
  * first-appearance order. Distributed first-appearance = the least
  * (docOrd, pairOrd[*2 + slot]) per key, one hash aggregate of the packed
  * pair ([[DenseId.firstSeen]]) — stable under any partitioning (SURVEY.md
  * §7.5; never monotonically_increasing_id). The ranking runs over the
  * DISTINCT keys only (dimension table, orders of magnitude smaller than
  * the fact table), which is the standard dense-id idiom; at 100 TB the
  * same plan holds because dims stay ≪ facts.
  *
  * Skew: hot surface forms ("acme corp") skew the dictionary joins — the
  * dims are broadcast when small; otherwise AQE skew-join splitting handles
  * the hot hash buckets (enabled in GraftSession).
  */
object Encode {

  /** x dictionary: window text -> dense id, first-appearance order. The
    * window-text dictionary is near-fact-cardinality (windows are mostly
    * unique), so the dense-id assignment must NOT be a global ranking
    * window: ids come from DenseId's bounded-driver rank table — no range
    * exchange of the window text; above the driver bound the classic
    * range-partitioned path runs.
    *
    * `xFirst` is the [[DenseId.firstSeen]] table of the statements' window
    * texts over (docOrd, pairOrd), held by the caller: the rank probe runs
    * when this is CALLED (callers that time stages construct inside the
    * timed window, MtbDataset.build's thunk probe) and populates it, and
    * the returned id attach is lazy and reads it again. The dictionary is
    * near-fact-sized and most callers never read it, so it is not
    * materialized here. */
  def xDict(xFirst: DataFrame): DataFrame =
    DenseId
      .withDenseIdProbed(xFirst, "x_id", Seq("__d", "__p"))
      .select(col("x_text"), col("x_id"))

  /** Entity dictionary: e1 slot seen before e2 slot within a row. The
    * three-field first-seen order (docOrd, pairOrd, slot) packs losslessly
    * into the [[DenseId.firstSeen]] (d, p) = (docOrd, pairOrd*2 + slot);
    * the rank probe's 31-bit guard falls back to the range exchange if
    * pairOrd ever exceeds 2^30. The dimension-sized first-seen table is
    * cached across the probe and attach passes, and the materialized
    * dictionary is what the caller gets ([[graft.Persist.within]]). */
  def eDict(st: DataFrame): DataFrame = {
    val eOcc = st.select(col("e1").as("e_text"), col("docOrd"), (col("pairOrd").cast("long") * 2).as("p"))
      .unionAll(st.select(col("e2").as("e_text"), col("docOrd"), (col("pairOrd").cast("long") * 2 + 1).as("p")))
    val eFirst = DenseId.firstSeen(eOcc, col("e_text"), col("docOrd"), col("p"))
    graft.Persist.within(eFirst) {
      DenseId
        .withDenseIdProbed(eFirst, "e_id", Seq("__d", "__p"))
        .select(col("e_text"), col("e_id"))
    }
  }

  /** Facts with entity ids attached, carrying the statements' encoded
    * columns.
    *
    * The x dictionary is NOT joined back onto the facts: no downstream
    * consumer reads a per-row x_id (the reference keeps D[x -> id] as a
    * side map too), and the join was a full-fact sort-merge on long
    * window-text keys — the single widest shuffle of the chain. Pruning
    * semi-joins the dim on the facts' x_text instead (pruneDims).
    * The ENTITY dictionary is dimension-sized (distinct surface forms),
    * so its two joins broadcast explicitly — DenseId output carries no
    * stats, and without the hint AQE plans fact-shuffling sort-merges. */
  def encodeFact(st: DataFrame, eDim: DataFrame): DataFrame =
    st
      .join(broadcast(
        eDim.withColumnRenamed("e_text", "e1").withColumnRenamed("e_id", "e1_id")), Seq("e1"))
      .join(broadcast(
        eDim.withColumnRenamed("e_text", "e2").withColumnRenamed("e_id", "e2_id")), Seq("e2"))
      .select(
        col("docOrd"), col("pairOrd"), col("e1_id"), col("e2_id"), col("e1"), col("e2"),
        col("x_text"), col("token_ids"), col("e1_span"), col("e2_span"))

  /** Pair-frequency filter (`_remove_low_freq_combs`, min_count>=2 at build;
    * min_pool_size at preprocess): the rows of `fact` whose `keys` occur at
    * least `minCount` times in `counted` (the fact itself, or a cheaper
    * frame with the same key groups). Regime split: up to
    * `Regime.MaxBroadcastPairs` surviving keys, the collected keep set IS
    * the broadcast (a LocalRelation, not a re-run aggregation) and the fact
    * side never exchanges; above the budget the distributed semi join's
    * shuffle is the right shape. */
  def freqFilter(fact: DataFrame, counted: DataFrame, keys: Seq[String], minCount: Int): DataFrame = {
    if (minCount <= 1) return fact
    val keep = counted
      .groupBy(keys.map(col): _*)
      .count()
      .filter(col("count") >= minCount)
      .select(keys.map(col): _*)
    graft.Regime.collectUpTo(keep, graft.Regime.MaxBroadcastPairs) match {
      case Some(local) =>
        val localDf = fact.sparkSession.createDataFrame(java.util.Arrays.asList(local: _*), keep.schema)
        fact.join(broadcast(localDf), keys, "left_semi")
      case None => fact.join(keep, keys, "left_semi")
    }
  }

  /** Prune dimension tables to surviving fact keys (map cleanup,
    * `mtb_data_loader.py:541-559`) — semi joins. x pruning keys on the
    * window text (facts carry no x_id, see encodeFact). */
  def pruneDims(fact: DataFrame, xDim: DataFrame, eDim: DataFrame): (DataFrame, DataFrame) = {
    val xKeep = xDim.join(fact.select(col("x_text")).distinct(), Seq("x_text"), "left_semi")
    val eKeys = fact.select(col("e1_id").as("e_id"))
      .unionAll(fact.select(col("e2_id").as("e_id"))).distinct()
    val eKeep = eDim.join(eKeys, Seq("e_id"), "left_semi")
    (xKeep, eKeep)
  }

  /** Dense relation ids in (docOrd, pairOrd) order — the reference's
    * np.arange(len(data)) after filtering (`mtb_data_loader.py:249`).
    * Runs over the FACT table, so a global ranking window would move every
    * statement through a single task. The bounded-driver-ranking probe
    * assigns ids from ONE column-pruned key pass when the fact count is
    * within the driver bound (the fat token rows never exchange);
    * otherwise DenseId's range exchange runs — ids are bit-identical
    * either way. */
  def withRelationIds(fact: DataFrame): DataFrame =
    DenseId.withDenseIdProbed(fact, "relation_id", Seq("docOrd", "pairOrd"))

  /** Entity-pair pools + deterministic train/validation split
    * (`generate_entities_pools` + `transform_data`; the reference's
    * np.random>0.75 becomes a seeded key-derived hash — SURVEY.md §2.16). */
  def pools(factWithIds: DataFrame, seed: Long = 42L, salt: Int = 16): DataFrame =
    Salting.saltedCollectList(factWithIds, Seq("e1_id", "e2_id"), "relation_id", salt)
      .withColumn(
        "set",
        // PortableRng (not xxhash64) so the DuckDB oracle replays the split
        when(
          PortableRng.mixCol(PortableRng.mixCol(lit(seed), col("e1_id")), col("e2_id")) % 100 >= 75,
          "validation")
          .otherwise("train"))

  /** Per-entity pools (e1_pool / e2_pool re-groupings, §1.8), derived
    * from the PAIR pools instead of the fact table: the pair pools
    * partition the fact rows by (e1_id, e2_id), so re-grouping their id
    * lists by one side yields the identical per-entity multiset, and
    * sort_array restores the exact order the fact-table grouping
    * produces. The input is the aggregated pool table
    * (one row per pair), orders of magnitude smaller than the statements
    * — at corpus scale this replaces a second full fact-table shuffle per
    * side with a dimension-sized aggregation. No salt phase: the inputs
    * are pre-aggregated partial lists already, exactly what the second
    * phase of `Salting.saltedCollectList` consumes. */
  def entityPoolFromPools(pools: DataFrame, side: String): DataFrame =
    pools
      .groupBy(col(s"${side}_id"))
      .agg(sort_array(flatten(collect_list(col("relation_ids")))).as("relation_ids"))
}
