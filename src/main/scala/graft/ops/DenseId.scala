package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.min
import org.apache.spark.sql.types.{DecimalType, LongType}

/** Dense contiguous ids 0..n-1 in a global sort order WITHOUT a
  * partition-less ranking window (which funnels every row through one task
  * — the classic `WindowExec: No Partition Defined` scale-killer).
  *
  * Two-phase plan: range-repartition on the order key, sort within
  * partitions, then enumerate with per-partition offsets (zipWithIndex
  * semantics: one lightweight count job whose shuffle output is reused by
  * the main job). The assigned id equals the row's rank in the global sort
  * order, so the result is deterministic regardless of the sampled range
  * boundaries — provided `orderCols` is a total order (unique keys), which
  * every call site guarantees (first-seen (d, p) / (docOrd, pairOrd)).
  *
  * At 100 TB this is the standard dense-id idiom: the widest shuffle is a
  * range exchange of the input itself; no stage sees more than one
  * partition's rows at a time.
  */
object DenseId {

  /** First appearance per key: over occurrence rows, (key, `__d`, `__p`),
    * the least (d, p) of the key's occurrences — the dictionaries'
    * first-seen order, which [[withDenseIdProbed]] then ranks. (d, p)
    * packs order-preservingly into one decimal(38,0), d·2^32 + p, exact
    * for every long d and every p in [0, 2^32), where all the callers' p
    * lie (pairOrd, pairOrd*2 + slot, token pos). `min` of it runs in a
    * hash aggregate; `min(struct(d, p))` plans a sort aggregate, which
    * sorts the keys on both sides of the exchange. NULL d or p never
    * occurs in the callers' rows (`min` would skip it). */
  def firstSeen(occ: DataFrame, key: Column, d: Column, p: Column): DataFrame = {
    val shift = 1L << 32
    val fs = occ.groupBy(key).agg(min(d.cast(DecimalType(38, 0)) * shift + p).as("__fs"))
    fs.selectExpr(s"`${fs.columns.head}`", s"(__fs - pmod(__fs, $shift)) div $shift AS __d",
      s"CAST(pmod(__fs, $shift) AS BIGINT) AS __p")
  }

  def withDenseId(df: DataFrame, idName: String, orderCols: Column*): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}

    val spark = df.sparkSession
    val numParts = spark.sessionState.conf.numShufflePartitions
    val sorted = df
      .repartitionByRange(numParts, orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
    val schema = sorted.schema.add(idName, LongType, nullable = false)
    // stay on InternalRow (no external-Row decode/re-encode: the fact-table
    // call site carries token arrays, and boxing them twice per row costs
    // more than the id assignment itself). zipWithIndex's count job reuses
    // the range exchange's shuffle output.
    val rdd = sorted.queryExecution.toRdd
      .zipWithIndex()
      .mapPartitions { it =>
        val idRow = new GenericInternalRow(1)
        val joined = new JoinedRow
        it.map { case (row, i) =>
          idRow.update(0, i)
          joined(row, idRow): InternalRow
        }
      }
    GraftBridge.internalDF(spark, rdd, schema)
  }

  /** Dense ids via a BOUNDED DRIVER RANKING regime: one column-pruned
    * pass collects only the key tuples — the fat payload (token arrays)
    * never moves — and, when the key count is within
    * `Regime.MaxDriverKeys` (the driver-memory/broadcast budget documented
    * in [[graft.Regime]]), the global rank is computed on the driver and
    * shipped back as a broadcast sorted-key table each executor
    * binary-searches. That removes the range exchange, its
    * RangePartitioner sample pass, the per-partition sort AND
    * zipWithIndex's offsets job: the one slim pass is the whole id
    * assignment. Above the budget (web-scale fact tables) it falls back
    * to withDenseId's range exchange — the wasted key pass is one pruned
    * scan, a rounding error against that fat exchange.
    *
    * The keys pack order-preservingly into one non-negative long: the
    * first key gets 31 bits and the others share the remaining 31, the
    * last taking the extra bit — (31, 31) for (docOrd, pairOrd) orders,
    * (31, 15, 16) for (docOrd, p1, p2) mention orders, where p1/p2 are
    * token positions inside one document. A NULL or out-of-range key, a
    * duplicate key tuple, or more keys than the budget falls back to the
    * classic range-exchange path.
    *
    * The assigned ids equal the row's rank in the global key order —
    * bit-identical to withDenseId (given unique key tuples, which every
    * call site guarantees). Requires a DETERMINISTIC input lineage (ours
    * are; the fact path is persisted): the key pass and the attach pass
    * must see the same key values. */
  def withDenseIdProbed(
      df: DataFrame,
      idName: String,
      keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
    import org.apache.spark.sql.functions.col

    require(keys.length >= 2 && keys.length <= 32, s"withDenseIdProbed needs 2 to 32 keys: $keys")
    val spark = df.sparkSession
    val n = keys.length
    val rest = 31 / (n - 1)
    val bits = Array.tabulate(n)(i =>
      if (i == 0) 31 else if (i < n - 1) rest else 31 - rest * (n - 2))
    def fallback = withDenseId(df, idName, keys.map(col): _*)

    // slim key pass: the keys packed into one long. Packing keeps the
    // driver side primitive: sorting 2.6M boxed (Long, Long) tuples
    // measured ~5 s single-threaded — a constant that lands on BOTH
    // scaling legs — where Arrays.parallelSort of packed longs is ~0.1 s.
    // A NULL key forces the classic-path fallback too (ok=false): reading
    // it as 0 would silently pack a valid key and assign a
    // wrong-but-plausible rank instead of withDenseId's NULLS-FIRST order.
    val keyed = df.select(keys.map(k => col(k).cast(LongType)): _*)
    val perPart = keyed.queryExecution.toRdd
      .mapPartitions { it =>
        val a = new scala.collection.mutable.ArrayBuilder.ofLong
        var ok = true
        it.foreach { r =>
          var packed = 0L
          var i = 0
          while (ok && i < n) {
            if (r.isNullAt(i)) ok = false
            else {
              val v = r.getLong(i)
              if (v < 0 || v >= (1L << bits(i))) ok = false
              else packed = (packed << bits(i)) | v
            }
            i += 1
          }
          if (ok) a += packed
        }
        Iterator.single((ok, a.result()))
      }
      .collect()
    val total = perPart.iterator.map(_._2.length.toLong).sum
    if (!perPart.forall(_._1) || total > graft.Regime.bound(graft.Regime.MaxDriverKeys)) return fallback

    // global rank = position in the sorted packed-key array. The sorted
    // array is broadcast and each executor binary-searches its own rows'
    // ranks — no positional alignment between passes is needed, so the
    // input lineage only has to be value-deterministic, not order-stable.
    val sortedKeys = new Array[Long](total.toInt)
    var off = 0
    perPart.foreach { case (_, a) =>
      System.arraycopy(a, 0, sortedKeys, off, a.length); off += a.length
    }
    java.util.Arrays.parallelSort(sortedKeys)
    // duplicate keys would alias to one rank via binary search (the
    // range-exchange path gives ties distinct arbitrary ranks instead) —
    // ranks are only well-defined under a total order, so fall back
    var d = 1
    while (d < sortedKeys.length && sortedKeys(d - 1) != sortedKeys(d)) d += 1
    if (d < sortedKeys.length) return fallback

    val bc = spark.sparkContext.broadcast(sortedKeys)
    val schema = df.schema.add(idName, LongType, nullable = false)
    val idx = keys.map(df.schema.fieldIndex).toArray
    val readers: Array[InternalRow => Long] = idx.map { j =>
      df.schema(j).dataType match {
        case LongType                               => (r: InternalRow) => r.getLong(j)
        case org.apache.spark.sql.types.IntegerType => (r: InternalRow) => r.getInt(j).toLong
        case org.apache.spark.sql.types.ShortType   => (r: InternalRow) => r.getShort(j).toLong
        case other =>
          throw new IllegalArgumentException(s"non-integral key column $other")
      }
    }
    val rdd = df.queryExecution.toRdd.mapPartitions { it =>
      val sorted = bc.value
      val idRow = new GenericInternalRow(1)
      val joined = new JoinedRow
      it.map { row =>
        var packed = 0L
        var i = 0
        while (i < n) {
          // the key pass saw no NULLs (it would have fallen back) — a NULL
          // here means the input lineage changed between passes
          require(!row.isNullAt(idx(i)),
            "NULL key in the attach pass after a null-free key pass — non-deterministic input lineage")
          packed = (packed << bits(i)) | readers(i)(row)
          i += 1
        }
        val rank = java.util.Arrays.binarySearch(sorted, packed)
        require(rank >= 0, "key tuple missing from the rank table — non-deterministic input lineage")
        idRow.update(0, rank.toLong)
        joined(row, idRow): InternalRow
      }
    }
    GraftBridge.internalDF(spark, rdd, schema)
  }
}
