package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{DenseId, KgOps}
import graft.statements.Encode

/** [[graft.ops.DenseId.firstSeen]], the first-appearance step of the x,
  * entity and mention dictionaries, against the `min(struct(d, p))` it
  * replaced, kept here as the oracle. The inputs hold a negative d, d at
  * and above 2^31 (where `withDenseIdProbed` takes its range-exchange
  * fallback), the long extremes, p at 2^32 - 1 and ties on d whose
  * occurrences sit in different partitions. */
class FirstSeenSpec extends AnyFunSuite {

  private lazy val spark =
    org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .appName("first-seen-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  /** The struct-min first-seen the dictionaries used to take: (key, `__d`,
    * `__p`) with the least (d, p) per key. */
  private def structFirstSeen(occ: DataFrame, key: Column, d: Column, p: Column): DataFrame = {
    val fs = occ.groupBy(key)
      .agg(min(struct(d.cast(LongType).as("d"), p.cast(LongType).as("p"))).as("fs"))
    fs.select(col(fs.columns.head), col("fs.d").as("__d"), col("fs.p").as("__p"))
  }

  /** `rows` in four input partitions, each slice a contiguous run, so rows
    * placed at the two ends of the list land in different partitions. */
  private def frame(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)

  private val P32 = (1L << 32) - 1
  private val EdgeDs = Seq(Long.MinValue, -(1L << 40), -5L, -1L, 0L, 1L,
    (1L << 31) - 1, 1L << 31, 3000000000L, 1L << 40, Long.MaxValue)

  /** (key, d, p) occurrences: random ones over `ds` plus, per key, a tie
    * on d at the head and tail of the list (different partitions). */
  private def occurrences(ds: Seq[Long], maxP: Long, seed: Int): Seq[(String, Long, Long)] = {
    val rng = new scala.util.Random(seed)
    def p() = if (rng.nextInt(4) == 0) maxP else (rng.nextLong() & Long.MaxValue) % (maxP + 1)
    val random = Seq.fill(300)((s"k${rng.nextInt(40)}", ds(rng.nextInt(ds.length)), p()))
    val ties = (0 until 8).map(k => (s"t$k", ds(k % ds.length), p()))
    ties ++ rng.shuffle(random) ++ ties.map { case (k, d, q) => (k, d, maxP - q) }
  }

  private def ids(dict: DataFrame): Map[String, Long] =
    dict.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  private def rankOf(firstSeen: DataFrame): Map[String, Long] =
    ids(DenseId.withDenseIdProbed(firstSeen, "id", Seq("__d", "__p"))
      .select(col(firstSeen.columns.head), col("id")))

  test("firstSeen equals the struct min, p at 2^32 - 1 and every long d included") {
    val schema = StructType(Seq(
      StructField("key", StringType), StructField("d", LongType), StructField("p", LongType)))
    val occ = frame(schema, occurrences(EdgeDs, P32, 1).map { case (k, d, p) => Row(k, d, p) })
    val got = DenseId.firstSeen(occ, col("key"), col("d"), col("p"))
    assert(got.columns.toSeq == Seq("key", "__d", "__p"))
    assert(got.schema("__d").dataType == LongType && got.schema("__p").dataType == LongType)
    val want = structFirstSeen(occ, col("key"), col("d"), col("p")).collect().toSet
    assert(got.collect().toSet == want)
    assert(want.exists(_.getLong(2) == P32) && want.exists(_.getLong(1) < 0) &&
      want.exists(_.getLong(1) >= (1L << 31)))
  }

  // (docOrd, pairOrd) over every long docOrd, or within the probe's 31 bits
  private val docOrds = Seq("wide" -> EdgeDs, "narrow" -> Seq(0L, 1L, 2L, 7L, (1L << 31) - 1))

  private def statements(ds: Seq[Long], seed: Int): DataFrame = {
    val schema = StructType(Seq(
      StructField("docOrd", LongType, nullable = false),
      StructField("pairOrd", IntegerType, nullable = false),
      StructField("x_text", StringType), StructField("e1", StringType),
      StructField("e2", StringType)))
    val rng = new scala.util.Random(seed)
    // one statement per (docOrd, pairOrd), as built: first-seen positions
    // are then distinct across keys, the total order the ranks need
    frame(schema, occurrences(ds, Int.MaxValue, seed).distinctBy(o => (o._2, o._3)).map { case (k, d, p) =>
      Row(d, p.toInt, k, s"e${rng.nextInt(12)}", s"e${rng.nextInt(12)}")
    })
  }

  for ((name, ds) <- docOrds; forced <- Seq(false, true)) {
    def run[A](body: => A): A = if (forced) Regime.forcingDistributed(body) else body

    test(s"x, entity and mention dictionaries assign the struct-min ids ($name d, forced=$forced)") {
      val st = statements(ds, 2)
      val xKey = coalesce(col("x_text"), lit("")).as("x_text")
      val x = run(ids(Encode.xDict(DenseId.firstSeen(st, xKey, col("docOrd"), col("pairOrd")))))
      assert(x == rankOf(structFirstSeen(st, xKey, col("docOrd"), col("pairOrd"))))
      assert(x.values.toSeq.sorted == x.values.toSeq.indices.map(_.toLong))

      // e1 before e2 within a row: the (docOrd, pairOrd, slot) struct,
      // ranked on (docOrd, pairOrd*2 + slot); pairOrd Int.MaxValue in
      // slot 1 is p = 2^32 - 1
      val e = run(ids(Encode.eDict(st)))
      val eOcc = st.select(col("e1").as("e_text"), struct(col("docOrd"), col("pairOrd"), lit(0).as("slot")).as("pos"))
        .unionAll(st.select(col("e2").as("e_text"), struct(col("docOrd"), col("pairOrd"), lit(1).as("slot")).as("pos")))
      val eFirst = eOcc.groupBy(col("e_text")).agg(min(col("pos")).as("fs"))
        .select(col("e_text"), col("fs.docOrd").as("__d"),
          (col("fs.pairOrd").cast("long") * 2 + col("fs.slot")).as("__p"))
      assert(e == rankOf(eFirst))

      val m = st.select(col("docOrd").as("doc_id"), col("e1").as("mention"), col("pairOrd").as("pos"))
      val mention = run(ids(KgOps.dictEncode(m)))
      assert(mention == rankOf(structFirstSeen(m, col("mention"), col("doc_id"), col("pos"))))
    }
  }
}
