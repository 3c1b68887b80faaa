package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.fixtures.FixtureVocab
import graft.ops.Salting
import graft.schema.Triple
import graft.triples.TripleSink

class SinkSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("sink-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("triples round-trip through the partitioned sink") {
    import spark.implicits._
    val triples = Seq(
      Triple("a", "Cause-Effect(e1,e2)", "b", "u1"),
      Triple("c", "Cause-Effect(e1,e2)", "d", "u2"),
      Triple("c", "Cause-Effect(e1,e2)", "d", "u2"),
      Triple("e", "Other", "f", "u3")).toDS()
    val dir = Files.createTempDirectory("graft_sink").toString + "/triples"
    TripleSink.write(triples, dir)
    def sorted(ts: Array[Triple]) = ts.toSeq.sortBy(t => (t.subj, t.pred, t.obj, t.url))
    assert(sorted(TripleSink.read(spark, dir).collect()) == sorted(triples.collect()))
    // hive partitioning by predicate is physically present
    val parts = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("pred_part="))
    assert(parts.length == 2)
  }

  test("predPart equals the regex replacement of the partition label") {
    import spark.implicits._
    val preds: Seq[String] =
      FixtureVocab.Labels ++ Seq("", "___", "--a--", "a_b", "\u00e9", "x\ud83d\ude00y", null)
    val viaSpark = preds.toDF("pred")
      .select(col("pred"), regexp_replace(col("pred"), "[^A-Za-z0-9]+", "_"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(viaSpark.size == preds.size)
    preds.foreach { p =>
      val viaJava = if (p == null) null else p.replaceAll("[^A-Za-z0-9]+", "_")
      assert(TripleSink.predPart(p) == viaJava, s"java regex differs on '$p'")
      assert(TripleSink.predPart(p) == viaSpark(p), s"spark regexp_replace differs on '$p'")
    }
  }

  test("the pred_part expression equals predPart on every label, null and a multi-byte fuzz") {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    import spark.implicits._
    import graft.triples.PredPartExpr
    assert(FixtureVocab.Labels.size == 19)
    val alphabet = "aZ09_-( ),.\u00e9\u4e2d\ud83d\ude00"
    val rng = new scala.util.Random(7)
    val fuzz = Seq.fill(2000) {
      val sb = new StringBuilder
      (0 until rng.nextInt(12)).foreach { _ =>
        // the emoji is one surrogate pair: append both halves or neither
        val i = rng.nextInt(alphabet.length - 1)
        sb.append(if (i == alphabet.length - 2) alphabet.substring(i) else alphabet.charAt(i).toString)
      }
      sb.toString
    }
    val preds: Seq[String] = FixtureVocab.Labels ++ fuzz :+ null
    // generated code (an RDD scan, so the projection is not folded into a
    // local relation and evaluated interpreted)
    val viaCodegen = spark.sparkContext.parallelize(preds, 2).toDF("pred")
      .select(col("pred"), GraftBridge.column(PredPartExpr(GraftBridge.expression(col("pred")))))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(viaCodegen.size == preds.distinct.size)
    preds.foreach { p =>
      assert(viaCodegen(p) == TripleSink.predPart(p), s"codegen differs on '$p'")
      val interpreted = PredPartExpr(Literal.create(p, org.apache.spark.sql.types.StringType)).eval()
      assert(Option(interpreted).map(_.toString).orNull == TripleSink.predPart(p), s"eval differs on '$p'")
      if (p != null)
        assert(TripleSink.predPartUtf8(UTF8String.fromString(p)).toString == TripleSink.predPart(p))
    }
  }

  test("sink file count follows data size: a hot predicate splits, small ones stay one file") {
    import org.apache.spark.sql.Dataset
    val s = spark.newSession()
    import s.implicits._
    s.conf.set("spark.sql.adaptive.enabled", "true")
    def filesPerPart(triples: Dataset[Triple]): Map[String, Int] = {
      val dir = Files.createTempDirectory("graft_sink_files").toString + "/triples"
      TripleSink.write(triples, dir)
      new java.io.File(dir).listFiles().filter(_.getName.startsWith("pred_part=")).map { d =>
        d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))
      }.toMap
    }
    val small = s.range(0, 400, 1, 8)
      .map(i => Triple(s"s$i", FixtureVocab.Labels((i % 4).toInt), s"o$i", s"u$i"))
    val oneEach = FixtureVocab.Labels.take(4).map(l => s"pred_part=${TripleSink.predPart(l)}" -> 1).toMap
    assert(filesPerPart(small) == oneEach)

    val hot = s.range(0, 20000, 1, 8).map(i => Triple(s"s$i", "Other", s"o$i", s"u$i"))
      .union(small)
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16k")
    val files = filesPerPart(hot)
    assert(files("pred_part=Other") > 1, s"hot predicate was not split: $files")
  }

  /** Salted count: groupBy(keys).count with the hot-key reducer split into
    * `salt` sub-keys, the two-phase shape `Salting.saltedCollectList`
    * uses for lists. */
  private def saltedCount(df: DataFrame, keys: Seq[String], salt: Int): DataFrame = {
    val saltCol = pmod(xxhash64(col(keys.head), monotonically_increasing_id()), lit(salt))
    df.withColumn("__salt", saltCol)
      .groupBy((keys.map(col) :+ col("__salt")): _*)
      .agg(count(lit(1)).as("__partial"))
      .groupBy(keys.map(col): _*)
      .agg(sum(col("__partial")).as("count"))
  }

  test("salted count equals plain count under hot-key skew") {
    import spark.implicits._
    val rows = (1 to 10000).map(i => (if (i % 5 == 0) "hot" else s"k${i % 97}", i))
    val df = rows.toDF("k", "v")
    val salted = saltedCount(df, Seq("k"), salt = 8)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val plain = df.groupBy("k").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == plain)
    assert(salted("hot") == 2000)
  }

  test("salted collect_list gathers identical multisets") {
    import spark.implicits._
    val df = (1 to 1000).map(i => ("k" + (i % 3), i.toLong)).toDF("k", "v")
    val salted = Salting.saltedCollectList(df, Seq("k"), "v", salt = 4)
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).sorted).toMap
    val plain = df.groupBy("k")
      .agg(org.apache.spark.sql.functions.collect_list("v").as("vs"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).sorted).toMap
    assert(salted == plain)
  }
}
