package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{GraftSession, SparkEntry}
import graft.annotate.Gazetteer
import graft.eval.SemEval
import graft.fewrel.FewRel
import graft.fixtures.{Corpus, FewRelFixture, FixtureVocab, SemEvalFixture}
import graft.kernel.{ScoringKernel, StubKernel}
import graft.schema.WebPage
import graft.statements.MtbDataset
import graft.tokenize.{BertTokenizer, BertVocab, Vocab}
import graft.triples.{TriplePipeline, TripleSink}

/** Benchmark harness: runs one workload of the graft engine as a closed
  * loop with one client (one Spark job or query at a time), first at
  * local[nproc] and then at local[1], and writes the raw measurements —
  * set-up times, per-operation wall times and output digests, and with
  * tracing on also spans, stage metrics and per-layer counters — as one
  * JSON file. `perfbench/run.py` turns that file into the metrics.
  *
  * Arguments are `--key value` pairs; see [[Args]]. */
object Harness {

  final case class Args(
      workload: String,
      seed: BigInt,
      seconds: Double,
      trace: Boolean,
      out: String,
      work: String,
      cache: String,
      data: String,
      expected: String,
      golden: String,
      pages: Long,
      warmPages: Int,
      setups: Int,
      queries: Seq[String]) {
    /** First page id of the measured table: the seed picks one of
      * `PageWindows` windows of `pages` ids, so every seed, however large
      * or negative, gives ids whose timestamps stay in range. */
    def firstPage: Long = (seed mod PageWindows).toLong * pages
  }

  /** Number of distinct measured page tables the seeds map onto. */
  val PageWindows = BigInt(1000000)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(
      workload = get("workload"),
      seed = BigInt(get("seed")),
      seconds = get("seconds").toDouble,
      trace = get("trace") == "1",
      out = get("out"),
      work = get("work"),
      cache = get("cache"),
      data = m.getOrElse("data", ""),
      expected = m.getOrElse("expected", ""),
      golden = get("golden"),
      pages = m.getOrElse("pages", "0").toLong,
      warmPages = m.getOrElse("warm-pages", "500").toInt,
      setups = m.getOrElse("setups", "3").toInt,
      queries = m.get("queries").map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil))
  }

  /** Cores of the wide leg: the whole box. */
  val nproc: Int = Runtime.getRuntime.availableProcessors

  /** Length of a traced run's local[1] leg, as a share of `seconds`. */
  val OneShare = 0.5

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  /** Everything one run measured; rendered as the raw result file. */
  final class Result(val a: Args) {
    val trace = new Trace(s"${a.workload}-${a.seed}-${System.currentTimeMillis()}")
    val setupS = ArrayBuffer.empty[Double]
    val ops = ArrayBuffer.empty[Map[String, Any]]
    val checks = ArrayBuffer.empty[Map[String, Any]]
    val heapMb = ArrayBuffer.empty[Double]
    val stages = ArrayBuffer.empty[Map[String, Any]]
    val jobs = mutable.LinkedHashMap.empty[String, Int]
    val info = mutable.LinkedHashMap.empty[String, Any]
    private val timeline = mutable.LinkedHashMap.empty[String, Double]
    info("timeline_s") = timeline

    /** Records when a phase of the run ended, in seconds since JVM start. */
    def mark(phase: String): Unit =
      timeline(phase) = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    def check(name: String, ok: Boolean, detail: String = ""): Boolean = {
      checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)
      if (!ok) System.err.println(s"[perfbench] check failed: $name $detail")
      ok
    }

    def toMap: Map[String, Any] = Map(
      "workload" -> a.workload, "seed" -> a.seed.toString, "trace" -> a.trace, "nproc" -> nproc,
      "run_id" -> trace.runId, "seconds" -> a.seconds, "info" -> info,
      "setup_s" -> setupS, "ops" -> ops, "checks" -> checks, "heap_mb" -> heapMb,
      "stages" -> stages, "jobs" -> jobs, "spans" -> trace.toSeq)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val res = new Result(a)
    try {
      a.workload match {
        case "kg_extract" => new KgWorkload(a, res).run()
        case "mtb_build" => new MtbWorkload(a, res).run()
        case "battery" => new BatteryWorkload(a, res).run()
        case "digest-dir" => digestDir(a)
        case "warm-table" => writeWarmTable(a)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } catch {
      case e: Throwable =>
        val sw = new java.io.StringWriter
        e.printStackTrace(new java.io.PrintWriter(sw))
        res.check("harness", ok = false, sw.toString.take(4000))
    }
    res.mark("done")
    Files.writeString(Paths.get(a.out), mapper.writeValueAsString(res.toMap))
    SparkSession.getActiveSession.foreach(_.stop())
    sys.exit(0)
  }

  // ---------------------------------------------------------------- shared

  def session(a: Args, cores: Int): SparkSession = {
    val s = GraftSession.builder(cores, s"perfbench-$cores")
      // the same shuffle partitioning at every core count, so both legs
      // of the scaling pair run the same job
      .config("spark.sql.shuffle.partitions", math.max(4, nproc).toString)
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Live heap right after a full collection, in MB. */
  def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  /** Untimed clean-up after an operation: a collection lets Spark's context
    * cleaner drop the broadcasts the operation left behind, so the next
    * operation starts from the same heap. */
  def settle(): Unit = {
    System.gc()
    Thread.sleep(50)
    System.gc()
  }

  /** Order-independent digest of a DataFrame: row count plus the sum over
    * rows of xxhash64(canonical row string) mod 1e9+7. Floating point is
    * printed to 9 significant digits and binary as hex, so the value does
    * not depend on partitioning or on the order rows arrive in. */
  def digest(df: DataFrame): (Long, Long) = {
    val fields = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      val s = f.dataType match {
        case DoubleType | FloatType => format_string("%.9g", c)
        case BinaryType => hex(c)
        case _ => c.cast("string")
      }
      coalesce(s, lit("\u0007"))
    }
    val row = df.agg(
      count(lit(1)).as("n"),
      sum(pmod(xxhash64(concat_ws("|", fields: _*)), lit(1000000007L))).cast("long").as("d"))
      .head()
    (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
  }

  /** The same training calls `SparkEntry.trainedKernel` makes, repeated
    * here so every set-up cycle pays for the kernel build. */
  def trainKernel(tok: BertTokenizer): (StubKernel, Map[Int, String]) = {
    val train = SemEval.parseLines(SemEvalFixture.trainLines.toIndexedSeq)
    val (rel2idx, idx2rel) = SemEval.labelEncode(train.map(_.relation))
    def enc(s: String) = tok.convertTokensToIds(BertVocab.Cls +: tok.tokenize(s) :+ BertVocab.Sep)
    val k = StubKernel.train(train.map(ex => (enc(ex.sentence), rel2idx(ex.relation))), rel2idx.size, tok.padId)
    (k, idx2rel)
  }

  /** The per-url text normalization invariant: `text_norm` over each
    * golden article must give the golden `norm` bytes. */
  def goldenCheck(s: SparkSession, a: Args, res: Result): Unit = {
    res.mark("ready")
    import graft.textnorm.functions._
    val g = s.read.json(a.golden)
    val bad = g.select(col("id"), text_norm(col("article")).as("got"), col("norm"))
      .filter(not(col("got") <=> col("norm")))
      .count()
    val n = g.count()
    res.check("text_norm_golden", n > 0 && bad == 0, s"$bad of $n articles differ")
    res.mark("golden")
  }

  /** Closed loop: runs `op` until the leg's time is used, at least `min`
    * times; a new op starts only if the median op so far still fits. */
  def loop(legSeconds: Double, min: Int)(op: Int => Double): Unit = {
    val t0 = System.nanoTime()
    val times = ArrayBuffer.empty[Double]
    var i = 0
    def fits = {
      val sorted = times.sorted
      secondsSince(t0) + sorted(sorted.length / 2) <= legSeconds
    }
    while (i < min || fits) {
      times += op(i)
      i += 1
    }
  }

  private def writePages(s: SparkSession, path: String, first: Long, n: Long): Unit = {
    import s.implicits._
    s.range(first, first + n, 1, 16).map(id => Corpus.page(id)).write.mode("overwrite").parquet(path)
  }

  /** The warm-up table: `warmPages` Corpus pages below every measured id,
    * stored once per checkout. Set-up runs on it, so the measured
    * operations reuse the code it compiled. */
  def warmTable(a: Args): String = s"${a.cache}/warm-n${a.warmPages}.parquet"

  /** Writes the warm-up table if it is missing. `run.py` does this in a JVM
    * of its own, before the measured one, so that every measured run's
    * first set-up cycle is a cold start. */
  def writeWarmTable(a: Args): Unit =
    if (!Files.exists(Paths.get(warmTable(a), "_SUCCESS"))) {
      val s = session(a, nproc)
      writePages(s, warmTable(a), -a.warmPages.toLong, a.warmPages)
      s.stop()
    }

  private def requireWarmTable(a: Args): String = {
    require(Files.exists(Paths.get(warmTable(a), "_SUCCESS")),
      s"no warm-up table at ${warmTable(a)}; write it with --workload warm-table")
    warmTable(a)
  }

  /** The run's page table: `pages` consecutive Corpus pages from the id the
    * seed picks, stored once per (first id, size) and reused. Written after
    * set-up with the run's own session, then read back by every operation. */
  def pageTable(s: SparkSession, a: Args, res: Result): String = {
    val t0 = System.nanoTime()
    val path = s"${a.cache}/pages-from${a.firstPage}-n${a.pages}.parquet"
    if (!Files.exists(Paths.get(path, "_SUCCESS"))) {
      writePages(s, path, a.firstPage, a.pages)
      settle()
    }
    res.info("measured_table_s") = secondsSince(t0)
    res.info("table") = path
    res.info("first_page_id") = a.firstPage
    path
  }

  def readPages(s: SparkSession, path: String): Dataset[WebPage] = {
    import s.implicits._
    s.read.parquet(path).as[WebPage]
  }

  /** Checks a digest against the one recorded for the same input by an
    * earlier run in this checkout, recording it if there is none. */
  def crossRunCheck(res: Result, name: String, file: String, d: (Long, Long)): Unit = {
    val p = Paths.get(file)
    val now = s"${d._1} ${d._2}"
    if (Files.exists(p)) {
      val before = Files.readString(p).trim
      res.check(s"$name.across_runs", before == now, s"recorded $before, now $now")
    } else Files.writeString(p, now)
  }

  // ------------------------------------------------------ digest-dir mode

  /** Writes the digest of every parquet directory under `--data` to
    * `--expected`, computed the way the battery computes it, so the stored
    * expected digests come from outputs that the DuckDB oracle accepted. */
  def digestDir(a: Args): Unit = {
    val s = session(a, nproc)
    val dirs = new java.io.File(a.data).listFiles().filter(_.isDirectory).map(_.getName).sorted
    val out = dirs.map { d =>
      val (n, h) = digest(s.read.parquet(s"${a.data}/$d"))
      d -> Map("rows" -> n, "digest" -> h)
    }
    Files.writeString(Paths.get(a.expected),
      mapper.writeValueAsString(scala.collection.immutable.ListMap(out.toIndexedSeq: _*)))
  }

  // --------------------------------------------------------------- kg

  final class KgContext(
      val s: SparkSession,
      val gaz: Broadcast[Gazetteer],
      val tok: Broadcast[BertTokenizer],
      val kernel: Broadcast[ScoringKernel],
      val idx2rel: Broadcast[Map[Int, String]])

  final class KgWorkload(a: Args, res: Result) {
    private val out = s"${a.work}/triples"

    private lazy val warm = requireWarmTable(a)
    private var table = ""
    private def pages(s: SparkSession): Dataset[WebPage] = readPages(s, table)

    private def setup(cores: Int): KgContext = {
      val s = session(a, cores)
      val sc = s.sparkContext
      val tok = Vocab.fixtureTokenizer
      val (k, idx2rel) = trainKernel(tok)
      val ctx = new KgContext(s, sc.broadcast(new Gazetteer(FixtureVocab.AllEntities)),
        sc.broadcast(tok), sc.broadcast(k: ScoringKernel), sc.broadcast(idx2rel))
      TripleSink.write(
        TriplePipeline.run(s, readPages(s, warm), ctx.gaz, ctx.tok, ctx.kernel, ctx.idx2rel),
        s"${a.work}/warmup")
      ctx
    }

    private def outputDigest(s: SparkSession): (Long, Long) = digest(TripleSink.read(s, out).toDF())

    private def plainOp(c: KgContext): Unit =
      TripleSink.write(TriplePipeline.run(c.s, pages(c.s), c.gaz, c.tok, c.kernel, c.idx2rel), out)

    def run(): Unit = {
      warm
      val ctx = setupCycles(a, res, () => setup(nproc), (c: KgContext) => c.s)
      table = pageTable(ctx.s, a, res)
      goldenCheck(ctx.s, a, res)
      // two untimed operations on the measured table: the warm-up table is
      // too small to finish compiling the hot loops, so without them the
      // first timed operations are slower than the rest
      for (i <- 0 until 2) measure(ctx, "warm", i, s"kg#warm$i")(plainOp(ctx))
      val first = "warm" -> outputDigest(ctx.s)
      res.mark("warm_op")
      if (a.trace) traced(ctx, first) else plain(ctx, first)
    }

    private def measure(c: KgContext, leg: String, i: Int, tag: String)(f: => Unit): Double = {
      val t0 = System.nanoTime()
      var err = ""
      try StageLedger.tagged(c.s.sparkContext, tag)(f)
      catch { case e: Throwable => err = e.toString }
      val wall = secondsSince(t0)
      res.ops += Map("leg" -> leg, "cores" -> (if (leg == "one") 1 else nproc), "i" -> i,
        "tag" -> tag, "wall_s" -> wall, "items" -> a.pages, "ok" -> err.isEmpty, "error" -> err)
      res.heapMb += liveHeapMb()
      settle()
      wall
    }

    private def plain(c: KgContext, first: (String, (Long, Long))): Unit = {
      val digests = ArrayBuffer(first)
      loop(a.seconds, min = 2)(i => measure(c, "wide", i, s"kg#wide$i")(plainOp(c)))
      digests += "last" -> outputDigest(c.s)
      checkDigests(digests.toSeq)
      c.s.stop()
    }

    private def checkDigests(ds: Seq[(String, (Long, Long))]): Unit = {
      val distinct = ds.map(_._2).distinct
      res.check("kg.digest_equal", distinct.length == 1 && distinct.head._1 > 0,
        ds.map { case (k, (n, d)) => s"$k=$n/$d" }.mkString(" "))
      res.info("triples") = ds.head._2._1
      res.info("digest") = ds.head._2._2
      crossRunCheck(res, "kg.digest", s"$table.kg-digest", ds.head._2)
    }

    private def traced(c: KgContext, first: (String, (Long, Long))): Unit = {
      val sc = c.s.sparkContext
      val ledger = new StageLedger(sc)
      val digests = ArrayBuffer(first)
      loop(a.seconds, min = 4) { i =>
        if (i % 2 == 0) {
          val w = measure(c, "wide", i, s"kg#plain$i")(plainOp(c))
          digests += s"plain$i" -> outputDigest(c.s)
          w
        } else {
          val acc = sc.collectionAccumulator[Array[Long]]("kg-layers")
          val tag = s"kg#traced$i"
          val w = res.trace.span("kg.op", "tag" -> tag) {
            measure(c, "wide", i, tag) {
              TripleSink.write(
                TracedKg.run(c.s, pages(c.s), c.gaz, c.tok, c.kernel, c.idx2rel, acc), out)
            }
          }
          val files = Files.walk(Paths.get(out)).filter(p => p.toString.endsWith(".parquet")).count()
          res.ops(res.ops.length - 1) = res.ops.last ++ Map(
            "traced" -> true, "counters" -> TracedKg.totals(acc), "sink_files" -> files)
          digests += s"traced$i" -> outputDigest(c.s)
          w
        }
      }
      val (st, jobs) = ledger.snapshot()
      ledger.close()
      res.stages ++= st
      res.jobs ++= jobs
      // the local[1] leg of the scaling pair: the same plain job
      c.s.stop()
      val one = setup(1)
      loop(a.seconds * OneShare, min = 1)(i => measure(one, "one", i, s"kg#one$i")(plainOp(one)))
      digests += "one" -> outputDigest(one.s)
      checkDigests(digests.toSeq)
      one.s.stop()
    }
  }

  // --------------------------------------------------------------- mtb

  final class MtbContext(val s: SparkSession, val gaz: Broadcast[Gazetteer], val tok: Broadcast[BertTokenizer])

  /** The mtb leg of a traced kg_extract run: probe-forced and plain
    * `MtbDataset.build`s over the same page table, for the mtb.* metrics. */
  final class MtbWorkload(a: Args, res: Result) {
    private lazy val warm = requireWarmTable(a)
    private var table = ""
    private def pages(s: SparkSession): Dataset[WebPage] = readPages(s, table)

    private def build(c: MtbContext, ps: Dataset[WebPage],
        probe: (String, () => DataFrame) => Unit = (_, f) => { f(); () }): MtbDataset.Result =
      MtbDataset.build(c.s, ps, c.gaz, c.tok, minCount = 2, minPoolSize = 2, probe = probe)

    private def setup(cores: Int): MtbContext = {
      val s = session(a, cores)
      val sc = s.sparkContext
      val c = new MtbContext(s, sc.broadcast(new Gazetteer(FixtureVocab.AllEntities)),
        sc.broadcast(Vocab.fixtureTokenizer))
      digest(build(c, readPages(s, warm)).pools)
      s.catalog.clearCache()
      c
    }

    def run(): Unit = {
      warm
      val ctx = setupCycles(a, res, () => setup(nproc), (c: MtbContext) => c.s)
      table = pageTable(ctx.s, a, res)
      var c = ctx
      val digests = ArrayBuffer.empty[(String, (Long, Long))]
      // one untimed build on the measured table, as for kg_extract
      op(c, "warm", 0, traced = false, digests)
      res.mark("warm_op")
      // plain and probe-forced builds alternate on the wide leg; the
      // local[1] leg makes one probe-forced build for the scaling pair
      val l = new StageLedger(c.s.sparkContext)
      loop(a.seconds, min = 2)(i => op(c, "wide", i, traced = i % 2 == 1, digests))
      collect(l)
      c.s.stop()
      c = setup(1)
      val l1 = new StageLedger(c.s.sparkContext)
      op(c, "one", 0, traced = true, digests)
      collect(l1)
      val distinct = digests.map(_._2).distinct
      res.check("mtb.digest_equal", distinct.length == 1 && distinct.head._1 > 0,
        digests.map { case (k, (n, d)) => s"$k=$n/$d" }.mkString(" "))
      res.info("pools") = digests.head._2._1
      res.info("digest") = digests.head._2._2
      crossRunCheck(res, "mtb.digest", s"$table.mtb-digest", digests.head._2)
      c.s.stop()
    }

    private def collect(l: StageLedger): Unit = {
      val (st, jobs) = l.snapshot()
      l.close()
      res.stages ++= st
      jobs.foreach { case (k, v) => res.jobs(k) = res.jobs.getOrElse(k, 0) + v }
    }

    private def op(c: MtbContext, leg: String, i: Int, traced: Boolean,
        digests: ArrayBuffer[(String, (Long, Long))]): Double = {
      val sc = c.s.sparkContext
      val tag = s"mtb#$leg$i"
      val t0 = System.nanoTime()
      var d: (Long, Long) = (0L, 0L)
      var cachedMb = 0.0
      var err = ""
      try {
        StageLedger.tagged(sc, s"$tag/residual") {
          if (!traced) d = digest(build(c, pages(c.s)).pools)
          else res.trace.span("mtb.build", "tag" -> tag, "leg" -> leg) {
            build(c, pages(c.s), probe = (name, thunk) =>
              res.trace.span(s"mtb.$name", "tag" -> s"$tag/$name") {
                StageLedger.tagged(sc, s"$tag/$name") {
                  val df = thunk()
                  if (name == "pools") d = digest(df) else df.count()
                }
              })
          }
        }
      } catch { case e: Throwable => err = e.toString }
      val wall = secondsSince(t0)
      if (traced) cachedMb = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6
      res.heapMb += liveHeapMb()
      c.s.catalog.clearCache()
      settle()
      res.ops += Map("leg" -> leg, "cores" -> (if (leg == "one") 1 else nproc), "i" -> i,
        "tag" -> tag, "wall_s" -> wall, "items" -> a.pages, "ok" -> err.isEmpty, "error" -> err,
        "traced" -> traced, "cached_mb" -> cachedMb)
      digests += s"$tag${if (traced) "/traced" else ""}" -> d
      wall
    }
  }

  // ----------------------------------------------------------- battery

  final class BatteryWorkload(a: Args, res: Result) {
    private val expected: Map[String, (Long, Long)] = {
      import scala.jdk.CollectionConverters._
      val node = mapper.readTree(new java.io.File(a.expected))
      node.properties().asScala.map { e =>
        e.getKey -> (e.getValue.get("rows").asLong(), e.getValue.get("digest").asLong())
      }.toMap
    }

    /** The query order for this run: a seeded permutation. */
    private val order: Seq[String] = {
      val rng = new scala.util.Random(a.seed.toLong)
      rng.shuffle(a.queries.sorted)
    }

    /** q52_fewrel_source writes its FewRel fixture to a fixed path outside
      * the checkout. The battery runs the same body with the fixture in the
      * run's work directory; its output, and so its digest, is the same. */
    private val inCheckout: Map[String, (SparkSession, String) => DataFrame] = Map(
      "q52_fewrel_source" -> ((s, _) => {
        val dir = Files.createDirectories(Paths.get(a.work, "fewrel_fixture"))
        FewRelFixture.writeTo(dir)
        FewRel.read(s, dir.toString + "/train_wiki.json").toDF()
          .withColumn("tokens", to_json(col("tokens")))
          .orderBy(col("relation"), col("hStart"))
      }))

    private def construct(q: String): (SparkSession, String) => DataFrame =
      inCheckout.getOrElse(q, SparkEntry.queries(q))

    private def setup(cores: Int): SparkSession = {
      val s = session(a, cores)
      SparkEntry.trainedKernel
      digest(SparkEntry.queries("q12_lang_profile")(s, a.data))
      s.catalog.clearCache()
      s
    }

    def run(): Unit = {
      res.info("order") = order
      val missing = order.filterNot(q => SparkEntry.queries.contains(q) && expected.contains(q))
      require(missing.isEmpty, s"queries without a definition or expected digest: ${missing.mkString(",")}")
      var s = setupCycles(a, res, () => setup(nproc), (x: SparkSession) => x)
      goldenCheck(s, a, res)
      // one untimed pass compiles every query's code before timing
      order.foreach(q => query(s, "warm", 0, q, timed = false, traced = false))
      res.mark("warm_pass")
      def passes(leg: String, seconds: Double, min: Int, traced: Int => Boolean): Unit =
        loop(seconds, min) { pass =>
          val t0 = System.nanoTime()
          order.foreach(q => query(s, leg, pass, q, timed = true, traced = traced(pass)))
          secondsSince(t0)
        }
      // two passes at least, so each query's time is a median of two
      if (!a.trace) passes("wide", a.seconds, 2, _ => false)
      else {
        // traced and plain passes alternate, so the difference between
        // them is the tracing overhead; a plain local[1] pass follows
        val ledger = new StageLedger(s.sparkContext)
        passes("wide", a.seconds, 2, _ % 2 == 0)
        val (st, jobs) = ledger.snapshot()
        ledger.close()
        res.stages ++= st
        res.jobs ++= jobs
        s.stop()
        s = setup(1)
        passes("one", a.seconds * OneShare, 1, _ => false)
      }
      s.stop()
    }

    private def query(s: SparkSession, leg: String, pass: Int, q: String, timed: Boolean,
        traced: Boolean): Unit = {
      val tag = s"$q#$leg$pass"
      val sc = s.sparkContext
      val t0 = System.nanoTime()
      var buildS = 0.0
      var got: (Long, Long) = (-1L, -1L)
      var err = ""
      def span[T](name: String, attrs: (String, Any)*)(f: => T): T =
        if (traced) res.trace.span(name, attrs: _*)(f) else f
      try StageLedger.tagged(sc, tag) {
        span(s"battery.$q", "tag" -> tag) {
          val df = span("build")(construct(q)(s, a.data))
          buildS = secondsSince(t0)
          got = span("exec")(digest(df))
        }
      } catch { case e: Throwable => err = e.toString }
      val wall = secondsSince(t0)
      val ok = err.isEmpty && expected.get(q).contains(got)
      val detail = if (ok) "" else s"expected ${expected.get(q)} got $got $err"
      if (!ok && !timed) res.check(s"$tag.digest", ok = false, detail)
      // the collection that reads the heap is the query's clean-up: a
      // query's broadcasts are small, so it does not settle like the
      // longer operations of the other workloads
      if (timed && leg == "wide") res.heapMb += liveHeapMb()
      s.catalog.clearCache()
      if (timed) res.ops += Map("leg" -> leg, "cores" -> (if (leg == "one") 1 else nproc),
        "i" -> pass, "tag" -> tag, "query" -> q, "wall_s" -> wall, "build_s" -> buildS,
        "items" -> 1, "ok" -> ok, "error" -> detail, "traced" -> traced)
    }
  }

  /** Repeated set-up: the first cycle is a cold start timed from JVM start,
    * later cycles start just after the previous session was stopped and its
    * garbage collected. Returns the last cycle's result. */
  def setupCycles[C](a: Args, res: Result, make: () => C, session: C => SparkSession): C = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    var ctx = make()
    res.setupS += (System.currentTimeMillis() - jvmStartMs) / 1e3
    for (_ <- 2 to a.setups) {
      session(ctx).stop()
      System.gc()
      val t0 = System.nanoTime()
      ctx = make()
      res.setupS += secondsSince(t0)
    }
    ctx
  }
}
