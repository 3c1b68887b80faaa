package graft

import java.net.URI
import java.nio.file.{Files, Path => NioPath}
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import jdk.jfr.{Event, Name}
import jdk.jfr.consumer.RecordingStream
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.io.LocalFs

@Name("graft.LocalFsSpec.Barrier")
class LocalFsSpecBarrier extends Event

/** [[graft.io.LocalFs]], the `file:` filesystem [[GraftSession]] binds:
  * the writes the engine makes start no process, and leave the same
  * permission bits and `.crc` siblings as the stock `LocalFileSystem`.
  *
  * Each filesystem comes from `FileSystem.newInstance` / `FileContext`
  * over its own configuration, and each Spark write carries its filesystem
  * as a write option with the cache off, so the JVM-wide `FileSystem`
  * cache never decides which class runs. */
class LocalFsSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("localfs-spec")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val Root = URI.create("file:///")

  /** `fs.file.impl` and `fs.AbstractFileSystem.file.impl` of one side. */
  private val graftBinding: Map[String, String] = LocalFs.HadoopConf
  private val stockBinding: Map[String, String] = Map(
    "fs.file.impl" -> classOf[LocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[org.apache.hadoop.fs.local.LocalFs].getName)

  private def confOf(binding: Map[String, String]): Configuration = {
    val c = new Configuration()
    binding.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** The writes the engine's sink, checkpoints and streaming state make,
    * under `root`: mkdirs, a nested create, a rename, a `FileContext`
    * create + overwriting rename (a checkpoint commit) and a small
    * partitioned parquet write. */
  private def writeAll(binding: Map[String, String], root: NioPath): Unit = {
    val conf = confOf(binding)
    val fs = FileSystem.newInstance(Root, conf)
    try {
      val base = new Path(root.toString)
      assert(fs.mkdirs(new Path(base, "a/b")))
      val out = fs.create(new Path(base, "a/b/c/d/part.bin"))
      try out.write("graft".getBytes("UTF-8")) finally out.close()
      assert(fs.rename(new Path(base, "a/b/c/d/part.bin"), new Path(base, "a/b/c/part.bin")))

      val fc = FileContext.getFileContext(Root, conf)
      val tmp = new Path(base, "ckpt/.0.tmp")
      val s = fc.create(tmp, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
        Options.CreateOpts.createParent())
      try s.write(Array[Byte](1, 2, 3)) finally s.close()
      fc.rename(tmp, new Path(base, "ckpt/0"), Options.Rename.OVERWRITE)
    } finally fs.close()

    val w = spark.range(0, 40, 1, 2).select(col("id"), (col("id") % 3).as("p")).write
    binding.foldLeft(w) { case (w, (k, v)) => w.option(k, v) }
      .option("fs.file.impl.disable.cache", "true")
      .partitionBy("p")
      .parquet(s"$root/pq")
  }

  /** Processes started while `body` runs by the threads that do its work,
    * from JFR `jdk.ProcessStart`: as (started by an executor task, command).
    * The work's threads are this thread and the executor's task threads;
    * other threads of the JVM are not counted. Spark's Cleaner, for one,
    * forks `rm -rf` for the artifact directory of any session an earlier
    * suite left behind, whenever a GC collects it. */
  private def processesStartedBy(body: => Unit): Seq[(Boolean, String)] = {
    val self = Thread.currentThread().getId
    val started = new java.util.concurrent.ConcurrentLinkedQueue[(Boolean, String)]()
    val barrier = new CountDownLatch(1)
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart")
      rs.enable(classOf[LocalFsSpecBarrier])
      rs.onEvent("jdk.ProcessStart", e => Option(e.getThread).foreach { t =>
        val task = Option(t.getJavaName).exists(_.startsWith("Executor task launch worker"))
        if (task || t.getJavaThreadId == self) started.add((task, e.getString("command")))
      })
      rs.onEvent("graft.LocalFsSpec.Barrier", _ => barrier.countDown())
      rs.startAsync()
      body
      // every event committed before the barrier is flushed with it
      new LocalFsSpecBarrier().commit()
      assert(barrier.await(60, TimeUnit.SECONDS), "JFR stream delivered no barrier")
    } finally rs.close()
    started.asScala.toSeq
  }

  /** Every entry under `root`, keyed by its relative path with the
    * per-job parts of parquet file names blanked, to its full mode bits. */
  private def modes(root: NioPath): Map[String, Int] = {
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_ != root).map { p =>
      root.relativize(p).toString.replaceAll("part-\\d+-[0-9a-f-]+", "part") ->
        Files.getAttribute(p, "unix:mode").asInstanceOf[Integer].intValue
    }.toMap
    finally walk.close()
  }

  test("LocalFs: mkdirs, create, rename, FileContext.rename and a partitioned parquet write start no process") {
    val conf = confOf(graftBinding)
    val fs = FileSystem.newInstance(Root, conf)
    try assert(fs.isInstanceOf[LocalFs], fs.getClass.getName) finally fs.close()
    assert(FileContext.getFileContext(Root, conf).getDefaultFileSystem.isInstanceOf[LocalFs.Afs])
    // once untimed, so one-off class initialisation (Hadoop's Shell probes
    // for setsid when it loads) is not counted against the writes
    writeAll(graftBinding, Files.createTempDirectory("graft_localfs_warm"))
    val root = Files.createTempDirectory("graft_localfs")
    val started = processesStartedBy(writeAll(graftBinding, root))
    assert(started.isEmpty, s"processes started:\n${started.mkString("\n")}")
    // the recording does see the stock filesystem's forks, on this thread
    // and in the parquet write's tasks
    val stock = processesStartedBy(writeAll(stockBinding, Files.createTempDirectory("graft_localfs_stock")))
    assert(stock.exists(_._2.startsWith("chmod")) && stock.exists(_._2.startsWith("readlink")), stock)
    assert(stock.exists { case (task, cmd) => task && cmd.startsWith("chmod") }, stock)
    // a process another thread starts meanwhile is not the writes' own
    val other = new Thread(() => new ProcessBuilder("true").start().waitFor())
    assert(processesStartedBy { other.start(); other.join() }.isEmpty)
    assert(Files.list(root.resolve("pq")).iterator.asScala.count(_.getFileName.toString.startsWith("p=")) == 3)
  }

  test("LocalFs: permissions, bytes and .crc siblings equal the stock LocalFileSystem's") {
    def octal(s: String) = Integer.parseInt(s, 8)
    val Seq(graft, stock) = Seq(graftBinding, stockBinding).map { binding =>
      val root = Files.createTempDirectory("graft_localfs_perm")
      writeAll(binding, root.resolve("plain"))
      // under a setgid directory `chmod` keeps the bit on new
      // subdirectories, and a sticky mode is outside the 9 rwx bits: both
      // take the stock call and must still match it
      Files.createDirectory(root.resolve("setgid"))
      Files.setAttribute(root.resolve("setgid"), "unix:mode", Integer.valueOf(octal("2775")))
      writeAll(binding, root.resolve("setgid/w"))
      val fs = FileSystem.newInstance(Root, confOf(binding))
      try {
        val sticky = new Path(root.resolve("sticky").toString)
        assert(fs.mkdirs(sticky))
        fs.setPermission(sticky, new FsPermission(octal("1755").toShort))
      } finally fs.close()
      root
    }
    val graftModes = modes(graft)
    assert(graftModes == modes(stock))
    assert(graftModes("plain/a") == octal("40755"))
    assert(graftModes("plain/a/b/c/part.bin") == octal("100644"))
    assert(graftModes("setgid/w/a") == octal("42755"))
    assert(graftModes("sticky") == octal("41755"))
    // every file has its .crc sibling; outside the parquet output (whose
    // file names are per job) the .crc bytes equal the stock ones
    val walk = Files.walk(graft)
    try walk.iterator.asScala
      .filter(f => Files.isRegularFile(f) && !f.getFileName.toString.endsWith(".crc"))
      .foreach { f =>
        val crc = f.resolveSibling(s".${f.getFileName}.crc")
        assert(Files.exists(crc), s"no .crc sibling for $f")
        val rel = graft.relativize(crc)
        if (!rel.toString.contains("pq/"))
          assert(java.util.Arrays.equals(Files.readAllBytes(crc), Files.readAllBytes(stock.resolve(rel))), s"$rel")
      }
    finally walk.close()
    assert(Files.readString(graft.resolve("plain/a/b/c/part.bin")) == "graft")
  }

  test("LocalFs: a real symlink still resolves through getFileLinkStatus, as under the stock filesystems") {
    val root = Files.createTempDirectory("graft_localfs_link")
    val target = Files.writeString(root.resolve("target.txt"), "x")
    val link = Files.createSymbolicLink(root.resolve("link"), target)

    def linkStatus(binding: Map[String, String], p: Path) = {
      val conf = confOf(binding)
      val fs = FileSystem.newInstance(Root, conf)
      val viaFs =
        try fs.getFileLinkStatus(p) finally fs.close()
      val viaFc = FileContext.getFileContext(Root, conf).getFileLinkStatus(p)
      Seq(viaFs, viaFc).map(s =>
        (s.isSymlink, if (s.isSymlink) s.getSymlink.toString else "", s.isFile, s.getLen, s.getPath.toString))
    }
    val plain = new Path(link.toString)
    val graftPlain = linkStatus(graftBinding, plain)
    assert(graftPlain.forall(_._1), s"the link did not resolve: $graftPlain")
    assert(graftPlain.forall(_._2 == s"file:$target"))
    assert(graftPlain == linkStatus(stockBinding, plain))
    // a scheme-qualified path and a plain file answer as the stock calls do
    Seq(new Path(s"file:$link"), new Path(target.toString)).foreach { p =>
      assert(linkStatus(graftBinding, p) == linkStatus(stockBinding, p), s"differs on $p")
    }
  }
}
