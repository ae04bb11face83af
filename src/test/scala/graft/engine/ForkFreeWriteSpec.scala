package graft.engine

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.core.UrlOps
import graft.fixtures.SiteGen

/** Checkpoint writes set file and directory permissions without starting a
  * process, to the same bits Hadoop's stock local filesystem sets; and the
  * checkpoint's directory listings release their descriptors. */
class ForkFreeWriteSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("fork-free-write-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val corpusRows = SiteGen.rows(42L, 80, 4).toSeq
  private lazy val pagesByNorm: Map[String, String] =
    corpusRows.map(r => UrlOps.normalize(r.url) -> new String(r.html, "UTF-8")).toMap
  private lazy val pagesDf = {
    val s = spark; import s.implicits._
    s.createDataset(corpusRows).toDF()
  }

  private def tmpDir(tag: String): Path = Files.createTempDirectory(s"forkfree-$tag")

  /** Wide gears, compaction every two sources and the trap gate on (its
    * cap above the page limit, so it never trips): one crawl makes all four
    * kinds of parquet write — seed frontier, generation (results and next
    * frontier in one write), seen bucket, trap counts. */
  private val allWrites = CrawlEngine.Settings(
    compactEvery = 2, levelFanout = 2, wideMinRows = 0L)
  private val cfg = CrawlConfig("jff", Seq("https://host0.example.test/p0.html"),
    limit = 40, trapMaxUrls = 1000)

  /** Every process the JVM starts while `body` runs: (command, the stack
    * frames that started it, as `Class.method`). */
  private def processStarts(body: => Unit): Seq[(String, Seq[String])] = {
    val rec = new jdk.jfr.Recording()
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      try body finally rec.stop()
      val f = Files.createTempFile("forkfree", ".jfr")
      try {
        rec.dump(f)
        jdk.jfr.consumer.RecordingFile.readAllEvents(f).asScala.toSeq
          .filter(_.getEventType.getName == "jdk.ProcessStart")
          .map { e =>
            val frames = Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
              .map(fr => fr.getMethod.getType.getName + "." + fr.getMethod.getName)
            (e.getString("command"), frames)
          }
      } finally Files.deleteIfExists(f)
    } finally rec.close()
  }

  /** Spark's own timer- and GC-driven housekeeping, which starts processes
    * at times no crawl call controls: the executor heartbeat's one-time
    * `getconf PAGESIZE`, and the `rm -rf` that a reference cleaner runs for
    * each garbage-collected session clone (Spark's cache manager clones
    * the session when it caches a plan). */
  private def housekeeping(frames: Seq[String]): Boolean =
    frames.exists(f => f.startsWith("org.apache.spark.Heartbeater") ||
      f.startsWith("jdk.internal.ref.CleanerImpl"))

  private def mode(p: Path): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Octal mode of every file and directory under `root`, keyed by relative
    * path with the write's random ids masked out of file names. */
  private def modeTree(root: Path): Map[String, String] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(_ != root).map { p =>
      root.relativize(p).toString
        .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "<id>") ->
        Integer.toOctalString(mode(p))
    }.toMap
    finally s.close()
  }

  /** The same parquet write and a seen-bucket-shaped one, under
    * `root/stock` through a fresh instance of Hadoop's stock `file:`
    * filesystem (not the JVM's cached one, which other code may have
    * reconfigured) and under `root/nio` with [[Checkpoint.writeOptions]].
    * Nested targets, so every write creates several directory levels. */
  private def writeBothWays(root: Path): Unit = {
    val s = spark; import s.implicits._
    val rows = spark.range(200).selectExpr("id", "cast(id * 7 as string) AS s").repartition(3)
    val keys = (0 until 300).map(i => ("jff", s"https://host${i % 4}.example.test/p$i.html"))
      .toDF("jobId", "urlNorm").repartition(2)
    val opts = new Checkpoint(root.toString).writeOptions
    val stockOpts = Map("fs.file.impl.disable.cache" -> "true")
    Seq("stock" -> stockOpts, "nio" -> opts).foreach { case (side, o) =>
      rows.write.options(o).parquet(s"$root/$side/a/b/rows")
      val bucket = s"$root/$side/seen/bucket=0-3-L0"
      keys.write.options(o).parquet(bucket)
    }
  }

  test("a crawl starts no process: seed write, generations, compaction, sidecar blooms") {
    val dir = tmpDir("procs")
    val engine = new CrawlEngine(spark, pagesDf, dir.toString, Map.empty, allWrites)
    engine.prepare()
    val started = processStarts { engine.run(Seq(cfg)) }
    assert(!started.exists(_._1.startsWith("chmod")))
    val byCrawl = started.filterNot(p => housekeeping(p._2))
    assert(byCrawl.isEmpty, s"${byCrawl.size} processes started, first: " +
      byCrawl.take(2).map { case (c, fs) => s"$c at ${fs.take(12).mkString(" < ")}" }.mkString(" | "))
    // the recorded crawl made every kind of checkpoint write
    assert(engine.compactionLog.nonEmpty, "no seen compaction ran")
    val walk = Files.walk(dir)
    val names = try walk.iterator().asScala.map(_.getFileName.toString).toSet finally walk.close()
    assert(names.contains("_trapcounts"), "no trap-count write")
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")),
      "committer marker or checksum files missing")
    // and the crawl itself is the sequential oracle's
    val got = engine.trace().collect().map(r => (r.getAs[Long]("seq"), r.getAs[String]("urlNorm")))
      .toSeq.sortBy(_._1)
    val want = SequentialOracle.crawl(pagesByNorm, Seq(cfg)).trace.sortBy(_.seq)
      .map(t => (t.seq, t.urlNorm))
    assert(got == want)
  }

  test("checkpoint writes set the permissions the stock local filesystem sets") {
    val root = tmpDir("perms")
    writeBothWays(root)
    val stock = modeTree(root.resolve("stock"))
    val nio = modeTree(root.resolve("nio"))
    assert(stock.keySet.exists(_.endsWith(".crc")))
    assert(nio == stock)
    // a crawl's Hadoop-written paths carry the stock directory and file
    // modes (the markers and manifests Checkpoint writes itself are java.nio
    // files, outside this comparison)
    val dirModes = stock.collect { case (k, m) if Files.isDirectory(root.resolve("stock").resolve(k)) => m }.toSet
    val fileModes = stock.collect { case (k, m) if Files.isRegularFile(root.resolve("stock").resolve(k)) => m }.toSet
    assert(dirModes.size == 1 && fileModes.size == 1, s"dirs $dirModes files $fileModes")
    val dir = tmpDir("crawlperms")
    new CrawlEngine(spark, pagesDf, dir.toString, Map.empty, allWrites).run(Seq(cfg))
    for (sub <- Seq("steps", "seen")) {
      val s = Files.walk(dir.resolve(sub))
      try s.iterator().asScala.filter(_.getFileName.toString != "_COMPACT_OK").foreach { p =>
        val want = if (Files.isDirectory(p)) dirModes else fileModes
        assert(want.contains(Integer.toOctalString(mode(p))), s"$p")
      } finally s.close()
    }
  }

  test("under a setgid parent the inherited bits match the stock filesystem too") {
    val root = tmpDir("setgid")
    Files.setAttribute(root, "unix:mode", Integer.valueOf(Integer.parseInt("2775", 8)))
    assume((mode(root) & Integer.parseInt("2000", 8)) != 0, "filesystem ignores setgid")
    writeBothWays(root)
    val stock = modeTree(root.resolve("stock"))
    assert(stock.values.exists(m => (Integer.parseInt(m, 8) & Integer.parseInt("2000", 8)) != 0),
      "no directory inherited setgid")
    assert(modeTree(root.resolve("nio")) == stock)
  }

  test("2,000 status polls and checkpoint listings leave the open descriptor count flat") {
    val fdDir = Paths.get("/proc/self/fd")
    assume(Files.isDirectory(fdDir), "needs /proc")
    def openFds: Long = { val s = Files.list(fdDir); try s.count() finally s.close() }
    val dir = tmpDir("fds")
    val ckpt = new Checkpoint(dir.toString)
    ckpt.commit(GenManifest(0, Seq(JobProgress("jfd")), Map("jfd" -> 0L), 0L,
      Map.empty, 0L, 0L, 0L))
    ckpt.requestCancel("jfd-cancelled")
    Files.createDirectories(dir.resolve("seen/bucket=0-0-L0"))
    ckpt.markBucket(Checkpoint.SeenBucket(0, 0, 0))
    val before = openFds
    (1 to 2000).foreach { _ =>
      assert(graft.api.Graft.status(dir.toString, "jfd").exists(_.generation == 0))
      assert(ckpt.cancelledJobs == Set("jfd-cancelled"))
      assert(ckpt.validSeenBuckets(0).size == 1)
      ckpt.truncateAfter(0)
    }
    val after = openFds
    assert(after - before < 50, s"open descriptors $before -> $after")
  }
}
