package graft.engine

import java.nio.file.Files

import graft.api.SparkCounts
import graft.fixtures.SiteGen
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The fast gear's one-pass frontier step (below wideMinRows / 8 pending
  * rows the whole next frontier is one coalesce(1) task): pinned row for
  * row against the wide gear's join formulation, and by the Spark jobs a
  * default crawl runs. */
class FastFrontierSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("fast-frontier-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val corpusRows = SiteGen.rows(42L, 80, 4).toSeq

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"fast-frontier-$tag").toString

  test("gear parity: fused fast pass and wide join formulation write the same frontiers") {
    val s = spark; import s.implicits._
    // host0's p0 links to a page the corpus lacks, so it is retried
    val deadHtml = """<html><head><title>D</title></head><body><a href="/missing.html">dead</a><a href="/p1.html">ok</a></body></html>"""
    val pages = s.createDataset(corpusRows.map {
      case r if r.url.endsWith("/p0.html") && r.url.contains("host0") =>
        r.copy(html = deadHtml.getBytes("UTF-8"))
      case r => r
    }).toDF()
    val jobs = Seq(
      CrawlConfig("jretry", Seq("https://host0.example.test/p0.html"), limit = 50, maxAttempts = 3),
      CrawlConfig("jlimit", Seq("https://host1.example.test/p0.html"), limit = 7))
    def crawl(st: CrawlEngine.Settings): (Checkpoint, CrawlEngine) = {
      val dir = tmpDir("parity")
      val engine = new CrawlEngine(s, pages, dir, Map.empty, st.copy(capturePlans = true))
      engine.run(jobs)
      (new Checkpoint(dir), engine)
    }
    val (fastCk, fast) = crawl(CrawlEngine.Settings())
    val (wideCk, wide) = crawl(CrawlEngine.Settings(wideMinRows = 0L))
    assert(fast.capturedPlans.contains("expand-fast") && !fast.capturedPlans.contains("expand-wide"))
    assert(wide.capturedPlans.contains("expand-wide") && !wide.capturedPlans.contains("expand-fast"))
    assert(fast.finalProgress == wide.finalProgress)
    assert(fast.finalProgress("jretry").failed == 1L)
    assert(fast.finalProgress("jlimit").finalizeReason == "limit-reached")
    val last = fastCk.lastCommitted.map(_.generation)
    assert(last.isDefined && wideCk.lastCommitted.map(_.generation) == last)
    // frontier/gen=k+1 is what committed generation k wrote
    (0 to last.get + 1).foreach { k =>
      def rows(ck: Checkpoint): Map[CrawlEngine.FrontierRowF, Int] =
        s.read.parquet(ck.frontierPath(k)).as[CrawlEngine.FrontierRowF].collect()
          .groupBy(identity).map { case (r, rs) => r -> rs.length }
      assert(rows(fastCk) == rows(wideCk), s"frontier/gen=$k differs")
    }
    // the retried page's attempts reached the frontier in both gears
    val retried = (1 to last.get + 1).flatMap(k =>
      s.read.parquet(fastCk.frontierPath(k)).as[CrawlEngine.FrontierRowF].collect())
      .filter(_.urlNorm.endsWith("/missing.html")).map(_.attempt).toSet
    assert(retried == Set(0, 1, 2))
  }

  test("job count: a default-settings crawl runs 2 fewer jobs per generation than the join formulation") {
    val s = spark; import s.implicits._
    val engine = new CrawlEngine(s, s.createDataset(corpusRows).toDF(), tmpDir("jobs"),
      Map.empty, CrawlEngine.Settings())
    engine.prepare() // the corpus cache, outside the counted crawl
    val cfg = CrawlConfig("jjobs", Seq("https://host0.example.test/p0.html"),
      limit = 40, maxDepth = 10)
    val (report, jobs, _) = SparkCounts.counted(s)(engine.run(Seq(cfg)))
    // 6 generations, no seen compaction, every one in the fast gear: the
    // seed write, then the results write and the frontier write per
    // generation. The join formulation (broadcast seen anti-join, broadcast
    // result-key left join) ran 2 x 6 more jobs here: 43 with the
    // broadcast fetch join, its miss anti-join and their union, which
    // the one-pass frontier step alone cut to 31.
    assert((report.generations, jobs) == ((6, 13)))
  }
}
