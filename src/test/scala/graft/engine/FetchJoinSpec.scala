package graft.engine

import java.nio.file.Files

import graft.api.SparkCounts
import graft.fixtures.SiteGen
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The superstep's one fetch plan (a left-outer shuffled-hash join of the
  * batch against the url-partitioned corpus cache) and its one results
  * barrier: the Spark jobs a default crawl runs, and the fetch's edge cases
  * row for row across both gears. */
class FetchJoinSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("fetch-join-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val corpusRows = SiteGen.rows(42L, 80, 4).toSeq

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"fetch-join-$tag").toString

  test("job count: one seed write plus two jobs per superstep") {
    val s = spark; import s.implicits._
    val engine = new CrawlEngine(s, s.createDataset(corpusRows).toDF(), tmpDir("jobs"),
      Map.empty, CrawlEngine.Settings(compactEvery = 0))
    engine.prepare() // the corpus cache, outside the counted crawl
    val cfg = CrawlConfig("jcount", Seq(SiteGen.pageUrl(0, 0)), strategy = "all",
      maxDepth = 100, limit = 0, hostBudgetPerStep = 8)
    val (report, jobs, _) = SparkCounts.counted(s)(engine.run(Seq(cfg)))
    // Per superstep: the results write and the frontier write, each one job
    // (the fetch join's batch exchange is a stage inside them). The
    // broadcast fetch join, the broadcast miss anti-join and their union
    // ran 5 per superstep here: 1 + 5 x 9 = 46 jobs.
    assert((report.generations, jobs) == ((9, 1 + 2 * 9)))
  }

  test("fetch edge cases: a duplicated corpus url, a null url, a shared url and 404 retries agree across gears") {
    val s = spark; import s.implicits._
    val seed = SiteGen.pageUrl(0, 0)
    val dup = SiteGen.pageUrl(0, 1)
    // the seed links to a page the corpus lacks and to the duplicated page
    val deadHtml = """<html><head><title>D</title></head><body><a href="/missing.html">dead</a><a href="/p1.html">ok</a></body></html>"""
    val rows = corpusRows.map(r => if (r.url == seed) r.copy(html = deadHtml.getBytes("UTF-8")) else r)
    val pages = s.createDataset(rows ++ rows.filter(_.url == dup) :+ rows.last.copy(url = null)).toDF()
    // both jobs schedule the seed in the same batch
    val jobs = Seq(
      CrawlConfig("ja", Seq(seed), limit = 30, maxAttempts = 3),
      CrawlConfig("jb", Seq(seed), limit = 12, maxAttempts = 3))
    def crawl(st: CrawlEngine.Settings): (CrawlEngine, Checkpoint) = {
      val dir = tmpDir("edge")
      val engine = new CrawlEngine(s, pages, dir, Map.empty, st)
      engine.run(jobs)
      (engine, new Checkpoint(dir))
    }
    val gears = Seq(crawl(CrawlEngine.Settings()), crawl(CrawlEngine.Settings(wideMinRows = 0L)))
    val views = gears.map { case (engine, ck) =>
      val res = engine.results().drop("timestamp").collect().toSeq
      jobs.foreach { j =>
        def of(url: String => Boolean) =
          res.filter(r => r.getAs[String]("jobId") == j.jobId && url(r.getAs[String]("url")))
        assert(of(_ == dup).size == 2, s"${j.jobId}: the duplicated url yields two result rows")
        val miss = of(_.endsWith("/missing.html"))
        assert(miss.map(_.getAs[Int]("status")).toSet == Set(404))
        assert(miss.map(_.getAs[Int]("attempt")).sorted == Seq(0, 1, 2),
          s"${j.jobId}: one 404 row per attempt")
      }
      val last = ck.lastCommitted.map(_.generation).getOrElse(-1)
      val manifests = (0 to last).map(g => ck.readManifest(g).map(m => (m.batchCount, m.fetchedPages)))
      assert(manifests.flatten.map(_._1).sum == res.size, "batchCount counts the committed result rows")
      (res.map(_.toString).sorted, engine.finalProgress, manifests)
    }
    assert(views(0)._1 == views(1)._1, "result rows differ between gears")
    assert(views(0)._2 == views(1)._2)
    assert(views(0)._3 == views(1)._3, "manifest batchCount/fetchedPages differ between gears")
  }
}
