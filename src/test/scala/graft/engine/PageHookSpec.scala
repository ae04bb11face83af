package graft.engine

import java.nio.file.Files

import graft.fixtures.SiteGen
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Opt-in per-page result hook (CrawlConfig.pageHook): the analog of the
  * reference's `EngineOptions.requestHandler` (types/engine.ts:25-26). The
  * hook transforms CONTENT fields of successful pages; scheduling identity
  * is engine-owned, so the canonical trace is unchanged by construction —
  * asserted here by running the same crawl with and without a hook (and
  * with a hostile hook that tries to rewrite seq/depth/status). */
class PageHookSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("pagehook-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val ts = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:00Z"))
  private def page(url: String, body: String): SiteGen.PageRow =
    SiteGen.PageRow(url, ts, body.getBytes("UTF-8"), "", "en")

  private lazy val corpus: Seq[SiteGen.PageRow] = Seq(
    page("https://p.test/",
      """<html><head><title>Root</title></head><body>
        |<a href="/one">1</a><a href="/two">2</a></body></html>""".stripMargin),
    page("https://p.test/one",
      "<html><head><title>One</title></head><body>first page</body></html>"),
    page("https://p.test/two",
      "<html><head><title>Two</title></head><body>second page</body></html>"))

  private def settings = CrawlEngine.Settings()

  private def crawl(job: String, hook: Option[PageResult => PageResult]) = {
    val s = spark; import s.implicits._
    val e = new CrawlEngine(spark, s.createDataset(corpus).toDF(),
      Files.createTempDirectory("hook").toString, Map.empty, settings)
    e.run(Seq(CrawlConfig(job, Seq("https://p.test/"),
      strategy = "same-hostname", limit = 100, maxDepth = 2, pageHook = hook)))
    e
  }

  // must not capture the spec instance (Spark serializes the closure)
  private val contentHook: PageResult => PageResult = pr =>
    pr.copy(title = pr.title.toUpperCase + " [H]", text = pr.text + "|hooked",
      markdown = "md:" + pr.markdown)

  private val hostileHook: PageResult => PageResult = pr =>
    pr.copy(seq = pr.seq + 1000L, depth = pr.depth + 5, status = 599,
      success = false, terminal = false, url = "https://evil.test/",
      title = pr.title + " [X]")

  test("hook output observed in results; canonical order unchanged") {
    val base = crawl("nohook", None)
    val hooked = crawl("hooked", Some(contentHook))
    def traceOf(e: CrawlEngine) = e.trace().collect()
      .map(r => (r.getAs[Long]("seq"), r.getAs[String]("url"), r.getAs[Int]("depth"),
        r.getAs[Int]("status"), r.getAs[Int]("generation"))).sortBy(_._1).toSeq
    assert(traceOf(hooked) == traceOf(base), "hook must not perturb the trace")
    val titles = hooked.results().collect()
      .map(r => r.getAs[String]("url") -> r.getAs[String]("title")).toMap
    assert(titles("https://p.test/one") == "ONE [H]")
    assert(titles("https://p.test/two") == "TWO [H]")
    val texts = hooked.results().collect()
      .map(r => r.getAs[String]("url") -> r.getAs[String]("text")).toMap
    assert(texts.values.forall(_.endsWith("|hooked")))
    val md = hooked.results().collect()
      .map(r => r.getAs[String]("markdown")).toSeq
    assert(md.nonEmpty && md.forall(_.startsWith("md:")))
  }

  test("scheduling identity is engine-owned: a hostile hook cannot move rows") {
    val base = crawl("nohook2", None)
    val evil = crawl("evil", Some(hostileHook))
    def traceOf(e: CrawlEngine) = e.trace().collect()
      .map(r => (r.getAs[Long]("seq"), r.getAs[String]("url"), r.getAs[Int]("depth"),
        r.getAs[Int]("status"), r.getAs[Boolean]("success"),
        r.getAs[Boolean]("terminal"), r.getAs[Int]("generation"))).sortBy(_._1).toSeq
    assert(traceOf(evil) == traceOf(base),
      "identity fields returned by the hook must be ignored")
    // the content part of the hostile hook still lands
    val titles = evil.results().collect().map(_.getAs[String]("title")).toSeq
    assert(titles.forall(_.endsWith(" [X]")))
  }
}
