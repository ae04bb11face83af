package graft.engine

import graft.core.{Extractor, Html, LinkExtractor}
import graft.fixtures.SiteGen
import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Opt-in nofollow honoring (CrawlConfig.honorNofollow): rel=nofollow
  * anchors and meta-robots-nofollow pages contribute no out-links when a
  * job opts in; default-off keeps Crawlee-exact traces (the reference's
  * enqueueLinks has no rel check, Base.ts:362-403). */
class NofollowSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("nofollow-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val ts = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:00Z"))
  private def page(url: String, body: String): SiteGen.PageRow =
    SiteGen.PageRow(url, ts, body.getBytes("UTF-8"), "", "en")

  // seed links to /a (followed), /b (rel=nofollow), /c (rel="NOFOLLOW, noopener");
  // /a is a meta-robots-nofollow page linking to /d; /b links to /e
  private lazy val corpus: Seq[SiteGen.PageRow] = Seq(
    page("https://n.test/",
      """<html><body>
        |<a href="/a">a</a>
        |<a href="/b" rel="nofollow">b</a>
        |<a href="/c" rel="NOFOLLOW, noopener">c</a>
        |</body></html>""".stripMargin),
    page("https://n.test/a",
      """<html><head><meta name="ROBOTS" content="noindex, nofollow"></head>
        |<body><a href="/d">d</a></body></html>""".stripMargin),
    page("https://n.test/b",
      """<html><body><a href="/e">e</a></body></html>"""),
    page("https://n.test/c", "<html><body>c</body></html>"),
    page("https://n.test/d", "<html><body>d</body></html>"),
    page("https://n.test/e", "<html><body>e</body></html>"))

  private lazy val pagesDf = {
    val s = spark; import s.implicits._
    s.createDataset(corpus).toDF()
  }

  private def settings = CrawlEngine.Settings()

  test("kernel: rel tokens and meta robots directives gate links only when " +
      "honorNofollow is set") {
    val seedHtml = new String(corpus.head.html, "UTF-8")
    val metaHtml = new String(corpus(1).html, "UTF-8")
    // default: everything extracted, reference-exact
    assert(Extractor.extract("https://n.test/", seedHtml).links ==
      Seq("https://n.test/a", "https://n.test/b", "https://n.test/c"))
    assert(Extractor.extract("https://n.test/a", metaHtml).links ==
      Seq("https://n.test/d"))
    // opted in: rel=nofollow anchors dropped (case-insensitive, comma-
    // separated token lists), meta-nofollow pages yield nothing
    assert(Extractor.extract("https://n.test/", seedHtml,
      honorNofollow = true).links == Seq("https://n.test/a"))
    assert(Extractor.extract("https://n.test/a", metaHtml,
      honorNofollow = true).links.isEmpty)
    // content="none" implies nofollow; unrelated rel tokens don't match
    assert(LinkExtractor.metaNofollow(Html.parse(
      """<html><head><meta name="robots" content="none"></head></html>""")))
    assert(!LinkExtractor.metaNofollow(Html.parse(
      """<html><head><meta name="robots" content="noindex"></head></html>""")))
    assert(Extractor.extract("https://n.test/",
      """<a href="/x" rel="noopener noreferrer">x</a>""",
      honorNofollow = true).links == Seq("https://n.test/x"))
  }

  test("crawl loop: opted-in job never enqueues nofollow'd subtrees") {
    val cfg = CrawlConfig("nf", Seq("https://n.test/"),
      strategy = "same-hostname", limit = 100, maxDepth = 10,
      honorNofollow = true)
    val e = new CrawlEngine(spark, pagesDf,
      Files.createTempDirectory("nofollow").toString, Map.empty, settings)
    e.run(Seq(cfg))
    val urls = e.trace().collect().map(_.getAs[String]("url")).toSet
    // /b, /c cut by rel; /d cut by /a's meta robots; /e unreachable via /b
    assert(urls == Set("https://n.test/", "https://n.test/a"))
    assert(e.finalProgress("nf").done == 2L)
  }

  test("off by default: the same crawl follows every link (reference-exact)") {
    val cfg = CrawlConfig("nd", Seq("https://n.test/"),
      strategy = "same-hostname", limit = 100, maxDepth = 10)
    val e = new CrawlEngine(spark, pagesDf,
      Files.createTempDirectory("nofollowoff").toString, Map.empty, settings)
    e.run(Seq(cfg))
    assert(e.finalProgress("nd").done == 6L)
  }
}
