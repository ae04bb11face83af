package graft.engine

import graft.fixtures.SiteGen
import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Engine-integrated sitemap fan-out (CrawlConfig.parseSitemaps): a
  * sitemapindex seed expands member sitemaps and page locs as ordinary BSP
  * frontier rounds; relative locs resolve against the sitemap's own URL;
  * HTML extraction still runs on ordinary pages in the same crawl; and the
  * channel is off by default. */
class SitemapCrawlSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("sitemap-crawl-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val ts = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:00Z"))
  private def page(url: String, body: String): SiteGen.PageRow =
    SiteGen.PageRow(url, ts, body.getBytes("UTF-8"), "", "en")

  private lazy val corpus: Seq[SiteGen.PageRow] = Seq(
    page("https://s.test/sitemap.xml",
      """<?xml version="1.0"?><sitemapindex>
        |<sitemap><loc>https://s.test/a.xml</loc></sitemap>
        |<sitemap><loc>https://s.test/b.xml</loc></sitemap>
        |</sitemapindex>""".stripMargin),
    page("https://s.test/a.xml",
      "<urlset><url><loc>https://s.test/p1</loc></url>" +
        "<url><loc>https://s.test/p2</loc></url></urlset>"),
    page("https://s.test/b.xml",
      // one absolute loc, one RELATIVE loc (protocol violation the parser
      // tolerates; must resolve against b.xml's own URL)
      "<urlset><url><loc>https://s.test/p3</loc></url>" +
        "<url><loc>p4</loc></url></urlset>"),
    page("https://s.test/p1",
      """<html><body>one <a href="/p5">five</a></body></html>"""),
    page("https://s.test/p2", "<html><body>two</body></html>"),
    page("https://s.test/p3", "<html><body>three</body></html>"),
    page("https://s.test/p4", "<html><body>four</body></html>"),
    page("https://s.test/p5", "<html><body>five</body></html>"))

  private lazy val pagesDf = {
    val s = spark; import s.implicits._
    s.createDataset(corpus).toDF()
  }

  private def settings = CrawlEngine.Settings()

  test("sitemapindex seed fans out members then pages then HTML links, " +
      "each hop one BSP generation deeper; relative locs resolve") {
    val cfg = CrawlConfig("js", Seq("https://s.test/sitemap.xml"),
      strategy = "same-hostname", limit = 100, maxDepth = 10,
      parseSitemaps = true)
    val e = new CrawlEngine(spark, pagesDf,
      Files.createTempDirectory("smcrawl").toString, Map.empty, settings)
    e.run(Seq(cfg))
    val byUrl = e.trace().collect()
      .map(r => r.getAs[String]("url") -> r.getAs[Int]("depth")).toMap
    assert(byUrl == Map(
      "https://s.test/sitemap.xml" -> 0,
      "https://s.test/a.xml" -> 1, "https://s.test/b.xml" -> 1,
      "https://s.test/p1" -> 2, "https://s.test/p2" -> 2,
      "https://s.test/p3" -> 2, "https://s.test/p4" -> 2,
      "https://s.test/p5" -> 3))
    assert(e.finalProgress("js").done == 8L)
    // sitemap rows carry no extracted text; HTML rows do
    val res = e.results().collect()
      .map(r => r.getAs[String]("url") -> r.getAs[String]("text")).toMap
    assert(res("https://s.test/a.xml") == "")
    assert(res("https://s.test/p2").nonEmpty)
  }

  test("off by default: the XML seed yields no fan-out (its <loc> tags are " +
      "not a[href] links)") {
    val cfg = CrawlConfig("jn", Seq("https://s.test/sitemap.xml"),
      strategy = "same-hostname", limit = 100, maxDepth = 10)
    val e = new CrawlEngine(spark, pagesDf,
      Files.createTempDirectory("smoff").toString, Map.empty, settings)
    e.run(Seq(cfg))
    assert(e.finalProgress("jn").done == 1L)
  }

  test("isSitemap root probe: decls/comments skipped, HTML and text rejected") {
    import graft.sources.Sitemap
    assert(Sitemap.isSitemap("<?xml version=\"1.0\"?><!-- c --><urlset/>"))
    assert(Sitemap.isSitemap("﻿  <sm:sitemapindex xmlns:sm=\"x\">"))
    assert(!Sitemap.isSitemap("<html><body>urlset</body></html>"))
    assert(!Sitemap.isSitemap("https://t.test/plain\nhttps://t.test/text"))
    assert(!Sitemap.isSitemap(null))
    assert(!Sitemap.isSitemap(""))
  }
}
