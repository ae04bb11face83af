package graft.engine

import graft.core.UrlOps
import graft.fixtures.SiteGen
import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Opt-in rank-guided frontier (CrawlConfig.priorityOf): a fresh entry's
  * priority comes from the supplied function (e.g. precomputed PageRank)
  * instead of FIFO discovery order; canonical order stays
  * (depth, priority, urlNorm). Default None keeps reference-exact traces —
  * covered by every other engine spec. */
class PrioritySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("priority-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val ts = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:00Z"))
  private def page(url: String, body: String): SiteGen.PageRow =
    SiteGen.PageRow(url, ts, body.getBytes("UTF-8"), "", "en")

  // seed fans out to four pages; link order (banana, apple, cherry, date)
  // differs from BOTH the rank order below and alphabetical urlNorm order,
  // so a passing trace can only come from the priority function.
  private lazy val corpus: Seq[SiteGen.PageRow] = Seq(
    page("https://p.test/",
      """<html><body>
        |<a href="/banana">b</a><a href="/apple">a</a>
        |<a href="/cherry">c</a><a href="/date">d</a>
        |</body></html>""".stripMargin),
    page("https://p.test/banana", "<html><body>b</body></html>"),
    page("https://p.test/apple", "<html><body>a</body></html>"),
    page("https://p.test/cherry", "<html><body>c</body></html>"),
    page("https://p.test/date", "<html><body>d</body></html>"))

  // the lambda must not capture the spec instance (Spark serializes it):
  // close over a block-local map only
  private val rankFn: String => Long = {
    val ranks: Map[String, Long] = Map(
      "https://p.test/banana" -> 10L,
      "https://p.test/apple" -> 20L,
      "https://p.test/cherry" -> 5L,
      "https://p.test/date" -> 15L)
    norm => ranks.getOrElse(norm, 0L)
  }

  private def settings = CrawlEngine.Settings()

  private def cfg(job: String) = CrawlConfig(job, Seq("https://p.test/"),
    strategy = "same-hostname", limit = 100, maxDepth = 3,
    priorityOf = Some(rankFn))

  test("fetch order within a depth follows the rank function, not discovery") {
    val s = spark; import s.implicits._
    val e = new CrawlEngine(spark, s.createDataset(corpus).toDF(),
      Files.createTempDirectory("prio").toString, Map.empty, settings)
    e.run(Seq(cfg("pr")))
    val got = e.trace().collect()
      .map(r => (r.getAs[Long]("seq"), r.getAs[String]("url"))).sortBy(_._1)
    assert(got.map(_._2).toSeq == Seq(
      "https://p.test/",
      "https://p.test/cherry", "https://p.test/banana",
      "https://p.test/date", "https://p.test/apple"))
  }

  test("composition: PageRank over the extracted link graph drives the frontier") {
    val s = spark; import s.implicits._
    // corpus where /cherry is the popular page: every sibling links to it
    val corpus2 = Seq(
      page("https://p.test/",
        """<html><body><a href="/banana">b</a><a href="/apple">a</a>
          |<a href="/cherry">c</a><a href="/date">d</a></body></html>""".stripMargin),
      page("https://p.test/banana", """<a href="/cherry">c</a>"""),
      page("https://p.test/apple", """<a href="/cherry">c</a>"""),
      page("https://p.test/cherry", "<html><body>c</body></html>"),
      page("https://p.test/date", """<a href="/cherry">c</a>"""))
    // extract the link graph with the real kernel, rank it, negate ranks so
    // higher PageRank = fetched earlier — the deployment pattern the
    // CrawlConfig.priorityOf scaladoc describes
    val urls = corpus2.map(_.url)
    val idOf = urls.zipWithIndex.map { case (u, i) => u -> i.toLong }.toMap
    val edges = corpus2.flatMap { p =>
      graft.core.Extractor.extract(p.url, new String(p.html, "UTF-8")).links
        .flatMap(l => idOf.get(graft.core.UrlOps.normalize(l)))
        .map(d => (idOf(p.url), d))
    }
    val ranks = graft.pipeline.Graph
      .pageRankFixedPoint(edges.toDF("src", "dst"), "src", "dst", iterations = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byNorm: Map[String, Long] =
      idOf.map { case (u, i) => u -> -ranks.getOrElse(i, 0L) }
    val fn: String => Long = { val m = byNorm; norm => m.getOrElse(norm, 0L) }
    assert(ranks(idOf("https://p.test/cherry")) >
      ranks(idOf("https://p.test/banana")), "cherry must out-rank siblings")

    val e = new CrawlEngine(spark, s.createDataset(corpus2).toDF(),
      Files.createTempDirectory("prio3").toString, Map.empty, settings)
    e.run(Seq(CrawlConfig("pc", Seq("https://p.test/"),
      strategy = "same-hostname", limit = 100, maxDepth = 3,
      priorityOf = Some(fn))))
    val got = e.trace().collect()
      .map(r => (r.getAs[Long]("seq"), r.getAs[String]("url"))).sortBy(_._1).map(_._2)
    // depth 1: cherry first (top rank), then the equal-rank rest in urlNorm order
    assert(got.toSeq == Seq(
      "https://p.test/",
      "https://p.test/cherry", "https://p.test/apple",
      "https://p.test/banana", "https://p.test/date"))
  }

  test("engine trace equals the sequential oracle under the same rank function") {
    val s = spark; import s.implicits._
    val pagesByNorm = corpus.map(p =>
      UrlOps.normalize(p.url) -> new String(p.html, "UTF-8")).toMap
    val oracle = SequentialOracle.crawl(pagesByNorm, Seq(cfg("po")))
    val e = new CrawlEngine(spark, s.createDataset(corpus).toDF(),
      Files.createTempDirectory("prio2").toString, Map.empty, settings)
    e.run(Seq(cfg("po")))
    val got = e.trace().collect()
      .map(r => (r.getAs[Long]("seq"), r.getAs[String]("url"),
        r.getAs[Int]("depth"), r.getAs[Int]("status"))).sortBy(_._1)
    val want = oracle.trace.map(t => (t.seq, t.url, t.depth, t.status))
    assert(got.toSeq == want)
  }
}
