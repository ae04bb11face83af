package graft.engine

import graft.core.UrlOps
import graft.fixtures.SiteGen
import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Opt-in site-granular politeness (CrawlConfig.politenessByDomain): the
  * per-step budget groups by registrable domain (Psl eTLD+1) instead of
  * hostname — two subdomains of one site share a budget. Default off keeps
  * host-granular, reference-exact scheduling (all other engine specs). */
class PolitenessDomainSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("politeness-domain-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val ts = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:00Z"))
  private def page(url: String, body: String): SiteGen.PageRow =
    SiteGen.PageRow(url, ts, body.getBytes("UTF-8"), "", "en")

  // seed fans out to two subdomains of siteA plus one host of siteB. With
  // hostBudgetPerStep = 1: host mode fetches all three in one superstep
  // (distinct hosts) -> canonical order [a., b., c.]; domain mode admits one
  // siteA row per step -> b.sitea defers a generation, order [a., c., b.].
  private lazy val corpus: Seq[SiteGen.PageRow] = Seq(
    page("https://a.sitea.test/",
      """<html><body>
        |<a href="https://a.sitea.test/p">ap</a>
        |<a href="https://b.sitea.test/p">bp</a>
        |<a href="https://c.siteb.test/p">cp</a>
        |</body></html>""".stripMargin),
    page("https://a.sitea.test/p", "<html><body>ap</body></html>"),
    page("https://b.sitea.test/p", "<html><body>bp</body></html>"),
    page("https://c.siteb.test/p", "<html><body>cp</body></html>"))

  private def settings = CrawlEngine.Settings()

  private def cfg(job: String, byDomain: Boolean) = CrawlConfig(job,
    Seq("https://a.sitea.test/"), strategy = "all", limit = 100, maxDepth = 2,
    hostBudgetPerStep = 1, politenessByDomain = byDomain)

  private def run(job: String, byDomain: Boolean,
      forceWidePath: Boolean = false): Seq[String] = {
    val s = spark; import s.implicits._
    val st = if (forceWidePath) settings.copy(fastExpandMaxPend = 0L) else settings
    val e = new CrawlEngine(spark, s.createDataset(corpus).toDF(),
      Files.createTempDirectory("poldom").toString, Map.empty, st)
    e.run(Seq(cfg(job, byDomain)))
    e.trace().collect()
      .map(r => (r.getAs[Long]("seq"), r.getAs[String]("url"))).sortBy(_._1)
      .map(_._2).toSeq
  }

  private val hostOrder = Seq(
    "https://a.sitea.test/",
    "https://a.sitea.test/p", "https://b.sitea.test/p", "https://c.siteb.test/p")
  private val domainOrder = Seq(
    "https://a.sitea.test/",
    "https://a.sitea.test/p", "https://c.siteb.test/p", "https://b.sitea.test/p")

  test("domain grouping defers the second subdomain; host mode doesn't") {
    assert(run("h1", byDomain = false) == hostOrder)
    assert(run("d1", byDomain = true) == domainOrder)
  }

  test("wide (DataFrame window) schedule path agrees") {
    assert(run("d2", byDomain = true, forceWidePath = true) == domainOrder)
  }

  test("engine trace equals the sequential oracle in domain mode") {
    val pagesByNorm = corpus.map(p =>
      UrlOps.normalize(p.url) -> new String(p.html, "UTF-8")).toMap
    val oracle = SequentialOracle.crawl(pagesByNorm, Seq(cfg("d3", byDomain = true)))
    assert(run("d3", byDomain = true) == oracle.trace.sortBy(_.seq).map(_.url))
  }

  test("domain-mode Crawl-delay: the strictest member host governs the group") {
    // robots keyed by HOSTNAMES; the group key is the eTLD+1. a.sitea
    // declares delay 2 (budget 5), b.sitea declares 10 (budget 1): the
    // group budget must be the min (1), not the uncapped base from a
    // missed verbatim lookup of key "sitea.test".
    val robots = Map(
      "a.sitea.test" -> graft.core.Robots.parse("User-agent: *\nCrawl-delay: 2"),
      "b.sitea.test" -> graft.core.Robots.parse("User-agent: *\nCrawl-delay: 10"))
    val c = cfg("dd", byDomain = true).copy(crawlDelayEpochSeconds = 10.0)
    assert(CrawlEngine.effectiveBudget(c, robots, base = 8L, "sitea.test") == 1L)
    // a group with no robots-known member keeps the base
    assert(CrawlEngine.effectiveBudget(c, robots, base = 8L, "siteb.test") == 8L)
    // host mode unchanged: verbatim hostname lookup
    val ch = cfg("dh", byDomain = false).copy(crawlDelayEpochSeconds = 10.0)
    assert(CrawlEngine.effectiveBudget(ch, robots, base = 8L, "a.sitea.test") == 5L)
    assert(CrawlEngine.effectiveBudget(ch, robots, base = 8L, "sitea.test") == 8L)
  }

  test("indexed budget probe == direct robots scan (both modes, random maps)") {
    // the engine's hot paths probe crawlDelayIndex via effectiveBudgetIndexed;
    // this pins the O(1) probe to the semantic definition on randomized
    // robots maps: mixed subdomain depths, delays present/absent, and hosts
    // with no robots entry at all.
    val rnd = new scala.util.Random(1205L)
    val sites = Seq("sitea.test", "siteb.test", "sitec.example", "lone.org")
    (1 to 40).foreach { trial =>
      val hosts = sites.flatMap { s =>
        (0 until rnd.nextInt(4)).map(i => s"sub$i.$s") ++
          (if (rnd.nextBoolean()) Seq(s) else Nil)
      }
      val robots = hosts.flatMap { h =>
        if (rnd.nextBoolean())
          Some(h -> graft.core.Robots.parse(
            if (rnd.nextBoolean()) s"User-agent: *\nCrawl-delay: ${1 + rnd.nextInt(12)}"
            else "User-agent: *\nDisallow: /private"))
        else None
      }.toMap
      Seq(true, false).foreach { byDomain =>
        val c = cfg(s"t$trial", byDomain).copy(crawlDelayEpochSeconds = 10.0)
        val idx = CrawlEngine.crawlDelayIndex(Map(c.jobId -> c), robots)
          .getOrElse(c.jobId, Map.empty)
        val keys = (hosts ++ sites ++ Seq("unknown.test")).map(h =>
          CrawlEngine.politeKey(c, h)).distinct
        keys.foreach { k =>
          assert(CrawlEngine.effectiveBudgetIndexed(c, idx, 8L, k) ==
            CrawlEngine.effectiveBudget(c, robots, 8L, k),
            s"trial=$trial byDomain=$byDomain key=$k robots=${robots.keys}")
        }
      }
    }
    // opted-out jobs never touch the index (and build none)
    val cOff = cfg("off", byDomain = true)
    assert(CrawlEngine.crawlDelayIndex(Map("off" -> cOff), Map.empty).isEmpty)
    assert(CrawlEngine.effectiveBudgetIndexed(cOff, Map.empty, 8L, "x.test") == 8L)
  }

  test("property: indexed budget probe == direct robots scan (random maps, modes, agents)") {
    import org.scalacheck.{Gen, Prop, Test}
    import org.scalacheck.rng.Seed
    val sites = Seq("sitea.test", "siteb.test", "sitec.example", "lone.org", "shop.co.uk")
    val genHost = for {
      site <- Gen.oneOf(sites)
      depth <- Gen.choose(0, 2)
      i <- Gen.choose(0, 3)
    } yield ((1 to depth).map(d => s"s$i$d") :+ site).mkString(".")
    val genGroup = for {
      ua <- Gen.oneOf("*", "graftbot", "otherbot", "GraftBot")
      delay <- Gen.option(Gen.oneOf("0.5", "1", "2", "2.5", "10", "30"))
      disallow <- Gen.oneOf("", "Disallow: /private\n")
    } yield s"User-agent: $ua\n$disallow" + delay.fold("")(d => s"Crawl-delay: $d\n")
    val genBody = Gen.choose(1, 3).flatMap(Gen.listOfN(_, genGroup)).map(_.mkString("\n"))
    val gen = for {
      robots <- Gen.mapOf(Gen.zip(genHost, genBody))
      byDomain <- Gen.oneOf(true, false)
      agent <- Gen.oneOf("graftbot", "otherbot", "nobot")
      epoch <- Gen.oneOf(0.0, 10.0, 60.0)
      base <- Gen.choose(1L, 16L)
      probes <- Gen.listOfN(4, genHost)
    } yield (robots, byDomain, agent, epoch, base, probes)
    val prop = Prop.forAllNoShrink(gen) { case (robots, byDomain, agent, epoch, base, probes) =>
      val c = cfg("p", byDomain).copy(userAgent = agent, crawlDelayEpochSeconds = epoch)
      val rules = robots.map { case (h, b) => h -> graft.core.Robots.parse(b) }
      val idx = CrawlEngine.crawlDelayIndex(Map(c.jobId -> c), rules).getOrElse(c.jobId, Map.empty)
      (robots.keys ++ probes).map(CrawlEngine.politeKey(c, _)).forall { k =>
        CrawlEngine.effectiveBudgetIndexed(c, idx, base, k) ==
          CrawlEngine.effectiveBudget(c, rules, base, k)
      }
    }
    val params = Test.Parameters.default.withMinSuccessfulTests(400).withInitialSeed(Seed(1205L))
    val res = Test.check(params, prop)
    assert(res.passed, s"${res.status} after ${res.succeeded} cases")
  }

  test("politeBudgetColumn creates no broadcast per call") {
    // capacity-planning callers may ask for the column thousands of times in
    // one long-lived session, so a call must leave no broadcast behind
    val robots = Map("a.sitea.test" -> "User-agent: *\nCrawl-delay: 2",
      "b.sitea.test" -> "User-agent: *\nCrawl-delay: 10")
    val c = cfg("pb", byDomain = true).copy(hostBudgetPerStep = 8, crawlDelayEpochSeconds = 10.0)
    val sc = spark.sparkContext
    val before = sc.broadcast(0)
    (1 to 200).foreach(_ => CrawlEngine.politeBudgetColumn(c, robots))
    val after = sc.broadcast(0)
    assert(after.id - before.id <= 1, s"broadcast ids ${before.id} -> ${after.id}")
    Seq(before, after).foreach(_.destroy())
    // and the closure-captured index still answers on the executors
    val s = spark; import s.implicits._
    val col = CrawlEngine.politeBudgetColumn(c, robots)
    val got = Seq("a.sitea.test", "c.siteb.test").toDF("host")
      .select($"host", col($"host")).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val parsed = robots.map { case (h, b) => h -> graft.core.Robots.parse(b) }
    assert(got == got.keys.map(h =>
      h -> CrawlEngine.effectiveBudget(c, parsed, 8L, CrawlEngine.politeKey(c, h))).toMap)
    assert(got == Map("a.sitea.test" -> 1L, "c.siteb.test" -> 8L))
  }
}
