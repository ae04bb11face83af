package graft.engine

import graft.fixtures.SiteGen
import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Engine-integrated trap gate (CrawlConfig.trapMaxUrls): a synthetic
  * calendar trap must be cut off at its cap while the rest of the site
  * crawls normally, the gate must be off by default, and a killed run must
  * resume to the identical final state (the gate reads only committed
  * state, so it is deterministic across restarts). */
class TrapGateSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("trap-gate-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val ts = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:00Z"))
  private def page(url: String, links: Seq[String]): SiteGen.PageRow = {
    val html = "<html><body>" +
      links.map(l => s"""<a href="$l">x</a>""").mkString +
      "</body></html>"
    SiteGen.PageRow(url, ts, html.getBytes("UTF-8"), "", "en")
  }

  /** One host: /start fans into an unbounded /cal/N family (each page links
    * two pages ahead) plus two ordinary leaves. */
  private lazy val corpus: Seq[SiteGen.PageRow] =
    (page("https://t.test/start", Seq("/cal/1", "/cal/2", "/about", "/faq")) +:
      (1 to 40).map(i =>
        page(s"https://t.test/cal/$i", Seq(s"/cal/${i + 2}", s"/cal/${i + 3}")))) ++
      Seq(page("https://t.test/about", Nil), page("https://t.test/faq", Nil))

  private lazy val pagesDf = {
    val s = spark; import s.implicits._
    s.createDataset(corpus).toDF()
  }

  private def settings = CrawlEngine.Settings()

  private def calCount(e: CrawlEngine): Long =
    e.seenSet().collect().map(_.getString(1)).count(_.contains("/cal/"))

  private val calKey = graft.frontier.Traps.familyKey("jt", "t.test", "/cal/~d")

  test("the calendar family stops at its cap; the rest of the site is " +
      "untouched; the crossed family is visible in engine state") {
    val cfg = CrawlConfig("jt", Seq("https://t.test/start"),
      strategy = "same-hostname", limit = 1000, maxDepth = 50, trapMaxUrls = 5)
    val e = new CrawlEngine(spark, pagesDf, Files.createTempDirectory("trap").toString,
      Map.empty, settings)
    e.run(Seq(cfg))
    // growth: gen0 enqueues cal/1-2 (family 2 < 5), gen1 enqueues cal/3-5
    // (family 5), gen2's refresh sees 5 >= 5 and gates every further child
    assert(calCount(e) == 5L, "family capped at exactly the crossing commit")
    assert(e.trapCrossed.contains(calKey), s"crossed set: ${e.trapCrossed}")
    val seen = e.seenSet().collect().map(_.getString(1)).toSet
    assert(seen.exists(_.endsWith("/about")) && seen.exists(_.endsWith("/faq")),
      "ordinary pages crawl normally")
    assert(e.finalProgress("jt").finalized)
  }

  test("gate off by default: the same crawl without trapMaxUrls explores " +
      "far past the cap") {
    val cfg = CrawlConfig("ju", Seq("https://t.test/start"),
      strategy = "same-hostname", limit = 1000, maxDepth = 50)
    val e = new CrawlEngine(spark, pagesDf, Files.createTempDirectory("trap0").toString,
      Map.empty, settings)
    e.run(Seq(cfg))
    assert(calCount(e) > 20L)
    assert(e.trapCrossed.isEmpty)
  }

  test("kill mid-crawl and resume: identical final seen set, counts, and " +
      "crossed state (gate derives from committed state only)") {
    val cfg = CrawlConfig("jt", Seq("https://t.test/start"),
      strategy = "same-hostname", limit = 1000, maxDepth = 50, trapMaxUrls = 5)
    val full = new CrawlEngine(spark, pagesDf, Files.createTempDirectory("trapf").toString,
      Map.empty, settings)
    full.run(Seq(cfg))
    val dirCut = Files.createTempDirectory("trapc").toString
    val cut = new CrawlEngine(spark, pagesDf, dirCut, Map.empty,
      settings.copy(maxGenerations = 2))
    cut.run(Seq(cfg))
    val resumed = new CrawlEngine(spark, pagesDf, dirCut, Map.empty, settings)
    resumed.resume(Seq(cfg))
    val a = full.seenSet().collect().map(r => (r.getString(0), r.getString(1))).toSet
    val b = resumed.seenSet().collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(a == b)
    assert(calCount(resumed) == 5L)
    assert(resumed.trapCrossed == full.trapCrossed)
    val pf = full.finalProgress("jt"); val pr = resumed.finalProgress("jt")
    assert((pf.enqueued, pf.done, pf.succeeded) == ((pr.enqueued, pr.done, pr.succeeded)))
  }

  test("trap-count sidecars ride compaction buckets, and refresh over " +
      "buckets + tail yields the identical capped state") {
    import scala.jdk.CollectionConverters._
    val cfg = CrawlConfig("jt", Seq("https://t.test/start"),
      strategy = "same-hostname", limit = 1000, maxDepth = 50, trapMaxUrls = 5)
    val dir = Files.createTempDirectory("trapb").toString
    val e = new CrawlEngine(spark, pagesDf, dir, Map.empty,
      settings.copy(compactEvery = 2)) // force buckets to form mid-crawl
    e.run(Seq(cfg))
    assert(calCount(e) == 5L, "bucketed counts + tail derive = same verdicts")
    assert(e.trapCrossed.contains(calKey))
    val seenDir = java.nio.file.Paths.get(dir, "seen")
    val buckets = Files.list(seenDir).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("bucket=")).toSeq
    assert(buckets.nonEmpty, "compaction produced buckets in this run")
    assert(buckets.forall(b => Files.exists(b.resolve("_trapcounts"))),
      "every bucket written while the gate is on carries its count sidecar")
  }
}
