package graft.engine

import java.nio.file.Files

import graft.fixtures.SiteGen
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Pins the load-bearing physical-plan properties of the crawl engine's
  * superstep stages (the PLANS.md "q24 engine stage" sections), for BOTH
  * gear paths: the small-step/fast-expand gears a test-sized crawl takes
  * and the salted-window/shuffled-hash gears the 100 TB shape takes.
  * Captured via Settings.capturePlans (analysis-only — no execution cost
  * when off). The point: a regression that flips a pinned join strategy,
  * drops the salt phase, or sneaks a hash exchange into the fast path
  * fails HERE, not in a benchmark three rounds later. */
class PlanCaptureSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("plan-capture-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def corpus = {
    val s = spark; import s.implicits._
    val sizes = SiteGen.hostSizes(120, 4)
    spark.range(sizes.map(_.toLong).sum).mapPartitions { it =>
      it.map { idx =>
        val (h, p) = SiteGen.hostPage(sizes, idx)
        (SiteGen.pageUrl(h, p), SiteGen.pageHtml(42L, h, p, sizes).getBytes("UTF-8"))
      }
    }.toDF("url", "html")
  }

  private def run(st: CrawlEngine.Settings): Map[String, String] = {
    val eng = new CrawlEngine(spark, corpus,
      Files.createTempDirectory("plancap").toString,
      robotsBodies = Map.empty, settings = st)
    eng.run(Seq(CrawlConfig("audit", Seq(SiteGen.pageUrl(0, 0)),
      strategy = "all", maxDepth = 12, limit = 80,
      hostBudgetPerStep = 16, politenessWaves = 2)))
    eng.capturedPlans.toMap
  }

  private lazy val base = CrawlEngine.Settings(capturePlans = true)
  private lazy val fastGear = run(base)
  private lazy val wideGear = run(base.copy(wideMinRows = 0L))

  test("fast gears: broadcast fetch join; expansion has no hash exchange") {
    val fetch = fastGear("fetch-join-broadcast")
    assert(fetch.contains("BroadcastHashJoin"))
    assert(!fetch.contains("ShuffledHashJoin") && !fetch.contains("SortMergeJoin"),
      "small-batch fetch must never shuffle the corpus side")
    val expand = fastGear("expand-fast")
    assert(expand.contains("Coalesce"))
    assert(!expand.contains("Window (") && !expand.contains("SortMergeJoin") &&
      !expand.contains("ShuffledHashJoin"),
      "fast expansion must be a narrow single-task pass (broadcast anti-join " +
        "only — no windows, no shuffled joins):\n" + expand)
    assert(!fastGear.contains("schedule-wide"),
      "small steps must take the one-pass schedule, not the window path")
  }

  test("wide gears: salted two-phase windows, pinned shuffled-hash fetch") {
    val sched = wideGear("schedule-wide")
    val winOps = sched.linesIterator.count(l => l.contains("Window ("))
    assert(winOps >= 4,
      s"expected the 2x salted two-phase windows (politeness + limit), saw $winOps:\n$sched")
    assert(sched.contains("pmod(xxhash64("),
      "the salt column must appear in the window partitioning")
    val fetch = wideGear("fetch-join-shuffled-hash")
    assert(fetch.contains("ShuffledHashJoin"),
      "large-batch fetch must take the pinned shuffled-hash strategy")
    val expand = wideGear("expand-wide")
    assert(expand.contains("Arguments: hashpartitioning(") ||
      expand.contains("Arguments: REPARTITION"),
      "wide expansion dedups via a key-hashed exchange:\n" + expand)
    assert(expand.contains("LeftAnti"),
      "the exact seen anti-join must appear above the bloom tag filter")
    assert(expand.linesIterator.count(l => l.contains("Window (")) >= 2,
      "enqueue caps must take the salted two-phase windows in the wide gear")
    // frontier scans prune + push the jobId predicate
    assert(sched.contains("PushedFilters"), "frontier scan must push job filters")
  }
}
