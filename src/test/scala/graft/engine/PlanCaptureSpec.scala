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

  /** The operator names of a formatted plan's tree, top down, without the
    * subtrees under cached relations (an InMemoryRelation's subtree is the
    * plan that filled the cache, not work this plan runs). */
  private def ownOperators(plan: String): Seq[String] = {
    val tree = plan.linesIterator.dropWhile(!_.startsWith("== Physical Plan"))
      .drop(1).takeWhile(_.trim.nonEmpty).toSeq
    var cachedAt = Int.MaxValue
    tree.flatMap { l =>
      val at = l.indexWhere(c => !" :+-|*".contains(c))
      if (at > cachedAt) None
      else {
        cachedAt = if (l.contains("InMemoryRelation")) at else Int.MaxValue
        Some(l.drop(at).takeWhile(_ != ' '))
      }
    }
  }

  /** The fetch is one plan in every gear: a left-outer shuffled-hash join
    * built on the batch, whose one ENSURE_REQUIREMENTS exchange hashes the
    * batch's urlNorm onto the cached corpus's partitioning (the corpus side,
    * `__purl`, is never re-hashed), with no broadcast, anti-join or union. */
  private def assertOneFetchJoin(fetch: String): Unit = {
    assert(fetch.contains("ShuffledHashJoin LeftOuter BuildLeft"), fetch)
    Seq("BroadcastExchange", "Union", "LeftAnti", "SortMergeJoin").foreach(op =>
      assert(!fetch.contains(op), s"the fetch must run no $op:\n$fetch"))
    val exchanges = fetch.linesIterator.map(_.trim)
      .filter(l => l.startsWith("Arguments:") && l.contains("ENSURE_REQUIREMENTS")).toSeq
    assert(exchanges.size == 1, s"one batch exchange, saw:\n${exchanges.mkString("\n")}")
    assert(exchanges.head.contains("hashpartitioning(urlNorm#") && !exchanges.head.contains("__purl"),
      exchanges.head)
  }

  private lazy val base = CrawlEngine.Settings(capturePlans = true)
  private lazy val fastGear = run(base)
  private lazy val wideGear = run(base.copy(wideMinRows = 0L))

  test("fast gears: shuffled-hash fetch join; expansion has no hash exchange") {
    assertOneFetchJoin(fastGear("fetch-join"))
    val expand = fastGear("expand-fast")
    assert(expand.contains("Coalesce"))
    assert(!expand.contains("Window (") && !expand.contains("SortMergeJoin"),
      "fast expansion must be a narrow single-task pass (no windows, no " +
        "shuffled joins):\n" + expand)
    // the whole next frontier is one pass: a Coalesce feeding one
    // MapPartitions, with no broadcast, join or exchange of its own (the
    // fetch's shuffled-hash join shows only under the cached results)
    val ops = ownOperators(expand)
    assert(!ops.exists(o => o.contains("Exchange") || o.contains("Join")),
      "the fast frontier pass must run no broadcast, join or exchange: " + ops)
    assert(ops.count(_ == "MapPartitions") == 1, ops)
    assert(ops.dropWhile(_ != "MapPartitions").drop(1)
      .dropWhile(o => o == "DeserializeToObject" || o == "Project").headOption.contains("Coalesce"),
      "the one MapPartitions must read the Coalesce: " + ops)
    assert(!fastGear.contains("schedule-wide"),
      "small steps must take the one-pass schedule, not the window path")
  }

  test("wide gears: salted two-phase windows, same pinned shuffled-hash fetch") {
    val sched = wideGear("schedule-wide")
    val winOps = sched.linesIterator.count(l => l.contains("Window ("))
    assert(winOps >= 4,
      s"expected the 2x salted two-phase windows (politeness + limit), saw $winOps:\n$sched")
    assert(sched.contains("pmod(xxhash64("),
      "the salt column must appear in the window partitioning")
    assertOneFetchJoin(wideGear("fetch-join"))
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

  test("PlanAudit cuts a long plan at a line break and marks it truncated") {
    val plan = (1 to 400).map(i => s"($i) Project [a#$i, b#$i]").mkString("\n")
    val cut = graft.PlanAudit.fullPlan(plan)
    val lines = cut.linesIterator.toSeq
    assert(lines.init.forall(plan.linesIterator.toSet.contains), "every kept line is whole")
    assert(lines.last.startsWith("... (truncated") && cut.length <= 6000 + lines.last.length + 1)
    assert(graft.PlanAudit.fullPlan(plan.take(500)) == plan.take(500))
  }
}
