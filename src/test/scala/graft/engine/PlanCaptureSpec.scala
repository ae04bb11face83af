package graft.engine

import java.nio.file.Files

import graft.fixtures.SiteGen
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** Pins the load-bearing physical-plan properties of the crawl engine's
  * superstep stages (the PLANS.md "q24 engine stage" sections), for BOTH
  * gear paths: the small-step/fast-expand gears a test-sized crawl takes
  * and the salted-window/shuffled-hash gears the 100 TB shape takes.
  * Captured via Settings.capturePlans (analysis-only — no execution cost
  * when off); the RDD stages (the fetch and the fast expansion) are
  * captured as their lineage. The point: a regression that flips a pinned
  * join strategy, drops the salt phase, re-shuffles the corpus or sneaks a
  * shuffle into the fast path fails HERE, not in a benchmark three rounds
  * later. */
class PlanCaptureSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("plan-capture-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def run(st: CrawlEngine.Settings): Map[String, String] = {
    val eng = new CrawlEngine(spark, SiteGen.corpusFrame(spark, 42L, 120, 4),
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

  /** The fetch is one RDD stage in every gear, captured as its lineage:
    * exactly one shuffle, the batch's, onto the corpus's partitioner, and
    * the corpus side a narrow dependency on the persisted `pages` RDD (the
    * corpus is never re-shuffled), with no broadcast, anti-join or union. */
  private def assertOneFetchShuffle(fetch: String): Unit = {
    val lines = fetch.linesIterator.toSeq
    assert(lines.head.contains("ZippedPartitionsRDD2"), fetch)
    val shuffles = lines.indices.filter(i => lines(i).trim.startsWith("shuffle <- "))
    assert(shuffles.size == 1, s"one shuffle, the batch's:\n$fetch")
    assert(lines(shuffles.head - 1).startsWith("  narrow <- (4) batch ShuffledRDD"), fetch)
    val corpus = lines.filter(_.contains(" pages ShuffledRDD"))
    assert(corpus.size == 1 && corpus.head.startsWith("  narrow <- (4) pages ShuffledRDD") &&
      corpus.head.endsWith(s"[${StorageLevel.MEMORY_AND_DISK.description}]"),
      s"the corpus must be a narrow read of the persisted pages RDD:\n$fetch")
  }

  private lazy val base = CrawlEngine.Settings(capturePlans = true)
  private lazy val fastGear = run(base)
  private lazy val wideGear = run(base.copy(wideMinRows = 0L))

  test("fast gears: one batch shuffle into the fetch, none in the expansion") {
    assertOneFetchShuffle(fastGear("fetch-join"))
    // the whole next frontier is one task: a one-partition coalesce of the
    // four narrow streams, reading the extracted cache, never recomputing it
    val expand = fastGear("expand-fast")
    val lines = expand.linesIterator.toSeq
    assert(!expand.contains("shuffle <- "), "the fast expansion must run no shuffle:\n" + expand)
    assert(lines.head.startsWith("(1) MapPartitionsRDD") &&
      lines(1).startsWith("  narrow <- (1) CoalescedRDD") && lines(2).contains("narrow <- ") &&
      lines(2).contains(" UnionRDD"), expand)
    assert(lines.count(_.endsWith(s"[${StorageLevel.MEMORY_AND_DISK.description}]")) == 2,
      "the result keys and the link candidates read the persisted extracted rows:\n" + expand)
    assert(!fastGear.contains("schedule-wide"),
      "small steps must take the one-pass schedule, not the window path")
  }

  test("the generation write: one insert partitioned by __kind over both kinds, no exchange") {
    val write = fastGear("write")
    val tree = ownOperators(write)
    assert(tree.count(_ == "Execute") == 1 && write.contains("Execute InsertIntoHadoopFsRelationCommand"), write)
    assert(write.linesIterator.exists(l => l.startsWith("Arguments:") && l.contains("/steps/gen=0, ") &&
      l.contains(", [__kind#")), "one write into the generation dir, partitioned by __kind:\n" + write)
    assert(tree.count(_ == "Union") == 1, tree)
    Seq("CrawlEngine$ExtractedRow", "CrawlEngine$FrontierRowF").foreach(k =>
      assert(write.linesIterator.exists(l => l.startsWith("Arguments:") && l.contains(k)), s"no $k leaf:\n$write"))
    Seq("Exchange", "Join", "InMemoryRelation").foreach(op =>
      assert(!write.contains(op), s"the fast generation write must run no $op:\n$write"))
  }

  test("wide gears: salted two-phase windows, the same one-shuffle fetch") {
    val sched = wideGear("schedule-wide")
    val winOps = sched.linesIterator.count(l => l.contains("Window ("))
    assert(winOps >= 4,
      s"expected the 2x salted two-phase windows (politeness + limit), saw $winOps:\n$sched")
    assert(sched.contains("pmod(xxhash64("),
      "the salt column must appear in the window partitioning")
    assertOneFetchShuffle(wideGear("fetch-join"))
    val expand = wideGear("expand-wide")
    assert(expand.contains("Arguments: hashpartitioning(") ||
      expand.contains("Arguments: REPARTITION"),
      "wide expansion dedups via a key-hashed exchange:\n" + expand)
    assert(expand.contains("LeftAnti"),
      "the exact seen anti-join must appear in the wide expansion")
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
