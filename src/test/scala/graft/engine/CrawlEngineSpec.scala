package graft.engine

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.fixtures.SiteGen
import graft.core.UrlOps
import java.nio.file.Files

class CrawlEngineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("crawl-engine-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val seed = 42L
  private val nPages = 80
  private val nHosts = 4
  private lazy val corpusRows = SiteGen.rows(seed, nPages, nHosts).toSeq
  private lazy val pagesByNorm: Map[String, String] =
    corpusRows.map(r => UrlOps.normalize(r.url) -> new String(r.html, "UTF-8")).toMap

  private lazy val pagesDf = {
    val s = spark; import s.implicits._
    s.createDataset(corpusRows).toDF()
  }

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"crawl-$tag").toString

  private def settings = CrawlEngine.Settings()

  /** The wide gears with leveled compaction at test sizes: wideMinRows=0
    * runs every step in the wide gears, so the exact seen anti-join reads
    * buckets ∪ tail, and aggressive compaction makes buckets form and merge
    * a level up. */
  private def wideCompacting = settings.copy(
    compactEvery = 2, levelFanout = 2, wideMinRows = 0L)

  private def engineTrace(e: CrawlEngine): Seq[SequentialOracle.TraceRow] = {
    e.trace().collect().map { r =>
      SequentialOracle.TraceRow(
        r.getAs[String]("jobId"), r.getAs[Long]("seq"), r.getAs[String]("url"),
        r.getAs[String]("urlNorm"), r.getAs[Int]("depth"), r.getAs[Int]("attempt"),
        r.getAs[Int]("status"))
    }.toSeq.sortBy(t => (t.jobId, t.seq))
  }

  private def runBoth(cfg: CrawlConfig, robots: Map[String, String] = Map.empty)
      : (Seq[SequentialOracle.TraceRow], SequentialOracle.Result, CrawlEngine) = {
    val dir = tmpDir(cfg.jobId)
    val engine = new CrawlEngine(spark, pagesDf, dir, robots, settings)
    engine.run(Seq(cfg))
    val oracle = SequentialOracle.crawl(pagesByNorm, Seq(cfg), robots)
    (engineTrace(engine), oracle, engine)
  }

  /** The progress fields the oracle keeps (it does not count credits). */
  private def oracleFields(p: JobProgress) =
    (p.enqueued, p.done, p.succeeded, p.failed, p.finalized, p.finalizeReason)

  private def assertTraceEqual(got: Seq[SequentialOracle.TraceRow], want: Seq[SequentialOracle.TraceRow]): Unit = {
    val wantSorted = want.sortBy(t => (t.jobId, t.seq))
    assert(got.map(t => (t.jobId, t.seq, t.urlNorm, t.depth, t.attempt, t.status)) ==
      wantSorted.map(t => (t.jobId, t.seq, t.urlNorm, t.depth, t.attempt, t.status)))
  }

  test("default same-domain crawl matches the sequential oracle exactly") {
    val cfg = CrawlConfig("j1", Seq("https://host0.example.test/p0.html"), limit = 40, maxDepth = 10)
    val (got, oracle, engine) = runBoth(cfg)
    assert(got.nonEmpty)
    assertTraceEqual(got, oracle.trace)
    // seen set identical
    val engineSeen = engine.seenSet().collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(engineSeen == oracle.seen)
    // progress identical
    val p = engine.finalProgress("j1")
    val op = oracle.progress("j1")
    assert((p.enqueued, p.done, p.succeeded, p.failed) == ((op.enqueued, op.done, op.succeeded, op.failed)))
    assert(p.finalized && op.finalized)
    // without a re-executed task the accumulators are exact: nothing recovers
    assert(engine.accumulatorRecoveries == 0)
  }

  test("limit cuts mid-generation (EngineConfigurator.ts:92-119 analog)") {
    val cfg = CrawlConfig("j2", Seq("https://host0.example.test/p0.html"), limit = 7)
    val (got, oracle, engine) = runBoth(cfg)
    assert(got.size == 7)
    assertTraceEqual(got, oracle.trace)
    assert(engine.finalProgress("j2").finalizeReason == "limit-reached")
  }

  test("max_depth cut") {
    val cfg = CrawlConfig("j3", Seq("https://host0.example.test/p0.html"), limit = 5000, maxDepth = 2)
    val (got, oracle, _) = runBoth(cfg)
    assert(got.map(_.depth).max <= 2)
    assertTraceEqual(got, oracle.trace)
  }

  test("same-hostname strategy restricts to the seed host") {
    val cfg = CrawlConfig("j4", Seq("https://host1.example.test/p0.html"),
      strategy = "same-hostname", limit = 5000)
    val (got, oracle, _) = runBoth(cfg)
    assert(got.forall(_.url.contains("host1.example.test")))
    assertTraceEqual(got, oracle.trace)
  }

  test("include/exclude path globs and regex literals (Base.ts:327-353)") {
    val cfg = CrawlConfig("j5", Seq("https://host0.example.test/p0.html"),
      limit = 5000, excludePaths = Seq("**/p1*.html"))
    val (got, oracle, _) = runBoth(cfg)
    assert(!got.exists(t => t.url.matches(".*/p1\\d*\\.html") && t.depth > 0))
    assertTraceEqual(got, oracle.trace)

    val cfg2 = CrawlConfig("j5b", Seq("https://host0.example.test/p0.html"),
      limit = 5000, includePaths = Seq("/\\/p[0-9]\\.html$/"))
    val (got2, oracle2, _) = runBoth(cfg2)
    assert(got2.filter(_.depth > 0).forall(_.url.matches(".*/p[0-9]\\.html")))
    assertTraceEqual(got2, oracle2.trace)
  }

  test("hot-host politeness budget throttles per superstep") {
    val cfg = CrawlConfig("j6", Seq("https://host0.example.test/p0.html"),
      limit = 30, hostBudgetPerStep = 2)
    val (got, oracle, engine) = runBoth(cfg)
    assertTraceEqual(got, oracle.trace)
    // no generation fetches more than 2 urls of one host
    val perGenHost = engine.trace().collect()
      .groupBy(r => (r.getAs[Int]("generation"), UrlOps.host(r.getAs[String]("url"))))
      .view.mapValues(_.length)
    assert(perGenHost.values.forall(_ <= 2))
  }

  test("politeness waves batched per superstep (politenessWaves > 1) match the oracle") {
    val cfg = CrawlConfig("j6w", Seq("https://host0.example.test/p0.html"),
      strategy = "all", limit = 50, hostBudgetPerStep = 3, politenessWaves = 4)
    val (got, oracle, engine) = runBoth(cfg)
    assertTraceEqual(got, oracle.trace)
    // per generation: at most waves*budget per host
    val perGenHost = engine.trace().collect()
      .groupBy(r => (r.getAs[Int]("generation"), UrlOps.host(r.getAs[String]("url"))))
      .view.mapValues(_.length)
    assert(perGenHost.values.forall(_ <= 12))
    // the point of waves: fewer commits than single-wave politeness
    val gensBatched = engine.trace().collect().map(_.getAs[Int]("generation")).max
    val (_, _, engine1) = runBoth(cfg.copy(jobId = "j6w1", politenessWaves = 1))
    val gens1 = engine1.trace().collect().map(_.getAs[Int]("generation")).max
    assert(gensBatched < gens1)
    // seen set + progress also equal
    val engineSeen = engine.seenSet().collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(engineSeen == oracle.seen)
    val p = engine.finalProgress("j6w"); val op = oracle.progress("j6w")
    assert((p.enqueued, p.done, p.succeeded, p.failed) ==
      ((op.enqueued, op.done, op.succeeded, op.failed)))
  }

  test("politeness waves with limit binding mid-wave match the oracle") {
    // limit cuts inside wave 2 of a 4-wave superstep: the wave-major prefix
    // must stop exactly where the oracle's does
    val cfg = CrawlConfig("j6x", Seq("https://host0.example.test/p0.html"),
      strategy = "all", limit = 11, hostBudgetPerStep = 2, politenessWaves = 4)
    val (got, oracle, engine) = runBoth(cfg)
    assert(got.size == 11)
    assertTraceEqual(got, oracle.trace)
    assert(engine.finalProgress("j6x").finalizeReason == "limit-reached")
  }

  test("robots.txt filtering as broadcast dimension (north rule)") {
    val robots = SiteGen.robotsRows(nHosts).toMap
    val cfg = CrawlConfig("j7", Seq("https://host0.example.test/p0.html"),
      limit = 5000, respectRobots = true)
    val (got, oracle, _) = runBoth(cfg, robots)
    // host1 disallows /p1.html and /p3*
    assert(!got.exists(t => t.url.contains("host1") &&
      (t.url.endsWith("/p1.html") || t.url.matches(".*/p3\\d*\\.html"))))
    assertTraceEqual(got, oracle.trace)
  }

  test("robots Crawl-delay caps the per-host budget when opted in (C2×C3)") {
    val robots = SiteGen.robotsRows(nHosts).toMap
    // host2 declares `Crawl-delay: 2`; epoch 4s → per-wave quota
    // floor(4/2) = 2, composed (min) with an unbounded hostBudgetPerStep.
    // Without the opt-in host2 would be drained in one generation.
    val cfg = CrawlConfig("j7d", Seq("https://host2.example.test/p0.html"),
      strategy = "same-hostname", limit = 0, respectRobots = true,
      crawlDelayEpochSeconds = 4.0)
    val (got, oracle, engine) = runBoth(cfg, robots)
    assertTraceEqual(got, oracle.trace)
    val perGen = engine.trace().collect()
      .groupBy(_.getAs[Int]("generation")).view.mapValues(_.length).toMap
    assert(got.size > 2, "fixture must have >2 host2 pages for the cap to bind")
    assert(perGen.values.forall(_ <= 2), s"Crawl-delay quota violated: $perGen")
    assert(perGen.values.exists(_ == 2))
    // opted out (epoch = 0, the default): host2 drains at full speed — the
    // delay directive alone must not change any existing trace
    val (got0, oracle0, engine0) =
      runBoth(cfg.copy(jobId = "j7d0", crawlDelayEpochSeconds = 0.0), robots)
    assertTraceEqual(got0, oracle0.trace)
    val perGen0 = engine0.trace().collect()
      .groupBy(_.getAs[Int]("generation")).view.mapValues(_.length).toMap
    assert(perGen0.values.max > 2)
    // waves compose: epoch 4 (quota 2) × 3 waves = at most 6 per generation,
    // still oracle-exact in wave-major order
    val (gotW, oracleW, engineW) =
      runBoth(cfg.copy(jobId = "j7dw", politenessWaves = 3), robots)
    assertTraceEqual(gotW, oracleW.trace)
    val perGenW = engineW.trace().collect()
      .groupBy(_.getAs[Int]("generation")).view.mapValues(_.length).toMap
    assert(perGenW.values.forall(_ <= 6), s"wave×delay cap violated: $perGenW")
  }

  test("hostBudgetWithDelay is total and composes min with the base budget") {
    import CrawlConfig.hostBudgetWithDelay
    assert(hostBudgetWithDelay(5L, 0.0, Some(2.0)) == 5L)       // opted out
    assert(hostBudgetWithDelay(5L, -1.0, Some(2.0)) == 5L)
    assert(hostBudgetWithDelay(5L, 10.0, None) == 5L)           // no directive
    assert(hostBudgetWithDelay(5L, 10.0, Some(0.0)) == 5L)      // degenerate delay
    assert(hostBudgetWithDelay(5L, 10.0, Some(-3.0)) == 5L)
    assert(hostBudgetWithDelay(5L, 10.0, Some(2.0)) == 5L)      // quota 5 = base
    assert(hostBudgetWithDelay(5L, 10.0, Some(5.0)) == 2L)      // quota binds
    assert(hostBudgetWithDelay(5L, 10.0, Some(60.0)) == 1L)     // >= 1 floor
    assert(hostBudgetWithDelay(Int.MaxValue.toLong, 4.0, Some(2.0)) == 2L)
  }

  test("404 retries with attempt budget (Queue.ts:83-88 analog)") {
    // corpus with a missing page: p1 links to it via a dead href
    val s = spark; import s.implicits._
    val rows = corpusRows
    val deadHtml = """<html><head><title>D</title></head><body><a href="/missing.html">dead</a><a href="/p1.html">ok</a></body></html>"""
    val custom = rows.map {
      case r if r.url.endsWith("/p0.html") && r.url.contains("host0") =>
        r.copy(html = deadHtml.getBytes("UTF-8"))
      case r => r
    }
    val df = s.createDataset(custom).toDF()
    val customByNorm = custom.map(r => UrlOps.normalize(r.url) -> new String(r.html, "UTF-8")).toMap
    val cfg = CrawlConfig("j8", Seq("https://host0.example.test/p0.html"), limit = 50, maxAttempts = 3)
    val dir = tmpDir("j8")
    val engine = new CrawlEngine(s, df, dir, Map.empty, settings)
    engine.run(Seq(cfg))
    val got = engineTrace(engine)
    val oracle = SequentialOracle.crawl(customByNorm, Seq(cfg))
    assertTraceEqual(got, oracle.trace)
    val missingAttempts = got.filter(_.url.endsWith("/missing.html"))
    assert(missingAttempts.size == 3) // fetched 3 times then terminal-failed
    assert(missingAttempts.map(_.attempt).sorted == Seq(0, 1, 2))
    val p = engine.finalProgress("j8")
    assert(p.failed == 1)
  }

  test("determinism: identical trace under different parallelism") {
    val cfg = CrawlConfig("j9", Seq("https://host0.example.test/p0.html"), limit = 40)
    val dirA = tmpDir("j9a"); val dirB = tmpDir("j9b")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    val ea = new CrawlEngine(spark, pagesDf.repartition(7), dirA, Map.empty, settings)
    ea.run(Seq(cfg))
    spark.conf.set("spark.sql.shuffle.partitions", "11")
    val eb = new CrawlEngine(spark, pagesDf.repartition(2), dirB, Map.empty, settings)
    eb.run(Seq(cfg))
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    assertTraceEqual(engineTrace(ea), engineTrace(eb))
  }

  test("resume from checkpoint reproduces the uninterrupted run (kill at gen 2)") {
    val cfg = CrawlConfig("j10", Seq("https://host0.example.test/p0.html"), limit = 40)
    // uninterrupted
    val dirFull = tmpDir("j10full")
    val full = new CrawlEngine(spark, pagesDf, dirFull, Map.empty, settings)
    full.run(Seq(cfg))
    // interrupted after 2 generations
    val dirCut = tmpDir("j10cut")
    val cut = new CrawlEngine(spark, pagesDf, dirCut, Map.empty, settings.copy(maxGenerations = 2))
    cut.run(Seq(cfg))
    // resume to completion with a fresh engine instance
    val resumed = new CrawlEngine(spark, pagesDf, dirCut, Map.empty, settings)
    resumed.resume(Seq(cfg))
    assertTraceEqual(engineTrace(resumed), engineTrace(full))
    val pf = full.finalProgress("j10"); val pr = resumed.finalProgress("j10")
    assert((pf.enqueued, pf.done, pf.succeeded, pf.failed) == ((pr.enqueued, pr.done, pr.succeeded, pr.failed)))
  }

  test("resume across a wave-batched superstep boundary (politenessWaves > 1)") {
    // checkpoint granularity under waves is the W-wave superstep; a kill
    // between commits must replay to the identical trace and oracle
    val cfg = CrawlConfig("j10w", Seq("https://host0.example.test/p0.html"),
      strategy = "all", limit = 45, hostBudgetPerStep = 3, politenessWaves = 3)
    val dirFull = tmpDir("j10wfull")
    val full = new CrawlEngine(spark, pagesDf, dirFull, Map.empty, settings)
    full.run(Seq(cfg))
    val dirCut = tmpDir("j10wcut")
    val cut = new CrawlEngine(spark, pagesDf, dirCut, Map.empty, settings.copy(maxGenerations = 2))
    cut.run(Seq(cfg))
    val resumed = new CrawlEngine(spark, pagesDf, dirCut, Map.empty, settings)
    resumed.resume(Seq(cfg))
    assertTraceEqual(engineTrace(resumed), engineTrace(full))
    val oracle = SequentialOracle.crawl(pagesByNorm, Seq(cfg))
    assertTraceEqual(engineTrace(resumed), oracle.trace)
  }

  test("a resumed crawl takes the uninterrupted run's small gears") {
    // the resumed frontier's committed row count is the pending count the
    // uninterrupted run keyed its gears on, so no resumed step goes wide
    val cfg = CrawlConfig("jrg", Seq("https://host0.example.test/p0.html"), limit = 40, maxDepth = 10)
    val dir = tmpDir("jrg")
    new CrawlEngine(spark, pagesDf, dir, Map.empty, settings.copy(maxGenerations = 2)).run(Seq(cfg))
    val resumed = new CrawlEngine(spark, pagesDf, dir, Map.empty, settings.copy(capturePlans = true))
    resumed.resume(Seq(cfg))
    Seq("schedule-wide", "expand-wide").foreach(k =>
      assert(!resumed.capturedPlans.contains(k), s"resumed step took $k: ${resumed.capturedPlans.keys}"))
    val oracle = SequentialOracle.crawl(pagesByNorm, Seq(cfg))
    assertTraceEqual(engineTrace(resumed), oracle.trace)
    val seen = resumed.seenSet().collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(seen == oracle.seen)
    assert(oracleFields(resumed.finalProgress("jrg")) == oracleFields(oracle.progress("jrg")))
  }

  test("results carry metadata/timestamp/rawHtml/cost; credits accounted (A4)") {
    val cfg = CrawlConfig("jmeta", Seq("https://host0.example.test/p0.html"), limit = 15,
      formats = graft.core.Extractor.Formats(rawHtml = true))
    val dir = tmpDir("jmeta")
    val engine = new CrawlEngine(spark, pagesDf, dir, Map.empty, settings)
    engine.run(Seq(cfg))
    val res = engine.results()
    val ok = res.filter(res("success")).collect()
    assert(ok.nonEmpty)
    ok.foreach { r =>
      assert(r.getAs[String]("timestamp").nonEmpty)
      assert(r.getAs[Long]("cost") == 1L)
      assert(r.getAs[String]("rawHtml").nonEmpty) // format requested
    }
    // SiteGen pages carry meta tags -> metadata column populated
    assert(ok.exists(r => r.getAs[Seq[_]]("metadata").nonEmpty))
    val p = engine.finalProgress("jmeta")
    assert(p.creditsUsed == p.succeeded) // 1 credit per successful page
    // failures cost nothing
    res.filter(!res("success")).collect().foreach(r => assert(r.getAs[Long]("cost") == 0L))
  }

  test("cancel marker finalizes at the next barrier; resume honors it") {
    val cfg = CrawlConfig("jcxl", Seq("https://host0.example.test/p0.html"), limit = 60)
    val dir = tmpDir("jcxl")
    // run only 2 generations (job not finalized yet)
    val partial = new CrawlEngine(spark, pagesDf, dir, Map.empty, settings.copy(maxGenerations = 2))
    partial.run(Seq(cfg))
    assert(!partial.finalProgress("jcxl").finalized)
    val before = engineTrace(partial).size
    // DELETE /v1/crawl/:jobId analog
    graft.api.Graft.cancel(dir, "jcxl")
    // resume: cancellation applies at the barrier before any scheduling
    val resumed = new CrawlEngine(spark, pagesDf, dir, Map.empty, settings)
    resumed.resume(Seq(cfg))
    val p = resumed.finalProgress("jcxl")
    assert(p.finalized && p.finalizeReason == "cancelled")
    assert(engineTrace(resumed).size == before) // no further fetches
    // GET /v1/crawl/:jobId/status analog reads the manifest
    val st = graft.api.Graft.status(dir, "jcxl")
    assert(st.exists(s => s.done == before.toLong))
    // cancellation is DURABLE per jobId (reference: the jobs-table status —
    // re-running work means a NEW job id): a fresh run() over the same
    // workDir with the cancelled id finalizes at the first barrier, while a
    // new jobId in the same workDir crawls normally
    val rerun = new CrawlEngine(spark, pagesDf, dir, Map.empty, settings)
    rerun.run(Seq(cfg, cfg.copy(jobId = "jcxl2")))
    assert(rerun.finalProgress("jcxl").finalizeReason == "cancelled")
    assert(rerun.finalProgress("jcxl2").succeeded > 0)
  }

  test("seen compaction: trace/seen unchanged, resume across a compaction point") {
    val cfg = CrawlConfig("jcmp", Seq("https://host0.example.test/p0.html"), limit = 40)
    // compact aggressively (every 2 dirs) vs the default
    val sComp = settings.copy(compactEvery = 2)
    val dirA = tmpDir("jcmpA")
    val engA = new CrawlEngine(spark, pagesDf, dirA, Map.empty, sComp)
    engA.run(Seq(cfg))
    val oracle = SequentialOracle.crawl(pagesByNorm, Seq(cfg))
    assertTraceEqual(engineTrace(engA), oracle.trace)
    val seenA = engA.seenSet().collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(seenA == oracle.seen)
    // kill mid-crawl AFTER at least one compaction, then resume
    val dirB = tmpDir("jcmpB")
    val cut = new CrawlEngine(spark, pagesDf, dirB, Map.empty, sComp.copy(maxGenerations = 4))
    cut.run(Seq(cfg))
    val resumed = new CrawlEngine(spark, pagesDf, dirB, Map.empty, sComp)
    resumed.resume(Seq(cfg))
    assertTraceEqual(engineTrace(resumed), oracle.trace)
    val seenB = resumed.seenSet().collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(seenB == oracle.seen)
  }

  test("sidecar seen-filter: trace/seen exact, zero driver filter state, resume without snapshots") {
    val cfg = CrawlConfig("jsc", Seq("https://host0.example.test/p0.html"), limit = 40)
    val sSide = wideCompacting
    val dir = tmpDir("jsc")
    val engine = new CrawlEngine(spark, pagesDf, dir, Map.empty, sSide)
    engine.run(Seq(cfg))
    val oracle = SequentialOracle.crawl(pagesByNorm, Seq(cfg))
    assertTraceEqual(engineTrace(engine), oracle.trace)
    val seen = engine.seenSet().collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(seen == oracle.seen)
    assert(engine.compactionLog.exists(_._1.level > 0), "no level merge ran")
    // the driver checkpointed NO filter state: no bloom/ directory at all
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "bloom")),
      "unexpected driver filter state under bloom/")
    // resume across a compaction point works with no filter snapshot on disk
    val dirB = tmpDir("jscB")
    val cut = new CrawlEngine(spark, pagesDf, dirB, Map.empty, sSide.copy(maxGenerations = 4))
    cut.run(Seq(cfg))
    val resumed = new CrawlEngine(spark, pagesDf, dirB, Map.empty, sSide)
    resumed.resume(Seq(cfg))
    assertTraceEqual(engineTrace(resumed), oracle.trace)
    val seenB = resumed.seenSet().collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(seenB == oracle.seen)
  }

  test("engine reuse: a second run() on the same instance uses the SECOND run's configs and state") {
    val dir = tmpDir("jreuse")
    val engine = new CrawlEngine(spark, pagesDf, dir, Map.empty, settings)
    engine.run(Seq(CrawlConfig("jr-one", Seq("https://host0.example.test/p0.html"), limit = 10)))
    // second run on the SAME engine+workDir: a fresh jobId (a stale config
    // broadcast threw NoSuchElementException in the extract pass) and a
    // different limit (a stale budget broadcast would schedule 10, not 25);
    // the first run's frontier tails must not leak into this run's dedup
    val cfg2 = CrawlConfig("jr-two", Seq("https://host1.example.test/p0.html"), limit = 25)
    engine.run(Seq(cfg2))
    val oracle2 = SequentialOracle.crawl(pagesByNorm, Seq(cfg2))
    assertTraceEqual(engineTrace(engine), oracle2.trace)
    val seen = engine.seenSet().collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(seen == oracle2.seen)
  }

  test("leveled compaction: 64+ generation horizon, per-merge cost bounded by level size") {
    // 100-page single-host corpus, politeness budget 1 -> one fetch per
    // generation -> a 70-generation horizon with frequent compactions
    val s = spark; import s.implicits._
    val rows = SiteGen.rows(seed, 100, 1).toSeq
    val df = s.createDataset(rows).toDF()
    val byNorm = rows.map(r => UrlOps.normalize(r.url) -> new String(r.html, "UTF-8")).toMap
    val cfg = CrawlConfig("jlev", Seq("https://host0.example.test/p0.html"),
      limit = 70, maxDepth = 30, hostBudgetPerStep = 1)
    val sLev = settings.copy(compactEvery = 4, levelFanout = 2)
    val dir = tmpDir("jlev")
    val engine = new CrawlEngine(s, df, dir, Map.empty, sLev)
    val report = engine.run(Seq(cfg))
    assert(report.generations >= 64, s"wanted a 64+ gen horizon, got ${report.generations}")
    val oracle = SequentialOracle.crawl(byNorm, Seq(cfg))
    assertTraceEqual(engineTrace(engine), oracle.trace)
    val seenCount = oracle.seen.size.toLong
    val log = engine.compactionLog.toSeq
    val maxLevel = log.map(_._1.level).max
    assert(maxLevel >= 2, s"expected multi-level merges, max level $maxLevel")
    // leveled bound: every key is written once at L0 and at most once per
    // higher level -> total rewritten rows <= (maxLevel + 1) * seen. The old
    // merge-all design rewrote the full set at every compaction:
    // sum(seen_at_compaction_i), which this corpus would push far past it.
    val totalWritten = log.map(_._2).sum
    assert(totalWritten <= (maxLevel + 1) * seenCount,
      s"compaction rewrote $totalWritten rows > ${(maxLevel + 1) * seenCount} bound (seen=$seenCount)")
    // read fan-in stays bounded
    val buckets = new Checkpoint(dir).validSeenBuckets(Int.MaxValue)
    assert(buckets.size <= sLev.levelFanout * (maxLevel + 1) + 1,
      s"unbounded bucket fan-in: ${buckets.size}")
    // resume across the leveled history still reproduces the oracle
    val dirB = tmpDir("jlevB")
    val cut = new CrawlEngine(s, df, dirB, Map.empty, sLev.copy(maxGenerations = 20))
    cut.run(Seq(cfg))
    val resumed = new CrawlEngine(s, df, dirB, Map.empty, sLev)
    resumed.resume(Seq(cfg))
    assertTraceEqual(engineTrace(resumed), oracle.trace)
  }

  test("accounting survives task re-execution (footer reconciliation repairs accumulators)") {
    // chaos hook double-fires every accumulator update of partition 0 in both
    // barrier-riding passes — the signature of a speculated / stage-retried /
    // cache-rebuilt task whose updates were already merged. Without the
    // parquet-footer reconciliation this corrupts seqOffsets (seq numbering
    // drifts by the double-counted partition each generation), enqueued
    // accounting, and can finalize early on done>=limit. The second input
    // runs the same chaos through the wide gears with leveled compaction.
    val cfg = CrawlConfig("jchaos", Seq("https://host0.example.test/p0.html"), limit = 40)
    val oracle = SequentialOracle.crawl(pagesByNorm, Seq(cfg))
    Seq("default" -> settings, "wide-compacting" -> wideCompacting).foreach { case (tag, st) =>
      val dir = tmpDir(s"jchaos-$tag")
      val engine = new CrawlEngine(spark, pagesDf, dir, Map.empty,
        st.copy(chaosAccumulatorDoubleFire = true))
      engine.run(Seq(cfg))
      assertTraceEqual(engineTrace(engine), oracle.trace)
      val p = engine.finalProgress("jchaos")
      val op = oracle.progress("jchaos")
      assert((p.enqueued, p.done, p.succeeded, p.failed) ==
        ((op.enqueued, op.done, op.succeeded, op.failed)), tag)
      assert(engine.accumulatorRecoveries > 0, s"$tag: no accumulator recovery counted")
    }
  }

  test("a workDir an older build left, with a nonce file and bloom sidecars, resumes exactly") {
    // Older builds wrote `workDir/_nonce` and `bucket=*/_blooms/*.blm`.
    // Both are `_`-prefixed, so parquet listing skips them and no code reads
    // them: garbage bytes there change nothing, and a level merge prunes
    // them with their bucket. No limit, so links keep being enqueued (and
    // deduplicated against the planted buckets) after the cut.
    val cfg = CrawlConfig("jlegacy", Seq("https://host0.example.test/p0.html"), limit = 0)
    val oracle = SequentialOracle.crawl(pagesByNorm, Seq(cfg))
    val dir = java.nio.file.Paths.get(tmpDir("jlegacy"))
    val cut = new CrawlEngine(spark, pagesDf, dir.toString, Map.empty,
      wideCompacting.copy(maxGenerations = 4))
    cut.run(Seq(cfg))
    val planted = new Checkpoint(dir.toString).validSeenBuckets(Int.MaxValue)
      .map(b => dir.resolve("seen").resolve(b.dirName).resolve("_blooms"))
    assert(planted.nonEmpty, "no bucket at the cut")
    val garbage = Array.tabulate[Byte](64)(i => (i * 37 + 11).toByte)
    Files.write(dir.resolve("_nonce"), garbage)
    planted.foreach { blooms =>
      Files.createDirectories(blooms)
      Seq("shard=0.x.blm", "shard=1.x.blm").foreach(f => Files.write(blooms.resolve(f), garbage))
    }
    val resumed = new CrawlEngine(spark, pagesDf, dir.toString, Map.empty, wideCompacting)
    resumed.resume(Seq(cfg))
    assert(resumed.finalProgress("jlegacy").enqueued > cut.finalProgress("jlegacy").enqueued,
      "nothing enqueued after the cut")
    assertTraceEqual(engineTrace(resumed), oracle.trace)
    val seen = resumed.seenSet().collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(seen == oracle.seen)
    assert(oracleFields(resumed.finalProgress("jlegacy")) == oracleFields(oracle.progress("jlegacy")))
    assert(resumed.compactionLog.exists(_._1.level > 0), "no level merge after the cut")
    planted.foreach(b => assert(!Files.exists(b), s"a level merge left $b"))
  }

  test("empty frontier: all-disallowed seeds and no seeds match the oracle in both gears") {
    // Degenerate inputs: a job whose every seed robots.txt disallows, and a
    // job with no seeds, each start from an empty generation-0 frontier and
    // finalize at bootstrap as "frontier-empty", alone or beside a seeded
    // job.
    val robots = Map("host0.example.test" -> "User-agent: *\nDisallow: /\n")
    val jobs = Seq(
      CrawlConfig("jdis", Seq("https://host0.example.test/p0.html",
        "https://host0.example.test/p1.html"), respectRobots = true, limit = 40),
      CrawlConfig("jnone", Nil, limit = 40))
    val wide = settings.copy(wideMinRows = 0L)
    for (cfg <- jobs; (gear, st) <- Seq("default" -> settings, "wide" -> wide)) {
      val tag = s"${cfg.jobId}/$gear"
      val dir = tmpDir(s"${cfg.jobId}-$gear")
      val engine = new CrawlEngine(spark, pagesDf, dir, robots, st)
      val report = engine.run(Seq(cfg))
      val oracle = SequentialOracle.crawl(pagesByNorm, Seq(cfg), robots)
      assert(oracle.trace.isEmpty && oracle.seen.isEmpty, tag)
      // nothing was fetched, so no generation commits: trace() is the empty
      // frame, seenSet() the empty (jobId, urlNorm) frame, and status has no
      // manifest to read
      assert(engine.trace().isEmpty && engine.trace().columns.isEmpty, tag)
      val seen = engine.seenSet()
      assert(seen.columns.toSeq == Seq("jobId", "urlNorm") && seen.isEmpty, tag)
      assert(graft.api.Graft.status(dir, cfg.jobId).isEmpty, tag)
      assert(report.totalFetched == 0L, tag)
      val p = engine.finalProgress(cfg.jobId)
      val op = oracle.progress(cfg.jobId)
      assert(p == op, tag)
      assert(p.finalized && p.finalizeReason == "frontier-empty" && p.enqueued == 0L, tag)
    }
    // beside a seeded job: the same reason, and the seeded job's crawl
    // matches the oracle
    val seeded = CrawlConfig("jseed", Seq("https://host1.example.test/p0.html"), limit = 10)
    val both = jobs :+ seeded
    val engine = new CrawlEngine(spark, pagesDf, tmpDir("jboth"), robots, settings)
    engine.run(both)
    val oracle = SequentialOracle.crawl(pagesByNorm, both, robots)
    assertTraceEqual(engineTrace(engine), oracle.trace)
    both.foreach(c => assert(oracleFields(engine.finalProgress(c.jobId)) ==
      oracleFields(oracle.progress(c.jobId)), c.jobId))
    jobs.foreach(c => assert(engine.finalProgress(c.jobId).finalizeReason == "frontier-empty"))
  }

  test("gear table at the default wideMinRows: today's gates at every boundary") {
    val w = CrawlEngine.Settings().wideMinRows
    assert(w == 65536L)
    def g(pend: Long, enqueued: Long = 0L, batch: Option[Long] = None) =
      CrawlEngine.gears(w, pend, enqueued, batch)
    // small step: pending below 65,536
    assert(g(65535L).smallStep && !g(65536L).smallStep)
    // fast expansion: pending below 8,192 and an enqueued total below 65,536
    assert(g(8191L).fastExpand && !g(8192L).fastExpand)
    assert(g(100L, enqueued = 65535L).fastExpand && !g(100L, enqueued = 65536L).fastExpand)
    // the wide expansion's result-key join broadcasts up to a 65,536-row
    // batch; the small step's uncounted batch broadcasts
    assert(g(65536L, batch = Some(65536L)).broadcastJoins && !g(65536L, batch = Some(65537L)).broadcastJoins)
    assert(g(100L).broadcastJoins)
  }

  test("mixed gears (wideMinRows = 16): fast and wide expansion, window schedule, oracle-equal") {
    val cfg = CrawlConfig("jmix", Seq("https://host0.example.test/p0.html"), limit = 5000)
    val engine = new CrawlEngine(spark, pagesDf, tmpDir("jmix"), Map.empty,
      settings.copy(wideMinRows = 16L, capturePlans = true))
    engine.run(Seq(cfg))
    Seq("expand-fast", "expand-wide", "schedule-wide").foreach(k =>
      assert(engine.capturedPlans.contains(k), s"gear $k never ran: ${engine.capturedPlans.keys}"))
    val oracle = SequentialOracle.crawl(pagesByNorm, Seq(cfg))
    assertTraceEqual(engineTrace(engine), oracle.trace)
    val seen = engine.seenSet().collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(seen == oracle.seen)
    assert(oracleFields(engine.finalProgress("jmix")) == oracleFields(oracle.progress("jmix")))
  }

  test("canonical trace fixture: committed byte-exact trace at fixed seed/config") {
    // The q24-family ground truth made diff-visible (VERDICT r2 ask #8): the
    // full canonical trace of a fixed crawl (seed 42, 80-page/4-host corpus,
    // limit 40, depth 10) lives in the repo as a TSV fixture. Any engine
    // change that shifts scheduling, seq assignment, retries or dedup shows
    // up as a fixture diff in review, not only as an in-test oracle failure.
    // Regenerate with GOLDEN_UPDATE=1 and re-audit the diff.
    val cfg = CrawlConfig("jfix", Seq("https://host0.example.test/p0.html"),
      limit = 40, maxDepth = 10)
    val dir = tmpDir("jfix")
    val engine = new CrawlEngine(spark, pagesDf, dir, Map.empty, settings)
    engine.run(Seq(cfg))
    val got = engineTrace(engine).map(t =>
      s"${t.jobId}\t${t.seq}\t${t.url}\t${t.depth}\t${t.attempt}\t${t.status}").mkString("", "\n", "\n")
    val fixture = java.nio.file.Paths.get("src/test/resources/fixtures/crawl_trace_jfix.tsv")
    if (sys.env.get("GOLDEN_UPDATE").contains("1")) {
      Files.createDirectories(fixture.getParent)
      Files.write(fixture, got.getBytes("UTF-8"))
    }
    assert(Files.exists(fixture), s"missing fixture $fixture — regenerate with GOLDEN_UPDATE=1")
    val want = new String(Files.readAllBytes(fixture), "UTF-8")
    assert(got == want, "canonical trace drifted from the committed fixture")
    // and the fixture itself agrees with the sequential oracle
    val oracle = SequentialOracle.crawl(pagesByNorm, Seq(cfg))
    assertTraceEqual(engineTrace(engine), oracle.trace)
  }

  test("fuzz: 8 random scheduler configs match the sequential oracle (trace+seen+progress)") {
    // deterministic PRNG over the scheduler-semantics knobs: strategy,
    // depth, limit, politeness budget, wave batching. Every draw must agree
    // with the oracle on the full canonical trace, the seen set, and the
    // progress counters — the scheduler has no "easy" configurations.
    val rnd = new scala.util.Random(20260818L)
    val strategies = Seq("all", "same-domain", "same-hostname", "same-origin")
    (0 until 8).foreach { k =>
      val cfg = CrawlConfig(
        jobId = s"fz$k",
        seeds = Seq(corpusRows(rnd.nextInt(corpusRows.size)).url),
        strategy = strategies(rnd.nextInt(strategies.size)),
        maxDepth = 1 + rnd.nextInt(8),
        limit = if (rnd.nextBoolean()) 0 else 1 + rnd.nextInt(60),
        hostBudgetPerStep = if (rnd.nextBoolean()) Int.MaxValue else 1 + rnd.nextInt(6),
        politenessWaves = 1 + rnd.nextInt(4))
      val (got, oracle, engine) = runBoth(cfg)
      assertTraceEqual(got, oracle.trace)
      val engineSeen = engine.seenSet().collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(engineSeen == oracle.seen, s"seen mismatch at draw $k cfg=$cfg")
      val p = engine.finalProgress(cfg.jobId)
      val op = oracle.progress(cfg.jobId)
      assert((p.enqueued, p.done, p.succeeded, p.failed) ==
        ((op.enqueued, op.done, op.succeeded, op.failed)), s"progress mismatch at draw $k cfg=$cfg")
    }
  }

  test("fuzz: 4 random MULTI-job batches match the sequential oracle (trace+seen+progress)") {
    // the single-job fuzz can't see cross-job interference: jobs share each
    // superstep's scheduling/expansion/dedup passes but budgets, caps, wave
    // batching and seen-sets are all job-scoped. Random 2-3 job batches with
    // overlapping seed spaces must still agree with the oracle per job.
    val rnd = new scala.util.Random(20260818L + 1)
    val strategies = Seq("all", "same-domain", "same-hostname", "same-origin")
    (0 until 4).foreach { k =>
      val nJobs = 2 + rnd.nextInt(2)
      val cfgs = (0 until nJobs).map { j =>
        CrawlConfig(
          jobId = s"mfz$k-$j",
          seeds = Seq(corpusRows(rnd.nextInt(corpusRows.size)).url),
          strategy = strategies(rnd.nextInt(strategies.size)),
          maxDepth = 1 + rnd.nextInt(8),
          limit = if (rnd.nextBoolean()) 0 else 1 + rnd.nextInt(60),
          hostBudgetPerStep = if (rnd.nextBoolean()) Int.MaxValue else 1 + rnd.nextInt(6),
          politenessWaves = 1 + rnd.nextInt(4))
      }
      val dir = tmpDir(s"mfz$k")
      val engine = new CrawlEngine(spark, pagesDf, dir, Map.empty, settings)
      engine.run(cfgs)
      val oracle = SequentialOracle.crawl(pagesByNorm, cfgs)
      assertTraceEqual(engineTrace(engine), oracle.trace)
      val engineSeen = engine.seenSet().collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(engineSeen == oracle.seen, s"seen mismatch at draw $k cfgs=$cfgs")
      cfgs.foreach { c =>
        val p = engine.finalProgress(c.jobId)
        val op = oracle.progress(c.jobId)
        assert((p.enqueued, p.done, p.succeeded, p.failed) ==
          ((op.enqueued, op.done, op.succeeded, op.failed)),
          s"progress mismatch at draw $k job=${c.jobId} cfgs=$cfgs")
      }
    }
  }

  test("multi-job crawl keeps jobs independent") {
    val cfgA = CrawlConfig("jA", Seq("https://host0.example.test/p0.html"), limit = 10)
    val cfgB = CrawlConfig("jB", Seq("https://host2.example.test/p0.html"),
      strategy = "same-hostname", limit = 10)
    val dir = tmpDir("multi")
    val engine = new CrawlEngine(spark, pagesDf, dir, Map.empty, settings)
    engine.run(Seq(cfgA, cfgB))
    val oracle = SequentialOracle.crawl(pagesByNorm, Seq(cfgA, cfgB))
    assertTraceEqual(engineTrace(engine), oracle.trace)
  }
}
