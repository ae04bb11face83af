package perfbench

import scala.collection.mutable
import org.json4s.{JArray, JInt}
import graft.api.Graft
import graft.core.Extractor
import graft.engine.{CrawlConfig, CrawlEngine}

/**
 * The crawl workloads: repeated crawls of one seeded site through
 * `CrawlEngine.prepare/run/trace`, configured only through the fields of a
 * user's request (`CrawlConfig`) and the engine's default `Settings()`.
 *
 * - `crawl-wide` is kernel-bound: ~20 KB pages on 64 equal hosts, branching
 *   16, no politeness cap, so three large generations do the work and
 *   per-superstep overhead is small.
 * - `crawl-deep` is scheduler-bound: ~1.5 KB pages on 16 Zipf-sized hosts
 *   (host0 ~30%), a binary tree with cross-host edges and a small per-host
 *   budget per wave, so the hot host defers and the crawl runs many small
 *   generations.
 *
 * Commits are observed the way a crawl user sees them: by polling
 * `Graft.status` until the committed generation changes.
 */
final class CrawlWorkload(val name: String) extends Workload {
  import CrawlWorkload._

  private val wide = name == "crawl-wide"
  private val formats = Extractor.Formats(html = false)

  private var pagesOf: Long => (String, String) = _
  private var corpusSize = 0
  private var expected: Set[String] = Set.empty
  private var corpusPath: String = _
  private var workDir: String = _
  private var engine: CrawlEngine = _
  private var refDigest: Option[String] = None
  private var crawlNo = 0
  private val prepareS = mutable.ArrayBuffer.empty[Double]

  private def config(jobId: String): CrawlConfig =
    if (wide) CrawlConfig(jobId, seeds = WideSite.seeds, strategy = "all", maxDepth = 100, limit = 0,
      formats = formats)
    else CrawlConfig(jobId, seeds = Seq(graft.fixtures.SiteGen.pageUrl(0, 0)), strategy = "all",
      maxDepth = 100, limit = 0, hostBudgetPerStep = DeepBudget, formats = formats)

  def generate(ctx: Ctx): Unit = {
    corpusPath = ctx.dir(s"input-$name")
    workDir = ctx.dir(s"crawl-$name")
    val seed = ctx.seed
    if (wide) {
      val w = WideSite
      pagesOf = i => (w.url(i), w.html(seed, i))
      corpusSize = w.pages
      Inputs.writeCorpus(ctx.spark, w.pages, corpusPath, i => w.url(i), i => w.html(seed, i))
      expected = w.reachable(w.seeds)
    } else {
      val d = DeepSite
      pagesOf = i => (d.url(i), d.html(seed, i))
      corpusSize = d.pages
      Inputs.writeCorpus(ctx.spark, d.pages, corpusPath, i => d.url(i), i => d.html(seed, i))
      expected = d.reachable(seed, Seq(graft.fixtures.SiteGen.pageUrl(0, 0)))
    }
  }

  def setUp(ctx: Ctx): Unit = {
    if (engine != null) ctx.spark.catalog.clearCache()
    val pages = ctx.spark.read.parquet(corpusPath)
    engine = new CrawlEngine(ctx.spark, pages, workDir)
    val t0 = System.nanoTime()
    engine.prepare()
    prepareS += (System.nanoTime() - t0) / 1e9
  }

  override def setupLayers: Map[String, Double] = Map("engine.prepare_s" -> Stats.median(prepareS.toSeq))

  def warmUp(ctx: Ctx): Unit = { crawl(ctx, None); () }

  private def crawl(ctx: Ctx, tracer: Option[Tracer]): CrawlRun = {
    val jobId = s"bench-$crawlNo"
    crawlNo += 1
    val poller = new CommitPoller(workDir, jobId)
    poller.start()
    val cpu0 = Proc.cpuNs
    val t0 = System.nanoTime()
    val report = Workload.call(tracer, "CrawlEngine.run", "engine")(engine.run(Seq(config(jobId))))
    val t1 = System.nanoTime()
    val cpu1 = Proc.cpuNs
    val commits = poller.stop()
    val rows = Workload.call(tracer, "CrawlEngine.trace", "engine") {
      engine.trace().select("seq", "url", "depth", "status").collect()
    }
    val urls = rows.map(_.getString(1))
    val distinct = urls.toSet
    val digest = sha256(rows.sortBy(_.getLong(0)).map(r =>
      s"${r.getLong(0)}\t${r.getString(1)}\t${r.getInt(2)}\t${r.getInt(3)}").mkString("\n"))
    val wrongRows = (distinct -- expected).size + (expected -- distinct).size +
      (urls.length - distinct.size) + rows.count(_.getInt(3) != 200)
    if (refDigest.isEmpty && wrongRows == 0) refDigest = Some(digest)
    val digestOk = refDigest.contains(digest)
    CrawlRun(t0, t1, cpu1 - cpu0, report.totalFetched, report.generations, commits,
      failed = if (digestOk) math.min(wrongRows, expected.size) else expected.size)
  }

  def measure(ctx: Ctx, seconds: Double, tracer: Option[Tracer]): Outcome = {
    val runs = mutable.ArrayBuffer.empty[CrawlRun]
    (1 to Workload.opsFor(seconds, NominalCrawlS)).foreach(_ => runs += crawl(ctx, tracer))
    val pages = runs.map(_.pages).sum
    val crawlS = runs.map(r => (r.t1 - r.t0) / 1e9).sum
    val intervalsMs = runs.flatMap(_.intervalsMs).toSeq
    val commit = Stats.summary(intervalsMs)
    val firstCommit = Stats.summary(runs.flatMap(_.firstCommitMs).toSeq)
    val pagesPerS = pages / crawlS
    val cpuMsPerPage = runs.map(_.cpuNs).sum / 1e6 / math.max(1L, pages)
    val measured = Map(
      "items_per_s" -> Metric(pagesPerS, "1/s"),
      "op_p50_ms" -> Metric(commit.p50, "ms"),
      "cpu_ms_per_item" -> Metric(cpuMsPerPage, "ms"))
    val attempted = runs.length.toLong * expected.size
    val failed = runs.map(_.failed.toLong).sum
    val named = Seq(
      "crawl_pages_per_s" -> Report.metric(pagesPerS, "1/s"),
      "crawl_commit_ms" -> commit.json,
      "crawl_first_commit_ms" -> firstCommit.json,
      "crawl_cpu_ms_per_page" -> Report.metric(cpuMsPerPage, "ms"),
      "crawl_ms" -> JArray(runs.map(r => Report.num((r.t1 - r.t0) / 1e6)).toList),
      "pages_per_crawl" -> JInt(expected.size),
      "corpus_pages" -> JInt(corpusSize),
      "missed_commits" -> JInt(runs.map(_.missedCommits).sum))
    tracer match {
      case None => Outcome(attempted, failed, measured, named)
      case Some(t) =>
        val seenKeys = Workload.call(tracer, "CrawlEngine.seenSet", "frontier")(engine.seenSet().count())
        t.drain()
        val res = t.finish()
        res.write(ctx.work.resolve(s"trace-$name-${ctx.seed}.jsonl"))
        val (layers, misattributed) = engineLayers(res, runs.toSeq)
        val sample = Inputs.sample(ctx.seed, corpusSize, KernelSample).map(i => pagesOf(i.toLong))
        val all = layers ++ Layers.core(sample, formats) ++ Map(
          "frontier.seen_keys" -> seenKeys.toDouble,
          "engine.state_bytes" -> dirBytes(java.nio.file.Paths.get(workDir)).toDouble)
        Outcome(attempted, failed + misattributed, measured, named, all,
          Seq("jobs_reparented" -> JInt(res.reparented), "jobs_misattributed" -> JInt(misattributed),
            "gen_interval_ms_mean" -> Report.num(intervalsMs.sum / math.max(1, intervalsMs.length))))
    }
  }

  /** Engine counters per crawl and the per-generation split of the commit
    * interval into write-job time, other-job time and driver self time; and
    * the number of jobs started inside a crawl call that were not given that
    * call's span as parent. */
  private def engineLayers(res: Tracer.Result, runs: Seq[CrawlRun]): (Map[String, Double], Int) = {
    val runSpans = res.spans.filter(_.name == "CrawlEngine.run")
    val n = runs.length.toDouble
    val gens = runs.map(_.generations).sum.toDouble
    var writeNs, otherNs, selfNs = 0L
    var intervals = 0
    var misattributed = 0
    runs.foreach { r =>
      val s = runSpans.find(sp => sp.startNs >= r.t0 && sp.startNs <= r.t1).get
      val inside = res.jobs.filter(j => s.contains(j.startNs))
      misattributed += inside.count(_.parent != s.id)
      val js = res.jobs.filter(_.parent == s.id)
      val all = js.map(j => (j.startNs, j.endNs))
      val writes = js.filter(_.isWrite).map(j => (j.startNs, j.endNs))
      r.bounds.foreach { case (lo, hi) =>
        val u = Stats.unionLength(Stats.clip(all, lo, hi))
        val w = Stats.unionLength(Stats.clip(writes, lo, hi))
        writeNs += w; otherNs += u - w; selfNs += (hi - lo) - u
        intervals += 1
      }
    }
    val crawlJobs = res.jobsUnder(_.name == "CrawlEngine.run")
    val c = Tracer.counters(crawlJobs)
    val perInterval = math.max(1, intervals).toDouble
    (Map(
      "engine.generations" -> gens / n,
      "engine.jobs_per_gen" -> c.jobs / gens,
      "engine.stages_per_gen" -> c.stages / gens,
      "engine.tasks_per_gen" -> c.tasks / gens,
      "engine.write_job_ms_per_gen" -> writeNs / 1e6 / perInterval,
      "engine.other_job_ms_per_gen" -> otherNs / 1e6 / perInterval,
      "engine.driver_self_ms_per_gen" -> selfNs / 1e6 / perInterval,
      "engine.sched_delay_ms" -> c.schedDelayMsPerTask,
      "engine.exec_cpu_s" -> c.cpuS / n,
      "engine.shuffle_write_bytes" -> c.shuffleWrite / n,
      "engine.shuffle_read_bytes" -> c.shuffleRead / n,
      "engine.input_bytes" -> c.inputBytes / n,
      "engine.output_bytes" -> c.outputBytes / n,
      "engine.result_bytes" -> c.resultBytes / n,
      "engine.gc_ms" -> c.gcMs / n,
      "engine.task_skew_ratio" -> c.skew,
      "engine.failed_tasks" -> (c.failedTasks + c.speculativeTasks).toDouble),
      misattributed)
  }
}

object CrawlWorkload {
  val WideSite: Inputs.Wide = Inputs.Wide(hosts = 64, perHost = 20)
  val DeepSite: Inputs.Deep = Inputs.Deep(total = 80, hosts = 16)
  val DeepBudget = 8
  /** Seconds per crawl that set the crawls in a window: 2 in 15 s. */
  val NominalCrawlS = 7.5
  val KernelSample = 48

  /** One crawl: call window, process CPU, pages, and commit times. `bounds`
    * are the commit intervals: from one committed generation to the next,
    * both observed. The time from the call to the first commit, which also
    * holds the engine's per-run set-up, is kept apart as `firstCommitMs`. */
  final case class CrawlRun(t0: Long, t1: Long, cpuNs: Long, pages: Long, generations: Int,
      commits: Seq[(Int, Long)], failed: Int) {
    def bounds: Seq[(Long, Long)] =
      commits.zip(commits.drop(1)).collect { case ((g, a), (h, b)) if h == g + 1 => (a, b) }
    def intervalsMs: Seq[Double] = bounds.map { case (a, b) => (b - a) / 1e6 }
    def firstCommitMs: Option[Double] = commits.headOption.map(c => (c._2 - t0) / 1e6)
    def missedCommits: Int = {
      val gs = commits.map(_._1)
      (if (gs.isEmpty) 0 else gs.head) + gs.zip(gs.drop(1)).map { case (a, b) => b - a - 1 }.sum
    }
  }

  /** Polls `Graft.status` and records the time each new committed generation
    * of `jobId` is first seen. */
  final class CommitPoller(workDir: String, jobId: String) {
    private val commits = mutable.ArrayBuffer.empty[(Int, Long)]
    @volatile private var running = true
    private def poll(): Unit = {
      // a manifest being replaced can be missing for an instant: read as "no news"
      val g = try Graft.status(workDir, jobId).map(_.generation).getOrElse(-1)
      catch { case _: java.io.IOException | _: java.io.UncheckedIOException => -1 }
      if (g > commits.lastOption.map(_._1).getOrElse(-1)) commits += ((g, System.nanoTime()))
    }
    private val thread = new Thread(() => while (running) { poll(); Thread.sleep(PollMs) },
      "perfbench-status-poller")
    thread.setDaemon(true)
    def start(): Unit = thread.start()
    /** Stop polling; a last read catches a commit made just before the call returned. */
    def stop(): Seq[(Int, Long)] = { running = false; thread.join(); poll(); commits.toSeq }
  }
  val PollMs = 10L

  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString

  def dirBytes(p: java.nio.file.Path): Long =
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
}
