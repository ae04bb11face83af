package graft.engine

import graft.core.{LinkExtractor, Robots, UrlOps}
import scala.collection.mutable

/**
 * Independent single-threaded reference crawler used as the correctness
 * oracle for CrawlEngine (SURVEY §5 item 2): same BSP semantics (canonical
 * order, per-superstep politeness budget, limit, retries, enqueue caps,
 * robots) implemented with plain collections — no Spark. The distributed
 * engine must reproduce its trace and seen set EXACTLY.
 */
object SequentialOracle {

  final case class TraceRow(jobId: String, seq: Long, url: String, urlNorm: String,
      depth: Int, attempt: Int, status: Int)

  final case class Result(
      trace: Seq[TraceRow],
      seen: Set[(String, String)],
      progress: Map[String, JobProgress])

  def crawl(pagesByNorm: Map[String, String], jobs: Seq[CrawlConfig],
      robotsBodies: Map[String, String] = Map.empty, maxGenerations: Int = 1000): Result = {
    val robots = robotsBodies.map { case (h, b) => (h, Robots.parse(b)) }
    val trace = mutable.ArrayBuffer[TraceRow]()
    val seen = mutable.Set[(String, String)]()
    var progress = jobs.map(c => c.jobId -> JobProgress(c.jobId)).toMap
    val seqCounter = mutable.Map[String, Long]().withDefaultValue(0L)
    var pending = mutable.ArrayBuffer[FrontierEntry]()

    // bootstrap seeds
    jobs.foreach { c =>
      var n = 0L
      c.seeds.zipWithIndex.foreach { case (s, i) =>
        val h = UrlOps.host(s)
        val ok = !c.respectRobots || robots.get(h).forall(r => Robots.allowedUrl(r, c.userAgent, s))
        if (ok) {
          val norm = UrlOps.normalize(s)
          val e = FrontierEntry(c.jobId, s, norm, h, 0,
            c.priorityOf.map(f => f(norm)).getOrElse(i.toLong), "", 0)
          if (!seen.contains((e.jobId, e.urlNorm))) {
            pending += e; seen += ((e.jobId, e.urlNorm)); n += 1
          }
        }
      }
      progress += c.jobId -> progress(c.jobId).copy(enqueued = n)
    }

    val cfgs = jobs.map(c => c.jobId -> c).toMap
    implicit val ord: Ordering[(Int, Long, String)] = Ordering.Tuple3[Int, Long, String]

    var gen = 0
    // same loop condition as the engine: an empty seed frontier still runs
    // one superstep, which schedules nothing and finalizes every job as
    // "stalled" (after any non-empty superstep, a job left without pending
    // rows has already finalized)
    while (cfgs.values.exists(c => !progress(c.jobId).finalized) && gen < maxGenerations) {
      val active = cfgs.values.filter(c => !progress(c.jobId).finalized).map(_.jobId).toSet
      pending = pending.filter(e => active.contains(e.jobId))

      // schedule (wave-major, politenessWaves): politeness keeps rows with
      // canonical rank within (job, host) below waves*budget, wave =
      // rank/budget; the per-job remaining-limit cut is then a prefix in
      // (wave, canonical) order. At politenessWaves=1 this reduces exactly to
      // the classic single budget walk (rank<budget survivors, canonical
      // prefix of size remaining).
      val sorted = pending.sortBy(e => (e.jobId, e.depth, e.priority, e.urlNorm))
      val hostCount = mutable.Map[(String, String), Long]().withDefaultValue(0L)
      val staged = mutable.ArrayBuffer[(Long, FrontierEntry)]()
      sorted.foreach { e =>
        val c = cfgs(e.jobId)
        // per-(job, politeness key): hostBudgetPerStep capped by the robots
        // Crawl-delay quota when the job opted in (same pure functions the
        // engine's schedule paths call; key = host or eTLD+1)
        val pk = CrawlEngine.politeKey(c, e.host)
        val b = CrawlEngine.effectiveBudget(c, robots, c.hostBudgetPerStep.toLong, pk)
        val cap = if (b >= Int.MaxValue.toLong) Long.MaxValue else b * c.politenessWaves
        val k = hostCount((e.jobId, pk))
        if (k < cap) {
          hostCount((e.jobId, pk)) = k + 1
          staged += (((if (b >= Int.MaxValue.toLong) 0L else k / b), e))
        }
      }
      val jobCount = mutable.Map[String, Long]().withDefaultValue(0L)
      val batch = mutable.ArrayBuffer[FrontierEntry]()
      staged.sortBy { case (w, e) => (e.jobId, w, e.depth, e.priority, e.urlNorm) }
        .foreach { case (_, e) =>
          val c = cfgs(e.jobId)
          val remaining = if (c.limit > 0) c.limit.toLong - progress(e.jobId).done else Long.MaxValue
          if (jobCount(e.jobId) < remaining) {
            batch += e
            jobCount(e.jobId) += 1
          }
        }
      if (batch.isEmpty) {
        progress = progress.map { case (j, p) =>
          (j, if (p.finalized) p else p.copy(finalized = true, finalizeReason = "stalled"))
        }
      } else {
        pending = pending.filterNot(e => batch.exists(b => b.jobId == e.jobId && b.urlNorm == e.urlNorm))
        val enqueuedAtStart = progress.map { case (j, p) => j -> p.enqueued }

        // fetch + extract in wave-major canonical order (the batch is already
        // sorted that way; seq follows it); gather candidates
        val candidates = mutable.ArrayBuffer[FrontierEntry]()
        val retries = mutable.ArrayBuffer[FrontierEntry]()
        batch.foreach { e =>
          val c = cfgs(e.jobId)
          val seq = seqCounter(e.jobId); seqCounter(e.jobId) = seq + 1
          pagesByNorm.get(e.urlNorm) match {
            case Some(html) =>
              trace += TraceRow(e.jobId, seq, e.url, e.urlNorm, e.depth, e.attempt, 200)
              val p = progress(e.jobId)
              progress += e.jobId -> p.copy(done = p.done + 1, succeeded = p.succeeded + 1)
              val links = LinkExtractor.extractFromHtml(html, e.url)
              val nd = e.depth + 1
              if (nd <= c.maxDepth && !(c.limit > 0 && enqueuedAtStart(e.jobId) >= c.limit)) {
                val inc = c.includePaths.map(UrlOps.compilePattern)
                val exc = c.excludePaths.map(UrlOps.compilePattern)
                links.zipWithIndex.foreach { case (child, idx) =>
                  val inScope = c.inScope(child)
                  val included = c.includePaths.isEmpty || UrlOps.matchesAny(child, inc, c.includePaths)
                  val excluded = c.excludePaths.nonEmpty &&
                    (UrlOps.matchesAny(child, exc, c.excludePaths) || child == e.url)
                  val perPageOk = !(c.limit > 0) || idx < c.limit
                  val h = UrlOps.host(child)
                  val robotsOk = !c.respectRobots || robots.get(h).forall(r => Robots.allowedUrl(r, c.userAgent, child))
                  if (inScope && included && !excluded && perPageOk && robotsOk) {
                    val norm = UrlOps.normalize(child)
                    candidates += FrontierEntry(e.jobId, child, norm, h,
                      nd, c.priorityOf.map(f => f(norm))
                        .getOrElse(seq * 4096L + math.min(idx, 4095L)), e.url, 0)
                  }
                }
              }
            case None =>
              trace += TraceRow(e.jobId, seq, e.url, e.urlNorm, e.depth, e.attempt, 404)
              if (e.attempt + 1 >= c.maxAttempts) {
                val p = progress(e.jobId)
                progress += e.jobId -> p.copy(done = p.done + 1, failed = p.failed + 1)
              } else retries += e.copy(attempt = e.attempt + 1)
          }
        }

        // dedup candidates: canonical-min per (jobId, urlNorm), drop seen
        val byKey = candidates.groupBy(e => (e.jobId, e.urlNorm)).map { case (_, es) =>
          es.minBy(e => (e.depth, e.priority, e.parentUrl, e.url))
        }.toSeq
        val freshAll = byKey.filterNot(e => seen.contains((e.jobId, e.urlNorm)))
          .sortBy(e => (e.jobId, e.depth, e.priority, e.urlNorm))
        // enqueue cap per job
        val room = mutable.Map[String, Long]()
        cfgs.values.foreach { c =>
          room(c.jobId) =
            if (c.limit > 0) math.max(0L, c.limit.toLong - progress(c.jobId).enqueued) else Long.MaxValue
        }
        val fresh = freshAll.filter { e =>
          if (room(e.jobId) > 0) { room(e.jobId) -= 1; true } else false
        }
        fresh.foreach(e => seen += ((e.jobId, e.urlNorm)))
        val freshByJob = fresh.groupBy(_.jobId).map { case (j, es) => j -> es.size.toLong }
        progress = progress.map { case (j, p) =>
          (j, p.copy(enqueued = p.enqueued + freshByJob.getOrElse(j, 0L)))
        }

        pending = pending ++ retries ++ fresh
        // finalize
        progress = progress.map { case (j, p) =>
          if (p.finalized) (j, p)
          else {
            val c = cfgs(j)
            val pendCount = pending.count(_.jobId == j).toLong
            val (fin, reason) = p.shouldFinalize(c.limit, pendCount)
            (j, if (fin) p.copy(finalized = true, finalizeReason = reason) else p)
          }
        }
      }
      gen += 1
    }
    Result(trace.toSeq, seen.toSet, progress)
  }
}
