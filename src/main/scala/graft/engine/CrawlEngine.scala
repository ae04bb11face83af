package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.sql.expressions.Window
import org.apache.spark.storage.StorageLevel
import graft.core.{Extractor, Robots, UrlOps}
import graft.frontier.SeenBloom

/**
 * The Spark-native crawl engine: AnyCrawl's worker/queue/Redis orchestration
 * (Worker.ts, managers/Queue.ts, managers/Progress.ts) re-expressed as BSP
 * supersteps over a frontier TABLE (SURVEY §3.2). One superstep runs five
 * stage methods in order:
 *
 *   schedule:     politeness top-k per host (two-phase, skew-proof)     C2/W1
 *                 + per-job remaining-limit top-k, seq numbers          P6
 *   fetchExtract: one left-outer shuffled-hash join of the batch against
 *                 the url-partitioned corpus cache (a miss is a 404
 *                 row), then one mapPartitions HTML kernel (all
 *                 formats, 1 parse)                                 J1/F5-F8
 *   expand:       posexplode links -> scope/path/depth/robots filters
 *                 -> dedup: fast gear, pending, result keys, candidates
 *                 and seen keys in one coalesce(1) pass, no join; wide
 *                 gear, in-batch reduce + bloom pre-filter + exact
 *                 anti-join                                    P2-P5/J2/A8
 *   writeBarrier: results + frontier parquet (`__fresh` rows = the seen
 *                 set), the two writes overlapped                       S5
 *   commit:       per-job counts reconciled with the committed footers
 *                 -> finalize decision + manifest (atomic)        A1-A3/S7
 *
 * Only commit writes the crawl state (progress, seq offsets, the pending
 * total); the other stages read it. The gears are read once per step, and
 * the small/wide fork lives in schedule and expand.
 *
 * Determinism: canonical order (depth, priority, urlNorm) is a total order
 * over the frontier, so scheduling, seq assignment and the final trace are
 * invariant under partitioning/parallelism (property-tested at local[2] vs
 * local[8] vs a sequential oracle).
 *
 * Scale notes (10^10-URL design): no driver-side collections beyond per-job
 * counters; the seen set is append-only parquet + per-bucket bloom
 * sidecars probed executor-side (no node holds the whole filter); all top-k
 * filters are two-phase (salted pre-rank then exact rank over <= 32*k rows
 * per key) so a hot host holding 30% of the frontier never lands in one
 * window partition.
 */
final class CrawlEngine(
    spark: SparkSession,
    pages: DataFrame,
    workDir: String,
    robotsBodies: Map[String, String] = Map.empty,
    settings: CrawlEngine.Settings = CrawlEngine.Settings()) {

  import spark.implicits.StringToColumn
  import CrawlEngine.{candRowEnc, extractedRowEnc, fetchedRowEnc, frontierEntryEnc,
    frontierRowFEnc, seqEntryEnc, stepRowEnc}
  private val ckpt = new Checkpoint(workDir)

  /** First-occurrence formatted plans per superstep stage, recorded when
    * `Settings.capturePlans` is on (PlanAudit / PLANS.md evidence for the
    * iterative engine — trace()'s own plan is just the committed-parquet
    * read, so the per-stage plans are captured where they are built). */
  val capturedPlans: scala.collection.mutable.LinkedHashMap[String, String] =
    scala.collection.mutable.LinkedHashMap.empty
  private def capturePlan(key: String, df: org.apache.spark.sql.Dataset[_]): Unit =
    if (settings.capturePlans && !capturedPlans.contains(key))
      capturedPlans(key) = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)

  /**
   * The fetch side of J1, hash-partitioned on the join key ONCE into
   * `spark.sql.shuffle.partitions` partitions and kept (memory-and-disk);
   * building it runs no job. Without this, every superstep re-shuffles the
   * full corpus (measured: the 2 GB shuffle dominated crawl wall-time 4:1
   * over the extraction kernel). This emulates what a real deployment gets
   * from a bucketed/Iceberg pages table partitioned by url-hash: the fetch
   * join only ever shuffles the (small) frontier batch. The partition count
   * must EQUAL spark.sql.shuffle.partitions, the batch exchange's: any other
   * count re-shuffles the whole corpus every generation (measured: 12 s/
   * generation at 100k pages x 8 cores). shuffle.partitions is the knob that
   * scales both sides together on a real cluster. Cached with AQE off: an
   * adaptive cached plan hides that partitioning from the planner, and
   * every fetch would re-shuffle the corpus.
   */
  private lazy val pagesPrepared: DataFrame = withAqeOff(true) {
    // `url`/`html`: the corpus columns Graft.scrape, PointRead and enrich read
    pages.select(col("url").as("__purl"), col("html").as("__phtml"))
      .repartition(spark.conf.get("spark.sql.shuffle.partitions", "32").toInt, col("__purl"))
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** `f` with AQE off when `off`, restored after. Scoped set + restore: the
    * engine owns the session while it plans (run() is single-threaded per
    * engine). */
  private def withAqeOff[T](off: Boolean)(f: => T): T = if (!off) f else {
    val key = "spark.sql.adaptive.enabled"
    val was = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try f
    finally was match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Materialize the partitioned corpus cache up front (the analog of the
    * bucketed pages table already sitting in the warehouse). Benchmarks call
    * this before starting the throughput clock; correctness paths may ignore
    * it (first superstep pays the load lazily). */
  def prepare(): Unit = { pagesPrepared.count(): Unit }

  // Robots as a broadcast dimension is the north-star design (BASELINE
  // "robots.txt caching as a broadcast dimension"; SURVEY J3/C3). Sizing: a
  // parsed RobotRules is ~100s of bytes, so even 10^7 distinct hosts fit a
  // single-GB broadcast; past that the same filter becomes a broadcast-hash
  // left join of the frontier with a robots(host, rules) table — a config
  // flip of the source, not a redesign.
  private val robotsRules: Map[String, Robots.RobotRules] =
    robotsBodies.map { case (h, b) => (h, Robots.parse(b)) }

  /** Run-constant state (configs, robots rules, Crawl-delay index) in ONE
    * broadcast per run. Everything that varies per generation is sized by
    * jobs, partitions or crossed trap families and rides the task closures
    * instead (measured: each tiny TorrentBroadcast write added 50-100 ms of
    * driver latency per superstep at bench scale). Rebuilt by run()/resume()
    * AFTER `configs` is assigned — a lazy val here would capture the FIRST
    * run's configs forever and silently schedule a second run()/resume() on
    * the same engine with stale budgets (or throw on a jobId the first run
    * never saw). */
  private var runB: org.apache.spark.broadcast.Broadcast[CrawlEngine.RunState] = _
  private def refreshRunState(): Unit = {
    // unpersist (not destroy): a cached plan from the previous run may still
    // lazily reference the old broadcast; unpersist frees executor copies
    // while keeping it re-shippable if such a plan is re-evaluated
    if (runB != null) runB.unpersist()
    // the Crawl-delay index is built ONCE per run (robots + configs are
    // run-constant): the schedule paths probe it instead of re-scanning the
    // whole robots map (with a PSL politeKey computation per entry) from
    // per-row UDFs — the old shape was O(frontierRows x robotsHosts) per
    // superstep under politenessByDomain.
    runB = spark.sparkContext.broadcast(CrawlEngine.RunState(configs, robotsRules,
      CrawlEngine.crawlDelayIndex(configs, robotsRules)))
  }

  /** Frontier parquet schema, pinned on every read: saves the per-generation
    * footer-sniffing schema inference (a driver-side file read per source). */
  private val frontierSchema = frontierRowFEnc.schema

  /** The seen table's two on-disk shapes, read only here: the flagged
    * frontier tail (`__fresh` rows = first enqueues) and a compacted
    * two-column bucket. Both read as (jobId, urlNorm). */
  private def seenTail(paths: Seq[String]): DataFrame =
    spark.read.schema(frontierSchema).parquet(paths: _*)
      .where($"__fresh").select($"jobId", $"urlNorm")
  private def seenBucket(b: Checkpoint.SeenBucket): DataFrame =
    spark.read.parquet(ckpt.seenBucketPath(b)).select($"jobId", $"urlNorm")

  /** (jobId, h, t, n): seen keys counted per (host, path template) — the
    * trap gate's family counts. */
  private def trapCounts(seen: DataFrame): DataFrame = {
    import graft.frontier.Traps
    seen.select($"jobId", Traps.hostCol($"urlNorm").as("h"),
        Traps.templateCol($"urlNorm").as("t"))
      .groupBy($"jobId", $"h", $"t").agg(count(lit(1)).as("n"))
  }

  /** Two-phase top-`k` per `keys` in `ord` order, skew-proof: rank within
    * (keys, salt) and pre-cut at `k`, so a hot key spreads over
    * `saltBuckets` partitions, then rank the <= saltBuckets x k survivors
    * per key exactly. The exact rank stays in `__r2`. */
  private def saltedTopK(df: DataFrame, keys: Seq[Column], ord: Seq[Column], k: Column): DataFrame = {
    val salt = pmod(xxhash64($"urlNorm"), lit(CrawlEngine.saltBuckets))
    val w1 = Window.partitionBy(keys :+ salt: _*).orderBy(ord: _*)
    val w2 = Window.partitionBy(keys: _*).orderBy(ord: _*)
    df.withColumn("__r1", row_number().over(w1)).filter($"__r1" <= k).drop("__r1")
      .withColumn("__r2", row_number().over(w2)).filter($"__r2" <= k)
  }

  /** Footer reconciliation of a write-riding accumulator: counters that
    * rode a transformation merge twice when a task re-executes (speculation,
    * stage retry, evicted-cache rebuild), and over-count is the only failure
    * mode (updates ride task success, and only successful tasks commit
    * files). `acc` when its row total (`rows` per job) equals the committed
    * footers' (exact); else the committed parquet's per-job `aggs`, one
    * J-row aggregate with no per-URL collect, each row's counts built by
    * `of`, and the recovery is counted in [[accumulatorRecoveries]]. */
  private def recountIfInflated(acc: Map[String, CrawlEngine.JobCounts], rows: CrawlEngine.JobCounts => Long,
      committedRows: Long, committed: => DataFrame, aggs: Column*)(
      of: Row => CrawlEngine.JobCounts): Map[String, CrawlEngine.JobCounts] =
    if (acc.valuesIterator.map(rows).sum == committedRows) acc
    else {
      accumulatorRecoveries += 1
      committed.groupBy($"jobId").agg(aggs.head, aggs.tail: _*).collect()
        .map(r => r.getString(0) -> of(r)).toMap
    }

  final case class Report(
      generations: Int,
      progress: Map[String, JobProgress],
      totalFetched: Long,
      wallMillis: Long)

  // ------------------------------------------------------------------ state
  private var generation: Int = 0
  /** Pending-frontier size after the last superstep (from the write-riding
    * accumulator; on resume, the committed frontier's footer row count):
    * the row count the gears key on (see [[gearsAt]]). */
  private var lastPendTotal: Long = 0L

  /** This superstep's gears at batch size `batch` (None: not counted, the
    * small schedule's batch). Every size decision reads this. */
  private def gearsAt(batch: Option[Long]): CrawlEngine.Gears =
    CrawlEngine.gears(settings.wideMinRows, lastPendTotal,
      progress.values.map(_.enqueued).sum, batch)

  private var progress: Map[String, JobProgress] = Map.empty
  private var seqOffsets: Map[String, Long] = Map.empty
  /** Trap-gate state: [[graft.frontier.Traps.familyKey]]s whose enqueued
    * count crossed the owning job's `trapMaxUrls`. Derived from COMMITTED
    * seen sources (the flagged frontier history + compaction buckets), so it
    * needs no checkpoint state of its own and is resume-correct and
    * parallelism/retry-deterministic by construction. Empty unless a job
    * opted in. Test-visible for the gate specs. */
  private[engine] var trapCrossed: Set[String] = Set.empty
  private var configs: Map[String, CrawlConfig] = Map.empty
  /** Sidecar-bloom cache nonce (see [[Checkpoint.newNonce]]); assigned by
    * run()/resume() before any compaction or probe can happen. */
  private var seenNonce: String = _
  /** Session Hadoop conf for executor-side sidecar probes — a bare
    * `new Configuration()` in tasks would drop `spark.hadoop.*` overlays
    * (fs credentials, defaultFS) on a real cluster. */
  private lazy val hadoopConfB = spark.sparkContext.broadcast(
    new graft.core.SerializableHadoopConf(spark.sessionState.newHadoopConf()))

  /** Start a fresh crawl for `jobs` over the pages corpus. */
  def run(jobs: Seq[CrawlConfig]): Report = {
    val t0 = System.currentTimeMillis()
    configs = jobs.map(c => c.jobId -> c).toMap
    refreshRunState()
    seenNonce = ckpt.newNonce()
    // run() means a FRESH crawl: drop every generation, bucket (with its
    // bloom sidecars) and manifest a previous crawl left under this
    // workDir — otherwise seenSources would fold a dead crawl's frontier
    // tails into this run's dedup, and a crash before this run's first
    // commit could resume() the dead crawl off its stale manifests.
    ckpt.reset()
    progress = jobs.map(c => c.jobId -> JobProgress(c.jobId)).toMap
    seqOffsets = jobs.map(c => c.jobId -> 0L).toMap
    generation = 0

    // ---- generation 0 bootstrap: seeds become the first frontier
    val seedEntries = jobs.flatMap { c =>
      c.seeds.zipWithIndex.flatMap { case (s, i) =>
        val norm = UrlOps.normalize(s)
        val h = UrlOps.host(s)
        val robotsOk = !c.respectRobots ||
          robotsRules.get(h).forall(r => Robots.allowedUrl(r, c.userAgent, s))
        if (robotsOk) Some(FrontierEntry(c.jobId, s, norm, h, 0,
          c.priorityOf.map(f => f(norm)).getOrElse(i.toLong), "", 0)) else None
      }
    }.distinct
    // a job with no schedulable seed finalizes here, as shouldFinalize
    // rules for an empty frontier: no superstep runs for it
    progress = progress.map { case (j, p) =>
      val seeded = p.copy(enqueued = seedEntries.count(_.jobId == j).toLong)
      val (fin, reason) = seeded.shouldFinalize(configs(j).limit, 0L)
      j -> (if (seeded.enqueued > 0L) seeded else seeded.copy(finalized = fin, finalizeReason = reason))
    }
    val seedDs = spark.createDataset(seedEntries.map(CrawlEngine.FrontierRowF.of(_, fresh = true)))
    seedDs.write.options(ckpt.writeOptions).mode("overwrite").parquet(ckpt.frontierPath(0))
    lastPendTotal = seedEntries.size.toLong

    loop()
    Report(generation, progress, progress.values.map(_.done).sum, System.currentTimeMillis() - t0)
  }

  /** Resume from the last committed generation (kill-at-gen-k test). */
  def resume(jobs: Seq[CrawlConfig]): Report = {
    val t0 = System.currentTimeMillis()
    configs = jobs.map(c => c.jobId -> c).toMap
    refreshRunState()
    // keep the nonce the original run minted — its sidecars are still valid;
    // a missing nonce file (pre-nonce checkpoint) mints one, demoting any
    // old sidecars to maybe-seen (correct, just unfiltered until recompaction).
    // The sidecars are the only filter state, already durable with their
    // buckets; a workDir whose buckets carry none resumes the same way.
    seenNonce = ckpt.readNonce().getOrElse(ckpt.newNonce())
    val m = ckpt.lastCommitted.getOrElse(
      throw new IllegalStateException(s"no committed generation under $workDir"))
    progress = m.progress.map(p => p.jobId -> p).toMap
    seqOffsets = m.seqOffsets
    generation = m.generation + 1
    ckpt.truncateAfter(generation) // drop partial output of a crashed gen
    // the frontier being resumed holds exactly the rows the uninterrupted
    // run's pending count gave, so the gears match that run's
    lastPendTotal = ckpt.committedRowCount(ckpt.frontierPath(generation),
      spark.sessionState.newHadoopConf())
    loop()
    Report(generation, progress, progress.values.map(_.done).sum, System.currentTimeMillis() - t0)
  }

  /** Every bucket write of this engine's lifetime: (bucket, rows written).
    * Test-visible evidence that leveled compaction rewrites O(level size)
    * per merge, never O(total seen) per compaction. */
  val compactionLog: scala.collection.mutable.ArrayBuffer[(Checkpoint.SeenBucket, Long)] =
    scala.collection.mutable.ArrayBuffer.empty

  /** Supersteps whose dedup engaged the executor-side sidecar bloom probe —
    * test-visible proof the probe path actually ran (the gating once made it
    * silently unreachable at test batch sizes; see `sidecarProbe`). */
  var sidecarProbeSteps: Int = 0

  /** Barriers whose write-riding accumulators disagreed with the committed
    * parquet footers (a re-executed task) and were recounted from the
    * committed files — test-visible evidence of the recovery path. */
  var accumulatorRecoveries: Int = 0

  /** Write one seen bucket (2-column parquet), build its bloom sidecars and
    * its trap-count sidecar when any job runs the trap gate, then
    * validity-mark it. Marker last => crash-invisible. */
  private def writeSeenBucket(b: Checkpoint.SeenBucket, src: DataFrame): Unit = {
    val nPart = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    src.repartition(nPart, $"jobId", $"urlNorm")
      .write.options(ckpt.writeOptions).mode("overwrite").parquet(ckpt.seenBucketPath(b))
    val rows = ckpt.committedRowCount(ckpt.seenBucketPath(b), spark.sessionState.newHadoopConf())
    compactionLog += ((b, rows))
    graft.frontier.SidecarBlooms.buildForBucket(spark, ckpt.seenBucketPath(b),
      CrawlEngine.sidecarShards, CrawlEngine.bloomFpp, rows, seenNonce, hadoopConfB, ckpt.writeOptions)
    // trap-count sidecar (the q63 gate at bucket scale): pre-aggregated
    // (jobId, host, template, n) rows live INSIDE the bucket dir (the `_`
    // prefix hides them from the bucket's own parquet listing), so they are
    // pruned/merged with their bucket and refreshTrapSet never re-derives
    // templates from a bucketed key again — refresh cost O(templates + tail),
    // not O(seen). Written before the marker: a valid bucket written while
    // the gate is on always carries counts; gate-off buckets fall back to
    // an on-the-fly derive at refresh.
    if (configs.values.exists(_.trapMaxUrls > 0))
      trapCounts(seenBucket(b)).coalesce(1)
        .write.options(ckpt.writeOptions).mode("overwrite").parquet(ckpt.trapCountsPath(b))
    ckpt.markBucket(b)
  }

  /** LEVELED seen compaction (LSM-style; VERDICT r2 #3): once the anti-join
    * read fan-in (buckets + frontier tail dirs) exceeds `compactEvery`, the
    * tail folds into a level-0 bucket — cost O(tail), never O(total seen) —
    * and any level holding >= `levelFanout` buckets merges into one bucket a
    * level up. Per-key compaction cost is amortized O(log generations); the
    * old single-compaction design rewrote the ENTIRE seen set every
    * `compactEvery` generations (a scale-killer at hundreds of generations
    * x 1e9 keys). Runs AFTER gen's commit, so inputs are durable; bucket
    * validity is marker-gated, so a crash mid-compaction is invisible, and a
    * crash between marker and input-prune only leaves redundant coverage
    * (masked by containment in validSeenBuckets; set-union semantics make it
    * harmless regardless). */
  private def maybeCompactSeen(gen: Int): Unit = {
    if (settings.compactEvery <= 0) return
    val maxGen = gen + 1 // frontier/gen=gen+1 was committed by this superstep
    val (buckets, tailPaths) = ckpt.seenSources(maxGen)
    if (buckets.size + tailPaths.size < settings.compactEvery) return
    if (tailPaths.nonEmpty) {
      val from = buckets.map(_.to + 1).maxOption.getOrElse(0)
      writeSeenBucket(Checkpoint.SeenBucket(from, maxGen, 0), seenTail(tailPaths))
    }
    var merged = true
    while (merged) {
      merged = false
      val cur = ckpt.validSeenBuckets(maxGen)
      cur.groupBy(_.level).toSeq.sortBy(_._1).find(_._2.size >= settings.levelFanout)
        .foreach { case (lvl, bs) =>
          val target = Checkpoint.SeenBucket(bs.map(_.from).min, bs.map(_.to).max, lvl + 1)
          writeSeenBucket(target, bs.map(seenBucket).reduce(_ unionByName _))
          ckpt.pruneSeenBuckets(bs)
          merged = true
        }
    }
  }

  private def activeJobs: Seq[CrawlConfig] =
    configs.values.toSeq.filter(c => !progress(c.jobId).finalized).sortBy(_.jobId)

  /** Rebuild [[trapCrossed]] from the committed seen sources of `gen`
    * before each superstep, run only when an active job opted into the trap
    * gate; the gate therefore lags the enqueues by one generation. Reading
    * committed state only makes it resume-correct. Cost shape: bucketed
    * generations contribute their PRE-AGGREGATED count sidecars (O(distinct
    * templates) rows, written at compaction); only the frontier TAIL —
    * bounded by the compaction cadence — is template-derived here, so a
    * refresh is O(templates + tail), never O(total seen). A bucket written
    * while the gate was off lacks the sidecar and is derived on the fly
    * (once — its next merge writes one). */
  private def refreshTrapSet(gen: Int): Unit = {
    val caps = activeJobs.collect {
      case c if c.trapMaxUrls > 0 => c.jobId -> c.trapMaxUrls.toLong
    }.toMap
    if (caps.isEmpty) return
    val (buckets, tails) = ckpt.seenSources(gen)
    val parts =
      buckets.map { b =>
        val counts = ckpt.trapCountsPath(b)
        if (java.nio.file.Files.exists(java.nio.file.Paths.get(counts)))
          spark.read.parquet(counts)
        else trapCounts(seenBucket(b))
      } ++
      (if (tails.isEmpty) Nil else Seq(trapCounts(seenTail(tails))))
    val partials = parts.reduceOption(_ unionByName _).getOrElse(return)
    val minCap = caps.values.min
    trapCrossed = partials
      .filter($"jobId".isin(caps.keys.toSeq: _*))
      .groupBy($"jobId", $"h", $"t").agg(sum($"n").as("n"))
      .filter($"n" >= minCap) // crossed rows only ever reach the driver
      .collect()
      .filter(r => r.getLong(3) >= caps(r.getString(0)))
      .map(r => graft.frontier.Traps.familyKey(r.getString(0), r.getString(1), r.getString(2)))
      .toSet
  }

  private def loop(): Unit = {
    var gen = generation
    applyCancellations()
    applyExpiry()
    while (activeJobs.nonEmpty && gen < settings.maxGenerations) {
      // NOTE: each generation re-roots from parquet deliberately — carrying
      // a persisted Dataset across supersteps embeds the previous plan into
      // the next one (pend is referenced several times per step), so plan
      // trees grow exponentially with generations. (An SQL-cached handoff of
      // the just-written frontier was tried and reverted: recache-on-write
      // hits a Spark internal NPE, and the parquet re-read it saves is tens
      // of ms against the OS page cache.)
      refreshTrapSet(gen) // no-op unless a job opted in
      val frontier = spark.read.schema(frontierSchema).parquet(ckpt.frontierPath(gen))
        .select("jobId", "url", "urlNorm", "host", "depth", "priority", "parentUrl", "attempt")
        .as[FrontierEntry]
      val madeProgress = superstep(gen, frontier)
      if (!madeProgress) {
        // nothing schedulable (e.g., zero politeness budget): finalize rest
        progress = progress.map { case (j, p) =>
          if (p.finalized) (j, p) else (j, p.copy(finalized = true, finalizeReason = "stalled"))
        }
      } else maybeCompactSeen(gen)
      gen += 1
      generation = gen
      applyCancellations()
      applyExpiry()
    }
  }

  /** Job-TTL sweep at the superstep barrier (the analog of Worker.ts's
    * periodic expired-pending cleanup; TTL default 3h as in the reference's
    * jobExpireAt column default). Jobs with createdAtMs == 0 never expire. */
  private def applyExpiry(): Unit = {
    val now = settings.clockMs()
    progress = progress.map { case (j, p) =>
      val c = configs(j)
      if (!p.finalized && c.createdAtMs > 0 && now > c.createdAtMs + settings.jobTtlMs)
        (j, p.copy(finalized = true, finalizeReason = "expired"))
      else (j, p)
    }
  }

  /** Cancellation takes effect at the next superstep barrier: jobs with a
    * cancel marker (Graft.cancel / DELETE /v1/crawl/:jobId,
    * CrawlController.ts:279-305) finalize with reason "cancelled" and stop
    * being scheduled. Markers persist, so a resume also honors them. */
  private def applyCancellations(): Unit = {
    val cancelled = ckpt.cancelledJobs
    if (cancelled.nonEmpty) {
      progress = progress.map { case (j, p) =>
        if (!p.finalized && cancelled.contains(j))
          (j, p.copy(finalized = true, finalizeReason = "cancelled"))
        else (j, p)
      }
    }
  }

  /** Run one superstep over the pending frontier of `gen`; false when no
    * row could be scheduled. A wide schedule's count sizes the gears that
    * depend on the batch.
    *
    * Small steps run with AQE off, restored after. Every exchange AQE
    * materializes is a separate job round-trip on the driver; a small-step
    * generation's exchanges carry a few hundred rows and their plans are
    * already final (the fetch join hint-pinned, partitioning fixed by the
    * gates), so runtime re-planning can improve nothing and measurably
    * costs ~0.25 s/generation in stage-boundary latency. Wide steps — the
    * 100 TB shape — keep AQE for skew-join splitting and partition
    * coalescing.
    */
  private def superstep(gen: Int, frontier: Dataset[FrontierEntry]): Boolean = {
    val t0 = System.currentTimeMillis()
    val pre = gearsAt(None)
    withAqeOff(pre.smallStep) {
      val active = activeJobs
      val pend = frontier.filter($"jobId".isin(active.map(_.jobId): _*))
      val batch = schedule(pend, active, pre.smallStep)
      if (batch.count.contains(0L)) { batch.release(); false }
      else {
        val gear = batch.count.fold(pre)(n => gearsAt(Some(n)))
        val resultCounts = new CrawlEngine.CountsAcc
        val frontierCounts = new CrawlEngine.CountsAcc
        spark.sparkContext.register(resultCounts, s"crawl-results-gen$gen")
        spark.sparkContext.register(frontierCounts, s"crawl-frontier-gen$gen")
        val extracted = fetchExtract(gen, batch, resultCounts)
        writeBarrier(gen, batch, extracted)(expand(gen, pend, active, extracted.toDF(), gear, frontierCounts))
        commit(gen, t0, resultCounts.value, frontierCounts.value)
      }
    }
  }

  /** Schedule: politeness keeps the top hostBudget per (job, host), the
    * limit the top remaining per job (P6/W1), both in canonical order, then
    * each job's rows take consecutive seq numbers from its offset.
    *
    * SMALL steps (pending < wideMinRows) take a one-exchange plan: shuffle
    * the pending set by jobId once and run the whole schedule — canonical
    * sort, per-host budget walk, per-job limit prefix, seq numbering — as a
    * single in-memory pass per job partition (a job's pending rows are
    * bounded by the gate, so the sort is bounded). This replaces three
    * exchanges, two window sorts and a range-sort sampling job per
    * generation; at ~15 BFS generations per crawl that fixed latency was
    * most of q24's floor. Semantics are identical by construction: the
    * limit cut is a prefix (in canonical order) of the politeness
    * survivors, which is exactly what the ordered walk emits. The small
    * schedule leaves its batch uncounted: it is a single narrow coalesce(1)
    * pass, and NO count job runs before the fetch (one Spark job + one AQE
    * shuffle stage per generation — ~15% of q24's floor). In both gears the
    * manifest's batch count and lineage come from the committed results
    * files.
    *
    * LARGE steps keep the two-phase salted windows (hot-host skew safety)
    * + distributed sort + manual two-pass indexing: deterministic under
    * any parallelism, no single-partition window, no driver data.
    */
  private def schedule(pend: Dataset[FrontierEntry], active: Seq[CrawlConfig], small: Boolean): CrawlEngine.Batch = {
    val remaining = active.map { c =>
      val p = progress(c.jobId)
      c.jobId -> (if (c.limit > 0) math.max(0L, c.limit.toLong - p.done) else Long.MaxValue)
    }.toMap
    val offsets = seqOffsets
    val runBv = runB
    if (small) {
      val rows = pend.coalesce(1).mapPartitions { it =>
        val st = runBv.value
        it.toArray.groupBy(_.jobId).iterator.flatMap { case (j, rs) =>
          CrawlEngine.scheduleJob(st, j, rs, remaining(j), offsets(j))
        }
      }.rdd.persist(StorageLevel.MEMORY_AND_DISK)
      CrawlEngine.Batch(rows, None)
    } else {
      val needPoliteness = active.exists(c => c.hostBudgetPerStep != Int.MaxValue ||
        (c.crawlDelayEpochSeconds > 0 && robotsRules.nonEmpty))
      val needLimit = remaining.values.exists(_ != Long.MaxValue)
      // Wave-major scheduling (politenessWaves): politeness keeps the top
      // waves*budget per (job, host) with wave = canonical-rank/budget; the
      // limit cut and the seq sort then order by (wave, canonical). At
      // waves=1, __wave is constant 0 and this is the round-2 plan exactly.
      val polite =
        if (!needPoliteness) pend.toDF().withColumn("__wave", lit(0L))
        else {
          // per-(job, host) budget: hostBudgetPerStep capped by the robots
          // Crawl-delay quota when the job opted in. The opted-out path
          // (epoch <= 0, every existing caller) is a single branch to the
          // job's config — byte-identical budgets to the round-2 plan.
          // group key = host, or eTLD+1 under politenessByDomain (the
          // same politeKey both the fast path and the oracle use)
          val keyCol = udf((j: String, h: String) =>
            CrawlEngine.politeKey(runBv.value.configs(j), h)).apply($"jobId", $"host")
          val budgetCol = udf((j: String, k: String) =>
            CrawlEngine.budgetOf(runBv.value, j, k)).apply($"jobId", $"__pk")
          val capCol = udf { (j: String, k: String) =>
            val b = CrawlEngine.budgetOf(runBv.value, j, k)
            if (b >= Int.MaxValue.toLong) Long.MaxValue
            else b * runBv.value.configs(j).politenessWaves
          }.apply($"jobId", $"__pk")
          saltedTopK(pend.toDF().withColumn("__pk", keyCol),
              Seq($"jobId", $"__pk"), CrawlEngine.ordCols, capCol)
            .withColumn("__b", budgetCol)
            .withColumn("__wave",
              when($"__b" >= Int.MaxValue.toLong, 0L)
                .otherwise(expr("(CAST(__r2 AS BIGINT) - 1L) div __b")))
            .drop("__r2", "__b", "__pk")
        }
      val waveOrd = col("__wave") +: CrawlEngine.ordCols
      val batchDf =
        if (!needLimit) polite
        else {
          saltedTopK(polite, Seq($"jobId"), waveOrd, CrawlEngine.jobLookup(remaining)($"jobId"))
            .drop("__r2")
        }
      val sortedDf = batchDf
        .orderBy(col("jobId") +: waveOrd: _*)
        .drop("__wave")
      capturePlan("schedule-wide", sortedDf)
      val sortedBase = sortedDf.as[FrontierEntry].rdd
        .persist(StorageLevel.MEMORY_AND_DISK)
      // per partition, in partition order: (rows, each job's first local position)
      val partStats: Array[(Long, Map[String, Long])] =
        sortedBase.mapPartitions { it =>
          var n = 0L
          val firsts = scala.collection.mutable.Map[String, Long]()
          it.foreach { fe =>
            if (!firsts.contains(fe.jobId)) firsts(fe.jobId) = n
            n += 1
          }
          Iterator.single((n, firsts.toMap))
        }.collect()
      // partition offset = total rows in lower-numbered partitions
      val partOffsets = partStats.map(_._1).scanLeft(0L)(_ + _)
      val firstIdxPerJob: Map[String, Long] = partStats.indices
        .flatMap(pi => partStats(pi)._2.map { case (j, local) => j -> (partOffsets(pi) + local) })
        .groupMapReduce(_._1)(_._2)(math.min)
      val seqedRdd = sortedBase.mapPartitionsWithIndex { case (pi, it) =>
        var local = -1L
        val base = partOffsets(pi)
        it.map { fe =>
          local += 1
          val i = base + local
          CrawlEngine.SeqEntry(fe.jobId, fe.url, fe.urlNorm, fe.host, fe.depth,
            fe.priority, fe.parentUrl, fe.attempt,
            offsets(fe.jobId) + (i - firstIdxPerJob(fe.jobId)))
        }
      }
      CrawlEngine.Batch(seqedRdd, Some(partOffsets.last))
    }
  }

  /** Fetch and extract. The join is built on the batch (the left side):
    * only the batch is exchanged, onto the cached corpus's url-hash
    * partitioning, and each corpus partition streams through its slice of
    * the batch. Pinned by hint in every gear — AQE flip-flopping between
    * strategies made benchmarks bimodal. The links column rides along in
    * the results parquet so link expansion reads the materialized output
    * instead of recomputing the kernel. A1-A3 accounting rides the extract
    * pass into `counts` instead of a separate groupBy-collect job: the
    * stage is consumed by exactly ONE action (the results write), so each
    * task's updates merge exactly once. Persist-then-write: the write job
    * materializes the cache in the same pass; link expansion and the
    * retry/deferral joins read the cache (columnar, pruned) instead of
    * re-reading the parquet just written. */
  private def fetchExtract(gen: Int, batch: CrawlEngine.Batch,
      counts: CrawlEngine.CountsAcc): Dataset[CrawlEngine.ExtractedRow] = {
    val seqed = spark.createDataset(batch.rows)
    val fetched = seqed.hint("shuffle_hash")
      .join(pagesPrepared, seqed("urlNorm") === pagesPrepared("__purl"), "left_outer")
      .drop("__purl")
    capturePlan("fetch-join", fetched)
    val runBv = runB
    val chaos = settings.chaosAccumulatorDoubleFire
    fetched.as[CrawlEngine.FetchedRow].mapPartitions { it =>
      val cfgs = runBv.value.configs
      CrawlEngine.counted(counts, chaos, CrawlEngine.JobCounts.ofResult)(it.map(r =>
        CrawlEngine.extractPage(cfgs(r.jobId), r, java.time.Instant.now().toString, gen)))
    }.persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** Expand: the next frontier, (pending - batch) ∪ retries ∪ fresh, each
    * row counted into `counts`; the frontier write is its one action, so
    * the updates merge exactly once. */
  private def expand(gen: Int, pend: Dataset[FrontierEntry], active: Seq[CrawlConfig], res: DataFrame,
      gear: CrawlEngine.Gears, counts: CrawlEngine.CountsAcc): Dataset[CrawlEngine.FrontierRowF] = {
    val runBv = runB
    val chaos = settings.chaosAccumulatorDoubleFire
    val enqueued = progress.map { case (j, p) => j -> p.enqueued }
    // crossed trap families (empty unless a job opted in) — gate candidates
    // BEFORE dedup/seen/cap so a trapped family costs no downstream work
    val traps = trapCrossed
    // raw link candidates: one row per (result page, out-link index)
    val links = res.filter($"success" && $"terminal")
      .select($"jobId", $"seq", $"url".as("parentUrl"), $"depth",
        posexplode($"links").as(Seq("idx", "childUrl")))

    val (seenBuckets, tailPaths) = ckpt.seenSources(gen)
    val bucketPaths = seenBuckets.map(ckpt.seenBucketPath)
    val tailDfOpt = Option.when(tailPaths.nonEmpty)(seenTail(tailPaths))
    val seenDfOpt = (seenBuckets.map(seenBucket) ++ tailDfOpt).reduceOption(_ unionByName _)
    // enqueue-cap rooms (Base.ts:312-325 / enqueueLinks limit): never let a
    // job's total enqueued exceed its limit; canonical-first wins
    val capMap = active.map { c =>
      val room = if (c.limit > 0) math.max(0L, c.limit.toLong - progress(c.jobId).enqueued) else Long.MaxValue
      c.jobId -> room
    }.toMap
    val capNeeded = active.exists(c => c.limit > 0)
    // The sidecar bloom probe engages once compaction has produced
    // filter-carrying buckets; before that everything goes to the exact
    // anti-join, whose right side is then only the small tail. It pays for
    // itself only when the candidate set is large (it kills shuffle width
    // ahead of the exact anti-join), so only wide steps probe.
    val sidecarProbe = bucketPaths.nonEmpty && gear.sidecarProbe
    if (sidecarProbe) sidecarProbeSteps += 1

    if (gear.fastExpand) {
      // FAST gear: the whole next frontier is ONE narrow coalesce(1) task
      // over four tagged inputs — pending rows, the batch's result keys,
      // the raw link candidates and the seen keys (buckets ∪ tail); see
      // CrawlEngine.fastFrontier. No join, no broadcast, one plan: the
      // gate bounds every input (pending < wideMinRows / 8, seen =
      // enqueued < wideMinRows), and the single task writes one file.
      val fields = stepRowEnc.schema.fields
      def tagged(tag: Int, df: DataFrame): DataFrame = df.select(fields.map { f =>
        if (f.name == "tag") lit(tag).as("tag")
        else if (df.columns.contains(f.name)) col(f.name)
        else lit(if (f.dataType == StringType) null else 0).cast(f.dataType).as(f.name)
      }.toIndexedSeq: _*)
      val inputs = Seq(tagged(CrawlEngine.TagPend, pend.toDF()),
        tagged(CrawlEngine.TagResult, res.select($"jobId", $"urlNorm", $"terminal",
          ($"attempt" + 1).as("attempt"))),
        tagged(CrawlEngine.TagCand, links.withColumnRenamed("childUrl", "url"))) ++
        seenDfOpt.map(tagged(CrawlEngine.TagSeen, _))
      val fused = inputs.reduce(_ union _).as[CrawlEngine.StepRow].coalesce(1)
        .mapPartitions(it => CrawlEngine.counted(counts, chaos, CrawlEngine.JobCounts.ofFrontier)(CrawlEngine.fastFrontier(it,
          CrawlEngine.candidateFilter(runBv.value, enqueued, traps), capMap)))
      capturePlan("expand-fast", fused)
      fused
    } else {
      val candRaw = links.as[CrawlEngine.CandRow].mapPartitions(it =>
        it.flatMap(CrawlEngine.candidateFilter(runBv.value, enqueued, traps)))
      // in-batch dedup: canonical-min entry per (jobId, urlNorm) (U1).
      // One hash shuffle + a partition-local sorted first-per-key scan.
      // With the sidecar probe on, the shuffle keys on shard-of-key — equal keys
      // still co-locate (the shard is a pure function of the key), and each
      // task then probes only its own shards' sidecar filters (executor-
      // cached across supersteps) rather than every shard of every bucket.
      val dedupKeyed =
        if (sidecarProbe) {
          // BIGINT-only arithmetic (ANSI-safe); for power-of-two shard
          // counts pmod takes the same low bits SidecarBlooms.shardOf does,
          // so a task's rows map to exactly the shard filters it will load
          val s = CrawlEngine.sidecarShards
          candRaw.repartition(expr("pmod(xxhash64(concat(jobId, '-', urlNorm)) ^ " +
            s"shiftrightunsigned(xxhash64(concat(jobId, '-', urlNorm)), 32), ${s}L)"))
        } else candRaw.repartition($"jobId", $"urlNorm")
      val cand = dedupKeyed
        .sortWithinPartitions($"jobId", $"urlNorm", $"depth", $"priority", $"parentUrl", $"url")
        .mapPartitions { it =>
          var lastJob: String = null
          var lastNorm: String = null
          it.filter { e =>
            val keep = e.jobId != lastJob || e.urlNorm != lastNorm
            if (keep) { lastJob = e.jobId; lastNorm = e.urlNorm }
            keep
          }
        }

      // ------------------------------- seen-set dedup: bloom + exact (J2)
      // The per-bucket shard filters live next to the compacted seen
      // parquet and are probed executor-locally — the driver never holds
      // any filter. Positives take the exact anti-join against the whole
      // seen set; the filters cover only bucketed generations, so negatives
      // still take an exact anti-join against the (small, recent) frontier
      // tail. Without the probe every candidate takes the exact anti-join.
      val unseen: Dataset[FrontierEntry] =
        if (sidecarProbe) {
          val hcB = hadoopConfB
          // task-memoized probe (one (bucket, shard) filter load per task —
          // the shard-keyed repartition above means only a handful); the
          // missing-file => maybe-seen contract lives in SidecarBlooms,
          // spec-pinned there, not re-implemented here
          val probe = graft.frontier.SidecarBlooms.taskLocalProbe(
            bucketPaths.toArray, CrawlEngine.sidecarShards, seenNonce,
            () => hcB.value.value)
          val mightContain = udf { (jobId: String, urlNorm: String) =>
            probe(SeenBloom.hash64(jobId + "-" + urlNorm))
          }
          val tagged = cand.withColumn("__maybe", mightContain($"jobId", $"urlNorm"))
          val negatives = tagged.filter(!$"__maybe").drop("__maybe").as[FrontierEntry]
          val positives = tagged.filter($"__maybe").drop("__maybe").as[FrontierEntry]
          val newNegatives = tailDfOpt.fold(negatives)(t =>
            negatives.join(t, Seq("jobId", "urlNorm"), "left_anti").as[FrontierEntry])
          // the probe runs only when buckets exist, so seenDfOpt is defined
          newNegatives.unionByName(positives.join(seenDfOpt.get, Seq("jobId", "urlNorm"),
            "left_anti").as[FrontierEntry])
        } else seenDfOpt.fold(cand)(seenDf =>
          cand.join(seenDf, Seq("jobId", "urlNorm"), "left_anti").as[FrontierEntry])
      var fresh = unseen
      if (capNeeded)
        fresh = saltedTopK(fresh.toDF(), Seq($"jobId"), CrawlEngine.ordCols,
          CrawlEngine.jobLookup(capMap)($"jobId")).drop("__r2").as[FrontierEntry]
      capturePlan("expand-wide", fresh)

      // Deferrals and retries: ONE left-outer join of the pending set
      // against the batch's result keys; unmatched rows defer, matched
      // non-terminal rows retry with attempt+1, matched terminal rows
      // leave. Build side = the batch's keys, never the pending set: up
      // to wideMinRows keys broadcast, so the (wide) pending set is not
      // shuffled at all; a larger batch takes the pinned SHJ.
      val resKeys = res.select($"jobId".as("__rj"), $"urlNorm".as("__ru"),
        $"terminal".as("__rterm"), ($"attempt" + 1).as("__rnext"))
      val resKeysHinted = resKeys.hint(if (gear.broadcastJoins) "broadcast" else "shuffle_hash")
      val carried = pend.toDF()
        .join(resKeysHinted, $"jobId" === $"__rj" && $"urlNorm" === $"__ru", "left_outer")
        .filter($"__rterm".isNull || !$"__rterm")
        .withColumn("attempt", when($"__rterm".isNotNull, $"__rnext").otherwise($"attempt"))
        .select($"jobId", $"url", $"urlNorm", $"host", $"depth", $"priority", $"parentUrl", $"attempt")
        .as[FrontierEntry]
      carried.map(CrawlEngine.FrontierRowF.of(_, fresh = false))
        .unionByName(fresh.map(CrawlEngine.FrontierRowF.of(_, fresh = true)))
        .mapPartitions(CrawlEngine.counted(counts, chaos, CrawlEngine.JobCounts.ofFrontier)(_))
    }
  }

  /** The write barrier: the results write runs CONCURRENTLY with building
    * and writing `next`, the frontier. The two writes are each ~1/3 of the
    * superstep floor and share no data dependency: expansion reads the
    * `extracted` CACHE, and commit reads the committed footers. Cache
    * coherence under two concurrent jobs is Spark's block-level write lock:
    * whichever job's task reaches an uncached partition first computes and
    * caches it, the other blocks then reads — each partition (and so each
    * accumulator update) is computed exactly once, and the commit's footer
    * reconciliation remains the safety net. The results write is joined on
    * every path before the two caches it reads are released: a failed step
    * must not return to its caller (who may resume()) while it still runs.
    * When the frontier side failed too, its exception is the one thrown. */
  private def writeBarrier(gen: Int, batch: CrawlEngine.Batch, extracted: Dataset[CrawlEngine.ExtractedRow])(
      next: => Dataset[CrawlEngine.FrontierRowF]): Unit = {
    val sess = spark
    val resultsFut = CrawlEngine.resultsWritePool.submit(new java.util.concurrent.Callable[Unit] {
      def call(): Unit = {
        // planning in this thread resolves SQLConf through the
        // thread-local active session — pin it, or shuffle.partitions
        // and the small-step AQE toggle fall back to defaults
        org.apache.spark.sql.SparkSession.setActiveSession(sess)
        extracted.write.options(ckpt.writeOptions).mode("overwrite").parquet(ckpt.resultsPath(gen))
      }
    })
    def join(): Unit =
      try resultsFut.get()
      catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      finally { batch.release(); extracted.unpersist(false) }
    try next.write.options(ckpt.writeOptions).mode("overwrite").parquet(ckpt.frontierPath(gen + 1))
    catch { case t: Throwable => try join() catch { case r: Throwable => t.addSuppressed(r) }; throw t }
    join()
  }

  /** Commit (A1-A3 accounting): reconcile the two barriers' counts with
    * the committed footers, advance progress, seq offsets and the pending
    * total, and commit the manifest — the only stage that writes the
    * crawl's state. Exactly-once repair (VERDICT r2 #1, see
    * [[recountIfInflated]]): the committed parquet footers are the ground
    * truth row count, so seqOffsets, the manifest's batch count and lineage
    * and the finalize decision always derive from committed state, never
    * from an inflated counter. The committed result rows are the batch
    * count: an empty write means nothing was schedulable (the small step's
    * uncounted batch), and false is returned. The small step learns that
    * only after an empty expansion, but no manifest is committed, so
    * resume/trace see the identical crawl. */
  private def commit(gen: Int, t0: Long, resultAcc: Map[String, CrawlEngine.JobCounts],
      frontierAcc: Map[String, CrawlEngine.JobCounts]): Boolean = {
    val hconf = spark.sessionState.newHadoopConf()
    val resultFileRows = ckpt.committedFileRows(ckpt.resultsPath(gen), hconf)
    val batchRows = resultFileRows.map(_._2).sum
    if (batchRows == 0L) return false
    val results = recountIfInflated(resultAcc, _.fetched, batchRows,
        spark.read.parquet(ckpt.resultsPath(gen)),
        count(lit(1)), sum(when($"terminal", 1L).otherwise(0L)),
        sum(when($"success", 1L).otherwise(0L)),
        sum(when($"terminal" && !$"success", 1L).otherwise(0L)), sum($"cost"))(r =>
      CrawlEngine.JobCounts(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    val next = recountIfInflated(frontierAcc, _.pending,
        ckpt.committedRowCount(ckpt.frontierPath(gen + 1), hconf),
        spark.read.schema(frontierSchema).parquet(ckpt.frontierPath(gen + 1)),
        count(lit(1)), sum(when($"__fresh", 1L).otherwise(0L)))(r =>
      CrawlEngine.JobCounts(pending = r.getLong(1), fresh = r.getLong(2)))
    val counts = results ++ next.map { case (j, c) => j -> results.get(j).fold(c)(_ + c) }
    counts.foreach { case (j, c) =>
      val p = progress(j)
      progress += j -> p.copy(
        enqueued = p.enqueued + c.fresh,
        done = p.done + c.done,
        succeeded = p.succeeded + c.succeeded,
        failed = p.failed + c.failed,
        creditsUsed = p.creditsUsed + c.cost)
      seqOffsets += j -> (seqOffsets(j) + c.fetched)
    }
    lastPendTotal = counts.values.map(_.pending).sum
    progress = progress.map { case (j, p) =>
      if (p.finalized) (j, p)
      else {
        val (fin, reason) = p.shouldFinalize(configs(j).limit, counts.get(j).fold(0L)(_.pending))
        (j, if (fin) p.copy(finalized = true, finalizeReason = reason) else p)
      }
    }

    ckpt.commit(GenManifest(
      generation = gen,
      progress = progress.values.toSeq.sortBy(_.jobId),
      seqOffsets = seqOffsets,
      freshCount = counts.values.map(_.fresh).sum,
      partitionLineage = resultFileRows.toMap,
      fetchedPages = batchRows,
      extractedDocs = counts.values.map(_.succeeded).sum,
      wallMillis = System.currentTimeMillis() - t0))
    true
  }

  /** Full canonical trace: (jobId, seq, url, depth, status) ordered. */
  def trace(throughGen: Int = Int.MaxValue): DataFrame = {
    val last = ckpt.lastCommitted.map(_.generation).getOrElse(-1)
    val paths = ckpt.resultPathsThrough(math.min(throughGen, last))
    if (paths.isEmpty) spark.emptyDataFrame
    else spark.read.parquet(paths: _*)
      .select("jobId", "seq", "url", "urlNorm", "depth", "attempt", "status", "success", "terminal", "generation")
      .orderBy("jobId", "seq")
  }

  def finalProgress: Map[String, JobProgress] = progress

  /** Full result rows (all formats + metadata/timestamp/cost), unprojected —
    * the data a GET /v1/crawl/:jobId results page serves. */
  def results(): org.apache.spark.sql.DataFrame = {
    val last = ckpt.lastCommitted.map(_.generation).getOrElse(-1)
    val paths = ckpt.resultPathsThrough(last)
    if (paths.isEmpty) spark.emptyDataFrame else spark.read.parquet(paths: _*)
  }

  /** The final URL-seen set (jobId, urlNorm). */
  def seenSet(): DataFrame = {
    val last = ckpt.lastCommitted.map(_.generation).getOrElse(-1)
    val (buckets, tailPaths) = ckpt.seenSources(last + 1)
    val parts: Seq[DataFrame] =
      buckets.map(seenBucket) ++ (if (tailPaths.nonEmpty) Seq(seenTail(tailPaths)) else Nil)
    parts.reduceOption(_ unionByName _).map(_.distinct()).getOrElse(spark.emptyDataFrame)
  }
}

object CrawlEngine {
  // false-positive rate of each seen bucket's bloom sidecars
  private val bloomFpp = 0.01
  // salt buckets of the two-phase top-k windows: the pre-rank phase splits
  // a hot (job, host) over this many partitions, so the exact phase ranks
  // at most saltBuckets x k rows per key
  private val saltBuckets = 32
  // shards per bucket of the seen-set bloom sidecars: each seen-compaction
  // bucket carries one bloom file per shard, probed executor-locally after
  // a shard-keyed candidate shuffle, so no node ever holds the full filter
  // (see SidecarBlooms)
  private val sidecarShards = 32

  /** The run-constant state the superstep tasks read, in one broadcast:
    * job configs, parsed robots rules and the [[crawlDelayIndex]]. */
  private final case class RunState(
      configs: Map[String, CrawlConfig],
      robots: Map[String, graft.core.Robots.RobotRules],
      delayIdx: Map[String, Map[String, Double]])

  /** Canonical frontier order: (depth, priority, urlNorm), a total order. */
  private val ordCols = Seq(col("depth"), col("priority"), col("urlNorm"))

  /** Per-job numeric lookup in a Column plan. Per-generation state (per-job
    * offsets, rooms and caps) is sized by jobs, so it rides the task
    * closures — no broadcast per generation — through a UDF capturing the
    * map, NOT element_at(typedLit(map)): a typedLit embeds the
    * (generation-varying) map into the generated code, so every superstep
    * produced a brand-new codegen source and paid a wholestage
    * recompilation (~100-200 ms per stage per generation). The UDF's code
    * reaches its closure through the references array, so the generated
    * source is byte-identical across generations -> codegen cache hits. */
  private def jobLookup(m: Map[String, Long]) = udf((j: String) => m(j))

  /** The small schedule of job `j`'s pending rows `rs`. Politeness: wave w =
    * canonical rank within host / budget, kept while w < politenessWaves;
    * then the per-job remaining-limit cut (`room`) is a prefix in
    * WAVE-MAJOR canonical order, and seq follows it from `offset`. At
    * waves=1 this is the classic single budget walk. Budget is per (job,
    * host): hostBudgetPerStep capped by the robots Crawl-delay quota when
    * opted in (memoized per host). */
  private def scheduleJob(st: RunState, j: String, rs: Array[FrontierEntry], room: Long,
      offset: Long): Iterator[SeqEntry] = {
    val cfg = st.configs(j)
    val wavesJ = cfg.politenessWaves.toLong
    val sorted = rs.sortBy(e => (e.depth, e.priority, e.urlNorm))
    val hostN = scala.collection.mutable.HashMap[String, Long]()
    val hostB = scala.collection.mutable.HashMap[String, Long]()
    val staged = scala.collection.mutable.ArrayBuffer[(Long, FrontierEntry)]()
    sorted.foreach { e =>
      // group key = host, or eTLD+1 under politenessByDomain
      val pk = politeKey(cfg, e.host)
      val budget = hostB.getOrElseUpdate(pk, budgetOf(st, j, pk))
      val cap =
        if (budget >= Int.MaxValue.toLong) Long.MaxValue
        else budget * wavesJ
      val c = hostN.getOrElse(pk, 0L)
      if (c < cap) {
        hostN(pk) = c + 1
        staged += (((if (budget >= Int.MaxValue.toLong) 0L else c / budget), e))
      }
    }
    staged.sortBy { case (w, e) => (w, e.depth, e.priority, e.urlNorm) }.iterator
      .zipWithIndex.takeWhile(_._2 < room).map { case ((_, e), i) =>
        SeqEntry(e.jobId, e.url, e.urlNorm, e.host, e.depth, e.priority, e.parentUrl, e.attempt, offset + i)
      }
  }

  /** Job `j`'s per-wave budget for politeness key `key`: hostBudgetPerStep
    * capped by the Crawl-delay quota when the job opted in. */
  private def budgetOf(st: RunState, j: String, key: String): Long = {
    val cfg = st.configs(j)
    effectiveBudgetIndexed(cfg, st.delayIdx.getOrElse(j, Map.empty),
      cfg.hostBudgetPerStep.toLong, key)
  }

  /** Politeness grouping key: hostname, or eTLD+1 when the job opted into
    * site-granular budgets (CrawlConfig.politenessByDomain). Used by BOTH
    * schedule paths and the sequential oracle — one definition. */
  private[engine] def politeKey(cfg: CrawlConfig, host: String): String =
    if (cfg.politenessByDomain) graft.core.Psl.snapshot.registrable(host) else host

  /** Run-constant index behind the hot-path budget probes: for each job
    * that opted into the Crawl-delay quota, politeKey -> the group's max
    * Crawl-delay (most-conservative member, same rule `effectiveBudget`
    * documents). One driver-side pass over the robots map per opted-in job
    * at broadcast-refresh time; `effectiveBudgetIndexed` is then a single
    * map probe per row in BOTH politeness modes. Equivalence with the
    * direct-scan `effectiveBudget` is pinned by PolitenessDomainSpec. */
  private[engine] def crawlDelayIndex(cfgs: Map[String, CrawlConfig],
      robots: Map[String, graft.core.Robots.RobotRules]): Map[String, Map[String, Double]] =
    cfgs.collect { case (j, cfg) if cfg.crawlDelayEpochSeconds > 0 =>
      val m = scala.collection.mutable.HashMap.empty[String, Double]
      robots.foreach { case (h, r) =>
        r.crawlDelay(cfg.userAgent).foreach { d =>
          val k = politeKey(cfg, h)
          if (!m.get(k).exists(_ >= d)) m(k) = d
        }
      }
      j -> m.toMap
    }

  /** `effectiveBudget` with the group scan replaced by a probe of the
    * precomputed [[crawlDelayIndex]] entry for the job (empty map when the
    * job is absent = no robots delays). `key` is the politeKey. */
  private[engine] def effectiveBudgetIndexed(cfg: CrawlConfig,
      delayIdx: Map[String, Double], base: Long, key: String): Long =
    if (cfg.crawlDelayEpochSeconds <= 0) base
    else CrawlConfig.hostBudgetWithDelay(base, cfg.crawlDelayEpochSeconds, delayIdx.get(key))

  /** Public schedule-inspection surface for the politeness budget (C2×C8):
    * `host -> effective per-wave budget` for `cfg` under `robotsBodies`, as
    * a column transform taking the SAME politeKey + [[crawlDelayIndex]]
    * probe the engine's schedule paths take — lets capacity planning and
    * external schedulers ask "what budget would this crawl give host H"
    * without constructing an engine. Index built once driver-side and
    * captured in the UDF closure (one small map per job, so no broadcast to
    * leak per call); per-row cost is one map probe (plus a PSL lookup under
    * politenessByDomain). */
  def politeBudgetColumn(cfg: CrawlConfig,
      robotsBodies: Map[String, String]): Column => Column = {
    val rules = robotsBodies.map { case (h, b) => (h, graft.core.Robots.parse(b)) }
    val idx = crawlDelayIndex(Map(cfg.jobId -> cfg), rules).getOrElse(cfg.jobId, Map.empty)
    val f = org.apache.spark.sql.functions.udf { (host: String) =>
      effectiveBudgetIndexed(cfg, idx, cfg.hostBudgetPerStep.toLong, politeKey(cfg, host))
    }
    (hostCol: Column) => f(hostCol)
  }

  /** Effective per-(job, politeKey) politeness budget: the job's
    * hostBudgetPerStep capped by the robots Crawl-delay quota when the job
    * opted in (CrawlConfig.crawlDelayEpochSeconds > 0; C2×C3). Pure — safe
    * inside task closures. This is the SEMANTIC DEFINITION (direct robots
    * scan), used by the sequential oracle and specs; both engine schedule
    * paths take the equivalent O(1) probe [[effectiveBudgetIndexed]]. */
  private[engine] def effectiveBudget(cfg: CrawlConfig,
      robots: Map[String, graft.core.Robots.RobotRules],
      base: Long, host: String): Long =
    if (cfg.crawlDelayEpochSeconds <= 0) base
    else {
      // `host` is the politeness key. In domain mode that key is the
      // eTLD+1 while robots rules are keyed by actual hostnames, so the
      // group's quota is the MOST CONSERVATIVE member's: max Crawl-delay
      // (= min budget) across the group's hosts — a site's strictest
      // subdomain governs the shared budget, instead of the old silent
      // fall-through to the uncapped base when no robots entry matched
      // the group key verbatim.
      val delay: Option[Double] =
        if (!cfg.politenessByDomain)
          robots.get(host).flatMap(_.crawlDelay(cfg.userAgent))
        else {
          val ds = robots.iterator.collect {
            case (h, r) if politeKey(cfg, h) == host => r.crawlDelay(cfg.userAgent)
          }.flatten.toSeq
          if (ds.isEmpty) None else Some(ds.max)
        }
      CrawlConfig.hostBudgetWithDelay(base, cfg.crawlDelayEpochSeconds, delay)
    }

  /** One daemon thread for the overlapped results write. A single
    * thread (not a pool): at most one superstep runs per engine, and engines
    * in one JVM share it safely — the submit/get pair brackets each use. */
  private[engine] lazy val resultsWritePool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newSingleThreadExecutor(r => {
      val t = new Thread(r, "graft-results-write"); t.setDaemon(true); t
    })

  /** Fast expansion needs fewer than wideMinRows / 8 pending rows, a
    * tighter gate than the small step's: a job's candidates (~ pending x
    * branching) all flow through one task there. BENCH.md's 32-core
    * record: keyed at the small-step gate, a 16k-pending x 16-link
    * generation serialized 256k candidate rows through single tasks and
    * throttled the scaling bench. */
  private val fastExpandDivisor = 8L

  /** A superstep's gear decisions; see [[gears]]. */
  private[engine] final case class Gears(
      smallStep: Boolean,      // one-pass schedule, AQE off
      fastExpand: Boolean,     // the whole next frontier in one narrow pass, no join
      broadcastJoins: Boolean, // wide expansion: broadcast the result keys, not shuffle the pending set
      sidecarProbe: Boolean)   // bloom sidecar probe ahead of the exact anti-join (with buckets)

  /** Every gear decision, from the row counts the engine tracks: `pend`
    * pending rows after the last step, `enqueued` total enqueued, `batch`
    * scheduled rows (None: the small schedule leaves its batch uncounted).
    * The only comparison against `wideMinRows`. */
  private[engine] def gears(wideMinRows: Long, pend: Long, enqueued: Long, batch: Option[Long]): Gears = {
    val small = pend < wideMinRows
    Gears(
      smallStep = small,
      fastExpand = pend < wideMinRows / fastExpandDivisor && enqueued < wideMinRows,
      broadcastJoins = batch.forall(_ <= wideMinRows),
      sidecarProbe = !small && batch.exists(_ >= wideMinRows))
  }

  /** Engine knobs; every default is the production setting.
    *  - `wideMinRows`: the one gear threshold (see [[gears]]). Below it a
    *    step is small: the schedule is one in-memory pass per job (AQE
    *    off); below wideMinRows / 8 the whole next frontier is one narrow
    *    pass (no join, no broadcast; enqueued total below wideMinRows). At
    *    or above: salted windows, the join-based expansion (its result-key
    *    join broadcast up to a wideMinRows-row batch) and, with compacted
    *    buckets, the bloom sidecar probe. The fetch join and the overlapped
    *    results write are the same in every gear. Specs set 0 to drive the
    *    wide gears at test sizes.
    *  - `compactEvery` (0 = never) and `levelFanout`: leveled seen
    *    compaction — fold the tail once buckets + tail dirs reach
    *    compactEvery; merge a level holding levelFanout buckets upward.
    *  - `maxGenerations`: superstep cap of one run()/resume() call.
    *  - `jobTtlMs` and `clockMs`: job expiry (default creation + 3h,
    *    db/schemas/PostgreSQL.ts:79) against an injectable clock.
    *  - `chaosAccumulatorDoubleFire`: test hook — partition 0 double-fires
    *    every accumulator update of the barrier-riding passes, emulating a
    *    re-executed task whose updates were already merged; the footer
    *    reconciliation must absorb it (counted in `accumulatorRecoveries`).
    *  - `capturePlans`: plan-audit hook (PlanAudit / PLANS.md) — record each
    *    superstep stage's `explain("formatted")` (first occurrence per stage
    *    key) into `capturedPlans`. Analysis-only, never forces execution.
    */
  final case class Settings(
      maxGenerations: Int = 1000,
      compactEvery: Int = 8,
      jobTtlMs: Long = 3L * 60 * 60 * 1000,
      clockMs: () => Long = () => System.currentTimeMillis(),
      levelFanout: Int = 4,
      chaosAccumulatorDoubleFire: Boolean = false,
      wideMinRows: Long = 65536L,
      capturePlans: Boolean = false)

  final case class SeqEntry(jobId: String, url: String, urlNorm: String, host: String,
      depth: Int, priority: Long, parentUrl: String, attempt: Int, seq: Long)

  final case class FetchedRow(jobId: String, url: String, urlNorm: String, host: String,
      depth: Int, priority: Long, parentUrl: String, attempt: Int, seq: Long,
      __phtml: Array[Byte])

  final case class ExtractedRow(jobId: String, seq: Long, url: String, urlNorm: String,
      host: String, depth: Int, attempt: Int, status: Int, success: Boolean,
      terminal: Boolean, title: String, markdown: String, text: String,
      htmlClean: String, rawHtml: String, links: Seq[String],
      metadata: Seq[graft.core.Extractor.MetaEntry],
      timestamp: String,        // ISO-8601 extraction time (DataExtractor.ts:223)
      cost: Long,               // A4: credits for this page (1 per success)
      generation: Int)

  final case class CandRow(jobId: String, seq: Long, parentUrl: String, depth: Int,
      idx: Int, childUrl: String)

  // the tags of the fast gear's four inputs (see fastFrontier)
  private final val TagPend = 0
  private final val TagResult = 1
  private final val TagCand = 2
  private final val TagSeen = 3

  /** One input row of [[fastFrontier]]: a pending row, a result key
    * (`attempt` = the retry's), a link candidate (`url` = the child) or a
    * seen key; fields its tag does not use hold null or 0. */
  final case class StepRow(tag: Int, jobId: String, urlNorm: String, url: String,
      host: String, depth: Int, priority: Long, parentUrl: String, attempt: Int,
      seq: Long, idx: Int, terminal: Boolean)

  /** The extract kernel for one fetched row: a missing page is a 404 row,
    * terminal on its last attempt; any other page yields all of the job's
    * formats and out-links from one parse. */
  private def extractPage(cfg: CrawlConfig, r: FetchedRow, ts: String, gen: Int): ExtractedRow = {
    // A4 per-page cost: 1 credit per successful page within limit (the
    // batch is limit-capped by scheduling, so every success is within
    // limit; json-extraction surcharges are an LLM non-goal)
    val page = ExtractedRow(r.jobId, r.seq, r.url, r.urlNorm, r.host, r.depth, r.attempt, 200,
      success = true, terminal = true, "", "", "", "", "", Nil, Nil, ts, 1L, gen)
    if (r.__phtml == null)
      page.copy(status = 404, success = false, terminal = r.attempt + 1 >= cfg.maxAttempts, cost = 0L)
    else {
      val html = new String(r.__phtml, java.nio.charset.StandardCharsets.UTF_8)
      if (cfg.parseSitemaps && graft.sources.Sitemap.isSitemap(html)) {
        // sitemap fan-out: entries (member sitemaps AND page locs) are
        // this page's out-links — index expansion is a BSP round, not
        // recursion inside the kernel. Relative locs resolve against
        // the sitemap's own URL; malformed bodies fan out nothing.
        page.copy(links =
          try graft.sources.Sitemap.parse(html).map(e =>
            if (e.url.contains("://")) e.url else UrlOps.resolve(r.url, e.url))
          catch { case _: IllegalArgumentException => Nil })
      } else {
        val ex = Extractor.extract(r.url, html, cfg.formats,
          honorNofollow = cfg.honorNofollow)
        val row = page.copy(title = ex.title, markdown = ex.markdown.getOrElse(""),
          text = ex.text.getOrElse(""), htmlClean = ex.html.getOrElse(""),
          rawHtml = ex.rawHtml.getOrElse(""), links = ex.links, metadata = ex.metadata)
        // per-page hook (CrawlConfig.pageHook): content fields only —
        // scheduling identity stays engine-owned (see CrawlModel)
        cfg.pageHook match {
          case Some(h) =>
            val out = h(PageResult(row.jobId, row.seq, row.url, row.urlNorm,
              row.host, row.depth, row.attempt, row.status, row.success,
              row.terminal, row.title, row.markdown, row.text, row.htmlClean,
              row.links.length, row.generation))
            row.copy(title = out.title, markdown = out.markdown,
              text = out.text, htmlClean = out.htmlClean)
          case None => row
        }
      }
    }
  }

  /** The link-candidate filter of both expansion gears: depth, enqueue
    * limit and per-page cap, scope, include/exclude, robots and the trap
    * gate; a kept link becomes its depth + 1 frontier entry. One per task:
    * it memoizes each job's compiled path patterns. */
  private def candidateFilter(st: RunState, enqueued: Map[String, Long],
      traps: Set[String]): CandRow => Option[FrontierEntry] = {
    val pats = new scala.collection.mutable.HashMap[String, (Seq[java.util.regex.Pattern], Seq[java.util.regex.Pattern])]()
    c => {
      val cfg = st.configs(c.jobId)
      // per-page enqueue cap (Crawlee limit) and the job's enqueue limit
      val capped = cfg.limit > 0 && (enqueued(c.jobId) >= cfg.limit || c.idx >= cfg.limit)
      if (c.depth + 1 > cfg.maxDepth || capped || !cfg.inScope(c.childUrl)) None
      else {
        val (inc, exc) = pats.getOrElseUpdate(c.jobId,
          (cfg.includePaths.map(UrlOps.compilePattern), cfg.excludePaths.map(UrlOps.compilePattern)))
        val included = cfg.includePaths.isEmpty ||
          UrlOps.matchesAny(c.childUrl, inc, cfg.includePaths)
        // exclude list also excludes the current page URL (Base.ts:348-353)
        val excluded = cfg.excludePaths.nonEmpty &&
          (UrlOps.matchesAny(c.childUrl, exc, cfg.excludePaths) || c.childUrl == c.parentUrl)
        lazy val h = UrlOps.host(c.childUrl)
        lazy val norm = UrlOps.normalize(c.childUrl)
        if (!included || excluded) None
        else if (cfg.respectRobots &&
            !st.robots.get(h).forall(r => Robots.allowedUrl(r, cfg.userAgent, c.childUrl))) None
        // trap gate (opt-in): the family key is derived from the NORMALIZED
        // url on both this side and the refresh side
        else if (cfg.trapMaxUrls > 0 &&
            traps.contains(graft.frontier.Traps.familyKey(c.jobId, norm))) None
        else Some(FrontierEntry(c.jobId, c.childUrl, norm, h, c.depth + 1,
          cfg.priorityOf.map(f => f(norm)).getOrElse(c.seq * 4096L + math.min(c.idx, 4095L)),
          c.parentUrl, 0))
      }
    }
  }

  /** The fast gear's next frontier, in one task over its [[StepRow]]s: a
    * pending row carries, retries (non-terminal result) or leaves; kept,
    * unseen candidates become fresh as the canonical-min per (jobId,
    * urlNorm), each job's first `rooms(job)` in canonical order. */
  private def fastFrontier(it: Iterator[StepRow], keep: CandRow => Option[FrontierEntry],
      rooms: Map[String, Long]): Iterator[FrontierRowF] = {
    val pend = scala.collection.mutable.ArrayBuffer[StepRow]()
    val results = scala.collection.mutable.HashMap[(String, String), StepRow]()
    val seen = scala.collection.mutable.HashSet[(String, String)]()
    val best = scala.collection.mutable.HashMap[(String, String), FrontierEntry]()
    val minOrd = Ordering[(Int, Long, String, String)]
    it.foreach { r =>
      r.tag match {
        case TagPend => pend += r
        case TagResult => results((r.jobId, r.urlNorm)) = r
        case TagSeen => seen += ((r.jobId, r.urlNorm))
        case _ => keep(CandRow(r.jobId, r.seq, r.parentUrl, r.depth, r.idx, r.url)).foreach { e =>
          if (best.get((e.jobId, e.urlNorm)).forall(c => minOrd.gt(
              (c.depth, c.priority, c.parentUrl, c.url), (e.depth, e.priority, e.parentUrl, e.url))))
            best((e.jobId, e.urlNorm)) = e
        }
      }
    }
    val carried = pend.iterator.flatMap { p =>
      val res = results.get((p.jobId, p.urlNorm))
      if (res.exists(_.terminal)) None
      else Some(FrontierRowF(p.jobId, p.url, p.urlNorm, p.host, p.depth, p.priority,
        p.parentUrl, res.fold(p.attempt)(_.attempt), __fresh = false))
    }
    val fresh = best.valuesIterator.filterNot(e => seen((e.jobId, e.urlNorm))).toArray
      .groupBy(_.jobId).iterator.flatMap { case (j, es) =>
        val room = math.min(rooms.getOrElse(j, Long.MaxValue), Int.MaxValue.toLong).toInt
        es.sortBy(e => (e.depth, e.priority, e.urlNorm)).iterator.take(room)
          .map(FrontierRowF.of(_, fresh = true))
      }
    carried ++ fresh
  }

  /** A frontier row as persisted: FrontierEntry + the `__fresh` flag
    * (true = first enqueue of this (jobId, urlNorm) — the seen-set marker). */
  final case class FrontierRowF(jobId: String, url: String, urlNorm: String, host: String,
      depth: Int, priority: Long, parentUrl: String, attempt: Int, __fresh: Boolean)
  object FrontierRowF {
    def of(e: FrontierEntry, fresh: Boolean): FrontierRowF =
      FrontierRowF(e.jobId, e.url, e.urlNorm, e.host, e.depth, e.priority, e.parentUrl, e.attempt, fresh)
  }

  /** The engine's row encoders, derived once: each `.as`/`.map` used to
    * run ScalaReflection for its own. */
  implicit lazy val frontierEntryEnc: Encoder[FrontierEntry] = ExpressionEncoder[FrontierEntry]()
  implicit lazy val seqEntryEnc: Encoder[SeqEntry] = ExpressionEncoder[SeqEntry]()
  implicit lazy val fetchedRowEnc: Encoder[FetchedRow] = ExpressionEncoder[FetchedRow]()
  implicit lazy val extractedRowEnc: Encoder[ExtractedRow] = ExpressionEncoder[ExtractedRow]()
  implicit lazy val candRowEnc: Encoder[CandRow] = ExpressionEncoder[CandRow]()
  implicit lazy val frontierRowFEnc: Encoder[FrontierRowF] = ExpressionEncoder[FrontierRowF]()
  implicit lazy val stepRowEnc: Encoder[StepRow] = ExpressionEncoder[StepRow]()

  /** A scheduled batch and, from the wide schedule only, its count. The
    * rows are persisted (small schedule) or a narrow pass over the persisted
    * sort (wide schedule); [[release]] frees either. */
  private final case class Batch(rows: org.apache.spark.rdd.RDD[SeqEntry], count: Option[Long]) {
    def release(): Unit = (rows +: rows.dependencies.map(_.rdd))
      .filter(_.getStorageLevel != StorageLevel.NONE).foreach(_.unpersist(false))
  }

  /** One job's row counts in one superstep: result rows fetched, done,
    * succeeded, failed and their cost; frontier rows pending and fresh. The
    * accumulators and the footer recount both build it. */
  private final case class JobCounts(fetched: Long = 0L, done: Long = 0L, succeeded: Long = 0L,
      failed: Long = 0L, cost: Long = 0L, pending: Long = 0L, fresh: Long = 0L) {
    def +(o: JobCounts): JobCounts = JobCounts(fetched + o.fetched, done + o.done,
      succeeded + o.succeeded, failed + o.failed, cost + o.cost, pending + o.pending, fresh + o.fresh)
  }
  private object JobCounts {
    private def one(b: Boolean): Long = if (b) 1L else 0L
    def ofResult(r: ExtractedRow): (String, JobCounts) =
      r.jobId -> JobCounts(1L, one(r.terminal), one(r.success), one(r.terminal && !r.success), r.cost)
    def ofFrontier(r: FrontierRowF): (String, JobCounts) =
      r.jobId -> JobCounts(pending = 1L, fresh = one(r.__fresh))
  }

  /** Per-job [[JobCounts]] accumulator, folded into a write barrier: each
    * counted stage must be consumed by exactly one action. */
  private final class CountsAcc
      extends org.apache.spark.util.AccumulatorV2[(String, JobCounts), Map[String, JobCounts]] {
    private val m = scala.collection.mutable.HashMap[String, JobCounts]()
    override def isZero: Boolean = m.isEmpty
    override def copy(): CountsAcc = {
      val c = new CountsAcc
      c.m ++= m
      c
    }
    override def reset(): Unit = m.clear()
    override def add(kv: (String, JobCounts)): Unit =
      m(kv._1) = m.get(kv._1).fold(kv._2)(_ + kv._2)
    override def merge(o: org.apache.spark.util.AccumulatorV2[(String, JobCounts), Map[String, JobCounts]]): Unit =
      o.asInstanceOf[CountsAcc].m.foreach(add)
    override def value: Map[String, JobCounts] = m.toMap
  }

  /** `rows`, each counted into `acc` by `of` as it passes. Under the chaos
    * hook partition 0 counts twice — exactly what a re-executed-but-already-
    * merged task does to a transformation accumulator; the commit's footer
    * reconciliation must absorb it. */
  private def counted[T](acc: CountsAcc, chaos: Boolean, of: T => (String, JobCounts))(
      rows: Iterator[T]): Iterator[T] = {
    val twice = chaos && org.apache.spark.TaskContext.getPartitionId() == 0
    rows.map { r => val kv = of(r); acc.add(kv); if (twice) acc.add(kv); r }
  }
}
