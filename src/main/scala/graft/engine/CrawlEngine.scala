package graft.engine

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.expressions.Window
import org.apache.spark.storage.StorageLevel
import graft.core.{Extractor, Robots, UrlOps}

/**
 * The Spark-native crawl engine: AnyCrawl's worker/queue/Redis orchestration
 * (Worker.ts, managers/Queue.ts, managers/Progress.ts) re-expressed as BSP
 * supersteps over a frontier TABLE (SURVEY §3.2). One superstep runs five
 * stage methods in order:
 *
 *   schedule:     politeness top-k per host (two-phase, skew-proof)     C2/W1
 *                 + per-job remaining-limit top-k, seq numbers          P6
 *   fetchExtract: on RDDs: the batch shuffled onto the url partitioner of
 *                 the cached corpus and zipped with it (a hash map per
 *                 batch slice, the corpus partition streamed; a miss is
 *                 a 404 row), then one mapPartitions HTML kernel (all
 *                 formats, 1 parse)                                 J1/F5-F8
 *   expand:       link candidates -> scope/path/depth/robots filters ->
 *                 dedup: fast gear, pending rows, result keys,
 *                 candidates and seen keys as RDD streams into one
 *                 coalesce(1) task, no join, no shuffle; wide gear,
 *                 in-batch reduce + one exact anti-join against the
 *                 seen set                                     P2-P5/J2/A8
 *   writeBarrier: results + next frontier (`__fresh` rows = the seen set)
 *                 in ONE parquet write partitioned by `__kind`: a small
 *                 generation is one Spark job, and that write is its
 *                 only Catalyst plan                                    S5
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
 * counters; the seen set is append-only parquet, deduplicated exactly by a
 * left-anti join (no node holds a filter or the whole set); all top-k
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
  import CrawlEngine.{candRowEnc, extractedRowEnc, frontierEntryEnc, frontierRowFEnc}
  private val ckpt = new Checkpoint(workDir)

  /** First-occurrence plans per superstep stage (RDD stages: lineage), when
    * `Settings.capturePlans` is on (PlanAudit / PLANS.md evidence for the
    * iterative engine — trace()'s own plan is just the committed-parquet
    * read, so the per-stage plans are captured where they are built). */
  val capturedPlans: scala.collection.mutable.LinkedHashMap[String, String] =
    scala.collection.mutable.LinkedHashMap.empty
  /** `plan`: a Dataset's formatted plan ([[formatted]]) or an RDD's
    * [[CrawlEngine.lineage]]. */
  private def capturePlan(key: String, plan: => String): Unit =
    if (settings.capturePlans && !capturedPlans.contains(key)) capturedPlans(key) = plan
  private def formatted(qe: QueryExecution): String = qe.explainString(FormattedMode)

  /** The fetch side of J1: the corpus as (url, html) pairs, hash-partitioned
    * by url ONCE into `spark.sql.shuffle.partitions` partitions and kept
    * (memory-and-disk), as a bucketed pages table would be; [[prepare]]
    * fills it. Re-shuffling the corpus each superstep instead dominated
    * crawl wall-time 4:1 over the extraction kernel (a 2 GB shuffle). */
  private lazy val corpusPartitioner =
    new HashPartitioner(spark.conf.get("spark.sql.shuffle.partitions", "32").toInt)
  private lazy val pagesPrepared: RDD[(String, Array[Byte])] =
    // `url`/`html`: the corpus columns Graft.scrape, PointRead and enrich read
    pages.select(col("url"), col("html")).rdd.map(r => (r.getString(0), r.getAs[Array[Byte]](1)))
      .partitionBy(corpusPartitioner).setName("pages").persist(StorageLevel.MEMORY_AND_DISK)

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
    // run-constant), so the schedule paths probe it per row instead of
    // scanning the robots map
    runB = spark.sparkContext.broadcast(CrawlEngine.RunState(configs, robotsRules,
      CrawlEngine.crawlDelayIndex(configs, robotsRules)))
  }

  /** Frontier parquet schema, pinned on every read: saves the per-generation
    * footer-sniffing schema inference (a driver-side file read per source). */
  private val frontierSchema = frontierRowFEnc.schema

  /** One `__kind`'s dirs `paths` read with its pinned schema, so the other
    * kind's null columns never show; a kind with no rows wrote no dir. */
  private def readKind(paths: Seq[String], schema: StructType): DataFrame = {
    val there = paths.filter(p => java.nio.file.Files.exists(java.nio.file.Paths.get(p)))
    if (there.isEmpty) spark.createDataFrame(java.util.List.of[Row](), schema)
    else spark.read.schema(schema).parquet(there: _*)
  }

  /** The seen table's two on-disk shapes, read only here: the flagged
    * frontier tail (`__fresh` rows = first enqueues) and a compacted
    * two-column bucket. Both read as (jobId, urlNorm). */
  private def seenTail(paths: Seq[String]): DataFrame =
    readKind(paths, frontierSchema).where($"__fresh").select($"jobId", $"urlNorm")
  private def seenBucket(b: Checkpoint.SeenBucket): DataFrame =
    spark.read.parquet(ckpt.seenBucketPath(b)).select($"jobId", $"urlNorm")
  /** The exact seen keys of frontier generations 0..gen, buckets ∪ tail. */
  private def seenKeys(gen: Int): Option[DataFrame] = {
    val (buckets, tailPaths) = ckpt.seenSources(gen)
    (buckets.map(seenBucket) ++ Option.when(tailPaths.nonEmpty)(seenTail(tailPaths))).reduceOption(_ unionByName _)
  }

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

  /** Start a fresh crawl for `jobs` over the pages corpus. */
  def run(jobs: Seq[CrawlConfig]): Report = {
    val t0 = System.currentTimeMillis()
    configs = jobs.map(c => c.jobId -> c).toMap
    refreshRunState()
    // run() means a FRESH crawl: drop every generation, bucket (with its
    // sidecars) and manifest a previous crawl left under this
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
    ckpt.requireCurrentLayout()
    val m = ckpt.lastCommitted.getOrElse(
      throw new IllegalStateException(s"no committed generation under $workDir"))
    progress = m.progress.map(p => p.jobId -> p).toMap
    seqOffsets = m.seqOffsets
    generation = m.generation + 1
    ckpt.truncateAfter(m.generation) // drop partial output of a crashed gen
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

  /** Barriers whose write-riding accumulators disagreed with the committed
    * parquet footers (a re-executed task) and were recounted from the
    * committed files — test-visible evidence of the recovery path. */
  var accumulatorRecoveries: Int = 0

  /** Write one seen bucket (2-column parquet) and its trap-count sidecar
    * when any job runs the trap gate, then validity-mark it. Marker last =>
    * crash-invisible. */
  private def writeSeenBucket(b: Checkpoint.SeenBucket, src: DataFrame): Unit = {
    val nPart = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    src.repartition(nPart, $"jobId", $"urlNorm")
      .write.options(ckpt.writeOptions).mode("overwrite").parquet(ckpt.seenBucketPath(b))
    val rows = ckpt.committedRowCount(ckpt.seenBucketPath(b), spark.sessionState.newHadoopConf())
    compactionLog += ((b, rows))
    // the trap-count sidecar (the q63 gate at bucket scale, see
    // Checkpoint.trapCountsPath), before the marker: a valid bucket written
    // while the gate is on always carries counts
    if (configs.values.exists(_.trapMaxUrls > 0))
      trapCounts(seenBucket(b)).coalesce(1)
        .write.options(ckpt.writeOptions).mode("overwrite").parquet(ckpt.trapCountsPath(b))
    ckpt.markBucket(b)
  }

  /** LEVELED seen compaction (LSM-style; VERDICT r2 #3, see [[Checkpoint]]'s
    * seen storage): once buckets + tail generations reach `compactEvery`,
    * the tail folds into a level-0 bucket — cost O(tail), never O(total
    * seen) — and any level holding >= `levelFanout` buckets merges into one
    * bucket a level up. Runs AFTER gen's commit, so inputs are durable. */
  private def maybeCompactSeen(gen: Int): Unit = {
    if (settings.compactEvery <= 0) return
    val maxGen = gen + 1 // frontier gen+1 was committed by this superstep
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
      // NOTE: each generation re-roots from parquet deliberately: carrying
      // a persisted Dataset across supersteps embeds the previous plan into
      // the next one, so plan trees grow exponentially with generations.
      refreshTrapSet(gen) // no-op unless a job opted in
      val frontier = readKind(Seq(ckpt.frontierPath(gen)), frontierSchema)
        .select("jobId", "url", "urlNorm", "host", "depth", "priority", "parentUrl", "attempt")
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
    * Small steps run with AQE off, restored after: every exchange AQE
    * materializes is a separate job round-trip, and a small step's (a wide
    * expansion's) carry a few hundred rows under final plans, so re-planning
    * improves nothing and cost ~0.25 s/generation. Wide steps — the 100 TB
    * shape — keep AQE for skew-join splitting and partition coalescing.
    */
  private def superstep(gen: Int, frontier: DataFrame): Boolean = {
    val t0 = System.currentTimeMillis()
    val pre = gearsAt(None)
    withAqeOff(pre.smallStep) {
      val active = activeJobs
      val pend = frontier.filter($"jobId".isin(active.map(_.jobId): _*))
      // the small gears' one conversion of the pending rows to an RDD leaf
      lazy val pendRows = pend.queryExecution.toRdd.map(CrawlEngine.frontierEntryDe)
      val batch = schedule(pend, pendRows, active, pre.smallStep)
      if (batch.count.contains(0L)) { batch.release(); false }
      else {
        val gear = batch.count.fold(pre)(n => gearsAt(Some(n)))
        val resultCounts = new CrawlEngine.CountsAcc
        val frontierCounts = new CrawlEngine.CountsAcc
        spark.sparkContext.register(resultCounts, s"crawl-results-gen$gen")
        spark.sparkContext.register(frontierCounts, s"crawl-frontier-gen$gen")
        val extracted = fetchExtract(gen, batch, resultCounts)
        writeBarrier(gen, batch, extracted)(expand(gen, pend, pendRows, active, extracted, gear, frontierCounts))
        commit(gen, t0, resultCounts.value, frontierCounts.value)
      }
    }
  }

  /** Schedule: politeness keeps the top hostBudget per (job, host), the
    * limit the top remaining per job (P6/W1), both in canonical order, then
    * each job's rows take consecutive seq numbers from its offset.
    *
    * SMALL steps (pending < wideMinRows) run the whole schedule —
    * canonical sort, per-host budget walk, per-job limit prefix, seq
    * numbering — as one in-memory RDD pass over the pending rows in one
    * task (the gate bounds them, so the sort is bounded): no exchange, no
    * window. The limit cut is a prefix (in canonical order) of the
    * politeness survivors, which is exactly what the ordered walk emits.
    * The batch stays uncounted, so no job runs before the generation
    * write; in both gears the manifest's batch count and lineage come from
    * the committed results files.
    *
    * LARGE steps keep the two-phase salted windows (hot-host skew safety)
    * + distributed sort + manual two-pass indexing: deterministic under
    * any parallelism, no single-partition window, no driver data.
    */
  private def schedule(pend: DataFrame, pendRows: => RDD[FrontierEntry],
      active: Seq[CrawlConfig], small: Boolean): CrawlEngine.Batch = {
    val remaining = active.map { c =>
      val p = progress(c.jobId)
      c.jobId -> (if (c.limit > 0) math.max(0L, c.limit.toLong - p.done) else Long.MaxValue)
    }.toMap
    val offsets = seqOffsets
    val runBv = runB
    if (small)
      CrawlEngine.Batch(CrawlEngine.Rdds.schedule(pendRows, runBv, remaining, offsets)
        .persist(StorageLevel.MEMORY_AND_DISK), None)
    else {
      val needPoliteness = active.exists(c => c.hostBudgetPerStep != Int.MaxValue ||
        (c.crawlDelayEpochSeconds > 0 && robotsRules.nonEmpty))
      val needLimit = remaining.values.exists(_ != Long.MaxValue)
      // Wave-major scheduling (politenessWaves): politeness keeps the top
      // waves*budget per (job, host) with wave = canonical-rank/budget; the
      // limit cut and the seq sort then order by (wave, canonical). At
      // waves=1, __wave is constant 0 and this is the round-2 plan exactly.
      val polite =
        if (!needPoliteness) pend.withColumn("__wave", lit(0L))
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
          saltedTopK(pend.withColumn("__pk", keyCol),
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
      capturePlan("schedule-wide", formatted(sortedDf.queryExecution))
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

  /** Fetch and extract, on RDDs. The batch is shuffled onto the cached
    * corpus's partitioner (the only shuffle: the corpus never moves) and
    * zipped with it ([[CrawlEngine.fetchSlice]]): a left-outer equi-join's
    * rows, in every gear, with no Catalyst plan. A1-A3 accounting rides the
    * extract pass into `counts`: the generation write is its one action, so
    * each task's updates merge once. Persisted: the write materializes it,
    * and the expansion reads the cache, links included. */
  private def fetchExtract(gen: Int, batch: CrawlEngine.Batch,
      counts: CrawlEngine.CountsAcc): RDD[CrawlEngine.ExtractedRow] = {
    val fetched = CrawlEngine.Rdds.fetch(batch.rows, pagesPrepared, corpusPartitioner)
    capturePlan("fetch-join", CrawlEngine.lineage(fetched))
    CrawlEngine.Rdds.extract(fetched, runB, counts, settings.chaosAccumulatorDoubleFire, gen)
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** Expand: the next frontier, (pending - batch) ∪ retries ∪ fresh, each
    * row counted into `counts`; the generation write is its one action, so
    * the updates merge exactly once. */
  private def expand(gen: Int, pend: DataFrame, pendRows: => RDD[FrontierEntry], active: Seq[CrawlConfig],
      extracted: RDD[CrawlEngine.ExtractedRow], gear: CrawlEngine.Gears,
      counts: CrawlEngine.CountsAcc): Dataset[CrawlEngine.FrontierRowF] = {
    val runBv = runB
    val chaos = settings.chaosAccumulatorDoubleFire
    val enqueued = progress.map { case (j, p) => j -> p.enqueued }
    // crossed trap families (empty unless a job opted in) — gate candidates
    // BEFORE dedup/seen/cap so a trapped family costs no downstream work
    val traps = trapCrossed

    val seenDfOpt = seenKeys(gen) // the exact seen set (J2/A8)
    // enqueue-cap rooms (Base.ts:312-325 / enqueueLinks limit): never let a
    // job's total enqueued exceed its limit; canonical-first wins
    val capMap = active.map { c =>
      val room = if (c.limit > 0) math.max(0L, c.limit.toLong - progress(c.jobId).enqueued) else Long.MaxValue
      c.jobId -> room
    }.toMap
    val capNeeded = active.exists(c => c.limit > 0)

    if (gear.fastExpand) {
      // FAST gear: the whole next frontier is ONE coalesce(1) task over
      // four RDD streams (see CrawlEngine.fastFrontier), no join or shuffle:
      // the gate bounds every input (pending < wideMinRows / 8, seen =
      // enqueued < wideMinRows).
      val fused = CrawlEngine.Rdds.frontier(pendRows, extracted, seenDfOpt.map(_.queryExecution.toRdd),
        runBv, enqueued, traps, capMap, counts, chaos)
      capturePlan("expand-fast", CrawlEngine.lineage(fused))
      spark.createDataset(fused)
    } else {
      // raw link candidates: one row per (result page, out-link index)
      val res = spark.createDataset(extracted).toDF()
      val links = res.filter($"success" && $"terminal")
        .select($"jobId", $"seq", $"url".as("parentUrl"), $"depth",
          posexplode($"links").as(Seq("idx", "childUrl")))
      val candRaw = links.as[CrawlEngine.CandRow].mapPartitions(it =>
        it.flatMap(CrawlEngine.candidateFilter(runBv.value, enqueued, traps)))
      // in-batch dedup: canonical-min entry per (jobId, urlNorm) (U1).
      // One hash shuffle + a partition-local sorted first-per-key scan.
      val cand = candRaw.repartition($"jobId", $"urlNorm")
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
      // seen-set dedup (J2): one exact anti-join against buckets ∪ tail
      var fresh = seenDfOpt.fold(cand)(seenDf =>
        cand.join(seenDf, Seq("jobId", "urlNorm"), "left_anti").as[FrontierEntry])
      if (capNeeded)
        fresh = saltedTopK(fresh.toDF(), Seq($"jobId"), CrawlEngine.ordCols,
          CrawlEngine.jobLookup(capMap)($"jobId")).drop("__r2").as[FrontierEntry]
      capturePlan("expand-wide", formatted(fresh.queryExecution))

      // Deferrals and retries: ONE left-outer join of the pending set
      // against the batch's result keys; unmatched rows defer, matched
      // non-terminal rows retry with attempt+1, matched terminal rows
      // leave. Build side = the batch's keys, never the pending set: up
      // to wideMinRows keys broadcast, so the (wide) pending set is not
      // shuffled at all; a larger batch takes the pinned SHJ.
      val resKeys = res.select($"jobId".as("__rj"), $"urlNorm".as("__ru"),
        $"terminal".as("__rterm"), ($"attempt" + 1).as("__rnext"))
      val resKeysHinted = resKeys.hint(if (gear.broadcastJoins) "broadcast" else "shuffle_hash")
      val carried = pend
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

  /** The write barrier: ONE parquet write per generation, the extracted
    * rows and `next`, the next frontier, unioned by name under a `__kind`
    * column it is partitioned by (see [[Checkpoint]]). A small generation
    * is one Spark job: the batch shuffle, then one stage of the result
    * tasks and the frontier task, which reads the `extracted` cache; the
    * block lock computes each cached partition (and its accumulator
    * updates) once, the footer recount is the safety net. The step's caches
    * are released on every path, after that job has ended. */
  private def writeBarrier(gen: Int, batch: CrawlEngine.Batch, extracted: RDD[CrawlEngine.ExtractedRow])(
      next: => Dataset[CrawlEngine.FrontierRowF]): Unit =
    try {
      val rows = spark.createDataset(extracted).withColumn("__kind", lit("results"))
        .unionByName(next.withColumn("__kind", lit("frontier")), allowMissingColumns = true)
      capturingWrite(gen) {
        rows.write.options(ckpt.writeOptions).partitionBy("__kind").mode("overwrite").parquet(ckpt.stepPath(gen))
      }
    } finally { batch.release(); extracted.unpersist(false) }

  /** `write`, its executed plan recorded as "write" under `capturePlans`:
    * the plan exists only inside the command, so a listener, called after
    * the command returns, takes it. */
  private def capturingWrite(gen: Int)(write: => Unit): Unit =
    if (!settings.capturePlans || capturedPlans.contains("write")) write
    else {
      val got = new java.util.concurrent.LinkedBlockingQueue[String]()
      val l = new org.apache.spark.sql.util.QueryExecutionListener {
        def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
          Some(formatted(qe)).filter(_.contains(ckpt.stepPath(gen))).foreach(got.offer)
        def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(l)
      try { write; Option(got.poll(10, java.util.concurrent.TimeUnit.SECONDS)).foreach(capturedPlans("write") = _) }
      finally spark.listenerManager.unregister(l)
    }

  /** Commit (A1-A3 accounting): reconcile the two kinds' counts with
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
        readKind(Seq(ckpt.resultsPath(gen)), extractedRowEnc.schema),
        count(lit(1)), sum(when($"terminal", 1L).otherwise(0L)),
        sum(when($"success", 1L).otherwise(0L)),
        sum(when($"terminal" && !$"success", 1L).otherwise(0L)), sum($"cost"))(r =>
      CrawlEngine.JobCounts(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    val next = recountIfInflated(frontierAcc, _.pending,
        ckpt.committedRowCount(ckpt.frontierPath(gen + 1), hconf),
        readKind(Seq(ckpt.frontierPath(gen + 1)), frontierSchema),
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

  /** Committed result rows of generations 0..throughGen (no columns if none). */
  private def resultRows(throughGen: Int): DataFrame = {
    ckpt.requireCurrentLayout()
    val paths = ckpt.resultPathsThrough(math.min(throughGen, ckpt.lastCommitted.map(_.generation).getOrElse(-1)))
    if (paths.isEmpty) spark.emptyDataFrame else readKind(paths, extractedRowEnc.schema)
  }

  /** Full canonical trace: (jobId, seq, url, depth, status) ordered. */
  def trace(throughGen: Int = Int.MaxValue): DataFrame = {
    val rows = resultRows(throughGen)
    if (rows.columns.isEmpty) rows
    else rows.select("jobId", "seq", "url", "urlNorm", "depth", "attempt", "status", "success", "terminal",
      "generation").orderBy("jobId", "seq")
  }

  def finalProgress: Map[String, JobProgress] = progress

  /** Full result rows (all formats + metadata/timestamp/cost), unprojected —
    * the data a GET /v1/crawl/:jobId results page serves. */
  def results(): DataFrame = resultRows(Int.MaxValue)

  /** The final URL-seen set (jobId, urlNorm). */
  def seenSet(): DataFrame = {
    ckpt.requireCurrentLayout()
    seenKeys(ckpt.lastCommitted.map(_.generation).getOrElse(-1) + 1).map(_.distinct()).getOrElse(spark.emptyDataFrame)
  }
}

object CrawlEngine {
  // salt buckets of the two-phase top-k windows: the pre-rank phase splits
  // a hot (job, host) over this many partitions, so the exact phase ranks
  // at most saltBuckets x k rows per key
  private val saltBuckets = 32

  /** The run-constant state the superstep tasks read, in one broadcast:
    * job configs, parsed robots rules and the [[crawlDelayIndex]]. */
  private final case class RunState(
      configs: Map[String, CrawlConfig],
      robots: Map[String, graft.core.Robots.RobotRules],
      delayIdx: Map[String, Map[String, Double]])

  /** Canonical frontier order: (depth, priority, urlNorm), a total order. */
  private val ordCols = Seq(col("depth"), col("priority"), col("urlNorm"))

  /** Per-job numeric lookup in a Column plan: a UDF capturing the map (no
    * broadcast per generation), not element_at(typedLit(map)), which embeds
    * the generation-varying map in the generated code and so recompiles a
    * stage each generation (~100-200 ms); the UDF's source stays identical. */
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
      // eTLD+1 while robots rules are keyed by hostnames, so the group's
      // quota is its MOST CONSERVATIVE member's: max Crawl-delay (= min
      // budget) across the group's hosts.
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
      broadcastJoins: Boolean) // wide expansion: broadcast the result keys, not shuffle the pending set

  /** Every gear decision, from the row counts the engine tracks: `pend`
    * pending rows after the last step, `enqueued` total enqueued, `batch`
    * scheduled rows (None: the small schedule leaves its batch uncounted).
    * The only comparison against `wideMinRows`. */
  private[engine] def gears(wideMinRows: Long, pend: Long, enqueued: Long, batch: Option[Long]): Gears = {
    Gears(
      smallStep = pend < wideMinRows,
      fastExpand = pend < wideMinRows / fastExpandDivisor && enqueued < wideMinRows,
      broadcastJoins = batch.forall(_ <= wideMinRows))
  }

  /** Engine knobs; every default is the production setting.
    *  - `wideMinRows`: the one gear threshold (see [[gears]]). Below it a
    *    step is small: the schedule is one in-memory pass per job (AQE
    *    off); below wideMinRows / 8 the whole next frontier is one narrow
    *    pass (no join, no broadcast; enqueued total below wideMinRows). At
    *    or above: salted windows and the join-based expansion (its
    *    result-key join broadcast up to a wideMinRows-row batch). The fetch
    *    and the one generation write are the same in every gear. Specs set
    *    0 to drive the wide gears at test sizes.
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
    *    stage's formatted plan, or RDD lineage (first occurrence per stage
    *    key), into `capturedPlans`. It runs no job of its own.
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

  /** The small gears' RDD stages, in a small class: Spark's closure cleaner
    * parses the declaring class's bytecode at each RDD transformation, tens
    * of ms of driver time per generation over the engine's large classes. */
  private object Rdds {
    type Runs = org.apache.spark.broadcast.Broadcast[RunState]
    def schedule(pend: RDD[FrontierEntry], runBv: Runs, rooms: Map[String, Long],
        offsets: Map[String, Long]): RDD[SeqEntry] = pend.coalesce(1).mapPartitions { it =>
      val st = runBv.value
      it.toArray.groupBy(_.jobId).iterator.flatMap { case (j, rs) => scheduleJob(st, j, rs, rooms(j), offsets(j)) }
    }
    def fetch(batch: RDD[SeqEntry], corpus: RDD[(String, Array[Byte])], by: HashPartitioner): RDD[(SeqEntry, Array[Byte])] =
      batch.map(e => (e.urlNorm, e)).partitionBy(by).setName("batch").zipPartitions(corpus)(fetchSlice)
    def extract(fetched: RDD[(SeqEntry, Array[Byte])], runBv: Runs, counts: CountsAcc, chaos: Boolean,
        gen: Int): RDD[ExtractedRow] = fetched.mapPartitions { it =>
      val cfgs = runBv.value.configs
      counted(counts, chaos, JobCounts.ofResult)(it.map { case (e, body) =>
        extractPage(cfgs(e.jobId), e, body, java.time.Instant.now().toString, gen) })
    }
    def frontier(pend: RDD[FrontierEntry], extracted: RDD[ExtractedRow],
        seen: Option[RDD[org.apache.spark.sql.catalyst.InternalRow]], runBv: Runs, enqueued: Map[String, Long],
        traps: Set[String], rooms: Map[String, Long], counts: CountsAcc, chaos: Boolean): RDD[FrontierRowF] = {
      val steps = Seq[RDD[Step]](pend.map(PendStep),
        extracted.map(r => ResultStep(r.jobId, r.urlNorm, r.attempt + 1, r.terminal)),
        extracted.filter(r => r.success && r.terminal).flatMap(r => r.links.iterator.zipWithIndex.map {
          case (u, i) => CandStep(CandRow(r.jobId, r.seq, r.url, r.depth, i, u)) })) ++
        seen.map(_.map[Step](k => SeenStep(k.getUTF8String(0).toString, k.getUTF8String(1).toString)))
      pend.sparkContext.union(steps).coalesce(1).mapPartitions(it => counted(counts, chaos, JobCounts.ofFrontier)(
        fastFrontier(it, candidateFilter(runBv.value, enqueued, traps), rooms)))
    }
  }

  /** One input of [[fastFrontier]]: a pending row, a result key (`attempt`
    * = the retry's), a link candidate or a seen key. */
  private sealed trait Step
  private final case class PendStep(e: FrontierEntry) extends Step
  private final case class ResultStep(jobId: String, urlNorm: String, attempt: Int, terminal: Boolean) extends Step
  private final case class CandStep(c: CandRow) extends Step
  private final case class SeenStep(jobId: String, urlNorm: String) extends Step

  /** A frontier row (FrontierEntry's columns, in order) as a FrontierEntry,
    * bound once: mapped over `toRdd`, an RDD leaf without the SQL execution
    * `Dataset.rdd` posts per conversion. */
  private lazy val frontierEntryDe =
    frontierEntryEnc.asInstanceOf[ExpressionEncoder[FrontierEntry]].resolveAndBind().createDeserializer()

  /** `rdd`'s lineage, one line per RDD, each dependency marked `narrow <-`
    * or `shuffle <-`; a persisted input shows its storage level and ends its
    * branch (`toDebugString` shows only the root's level and walks on). */
  private[engine] def lineage(rdd: RDD[_], dep: String = "", indent: String = ""): String = {
    val kept = rdd.getStorageLevel != StorageLevel.NONE
    val self = s"$indent$dep(${rdd.getNumPartitions}) $rdd" +
      (if (kept) s" [${rdd.getStorageLevel.description}]" else "")
    val inputs = if (kept && dep.nonEmpty) Nil else rdd.dependencies.map { d =>
      val kind = if (d.isInstanceOf[org.apache.spark.ShuffleDependency[_, _, _]]) "shuffle" else "narrow"
      lineage(d.rdd, s"$kind <- ", indent + "  ")
    }
    (self +: inputs).mkString("\n")
  }

  /** One fetch partition as a left-outer equi-join's (entry, html) rows:
    * the corpus partition streams through the batch slice's url map, one
    * row per matching entry (a url stored twice yields two, a null url
    * none), then one null-html row per unmatched entry (a miss). An empty
    * slice reads no corpus row. */
  private def fetchSlice(batch: Iterator[(String, SeqEntry)],
      corpus: Iterator[(String, Array[Byte])]): Iterator[(SeqEntry, Array[Byte])] = {
    val slice = batch.toSeq.groupMap(_._1)(_._2)
    if (slice.isEmpty) Iterator.empty
    else {
      val hit = scala.collection.mutable.HashSet[String]()
      corpus.flatMap { case (url, html) =>
        slice.get(url).iterator.flatMap { es => hit += url; es.map((_, html)) }
      } ++ slice.iterator.filterNot(kv => hit(kv._1)).flatMap(_._2.map((_, null)))
    }
  }

  /** The extract kernel for one fetched row: a missing page (null `body`)
    * is a 404 row, terminal on its last attempt; any other page yields all
    * of the job's formats and out-links from one parse. */
  private def extractPage(cfg: CrawlConfig, r: SeqEntry, body: Array[Byte], ts: String, gen: Int): ExtractedRow = {
    // A4 per-page cost: 1 credit per successful page within limit (the
    // batch is limit-capped by scheduling, so every success is within
    // limit; json-extraction surcharges are an LLM non-goal)
    val page = ExtractedRow(r.jobId, r.seq, r.url, r.urlNorm, r.host, r.depth, r.attempt, 200,
      success = true, terminal = true, "", "", "", "", "", Nil, Nil, ts, 1L, gen)
    if (body == null)
      page.copy(status = 404, success = false, terminal = r.attempt + 1 >= cfg.maxAttempts, cost = 0L)
    else {
      val html = new String(body, java.nio.charset.StandardCharsets.UTF_8)
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

  /** The fast gear's next frontier, in one task over its [[Step]]s: a
    * pending row carries, retries (non-terminal result) or leaves; kept,
    * unseen candidates become fresh as the canonical-min per (jobId,
    * urlNorm), each job's first `rooms(job)` in canonical order. */
  private def fastFrontier(it: Iterator[Step], keep: CandRow => Option[FrontierEntry],
      rooms: Map[String, Long]): Iterator[FrontierRowF] = {
    val pend = scala.collection.mutable.ArrayBuffer[FrontierEntry]()
    val results = scala.collection.mutable.HashMap[(String, String), ResultStep]()
    val seen = scala.collection.mutable.HashSet[(String, String)]()
    val best = scala.collection.mutable.HashMap[(String, String), FrontierEntry]()
    val minOrd = Ordering[(Int, Long, String, String)]
    it.foreach {
      case PendStep(p) => pend += p
      case r: ResultStep => results((r.jobId, r.urlNorm)) = r
      case SeenStep(j, n) => seen += ((j, n))
      case CandStep(c) => keep(c).foreach { e =>
        if (best.get((e.jobId, e.urlNorm)).forall(c => minOrd.gt(
            (c.depth, c.priority, c.parentUrl, c.url), (e.depth, e.priority, e.parentUrl, e.url))))
          best((e.jobId, e.urlNorm)) = e
      }
    }
    val carried = pend.iterator.flatMap { p =>
      val res = results.get((p.jobId, p.urlNorm))
      if (res.exists(_.terminal)) None
      else Some(FrontierRowF.of(p.copy(attempt = res.fold(p.attempt)(_.attempt)), fresh = false))
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

  /** The engine's row encoders, derived once (ScalaReflection per use is slow). */
  implicit lazy val frontierEntryEnc: Encoder[FrontierEntry] = ExpressionEncoder[FrontierEntry]()
  implicit lazy val extractedRowEnc: Encoder[ExtractedRow] = ExpressionEncoder[ExtractedRow]()
  implicit lazy val candRowEnc: Encoder[CandRow] = ExpressionEncoder[CandRow]()
  implicit lazy val frontierRowFEnc: Encoder[FrontierRowF] = ExpressionEncoder[FrontierRowF]()

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
