package graft.frontier

import org.apache.spark.sql.SparkSession
import org.apache.spark.util.sketch.BloomFilter
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}

/**
 * Per-bucket bloom SIDECARS: the engine's only URL-seen pre-filter (SURVEY
 * §2.4 A8; see [[SeenBloom]] for the seen-set design). At the reference's
 * design scale (10^10 frontier keys, ~12 GB of filter at 1% fpp) no single
 * node can hold or broadcast the seen filter; instead each seen-compaction
 * bucket carries its own filter, sharded by `hash % shards`, as files under
 * `bucket=<range>/_blooms/shard=<s>.<nonce>.blm` (the `_` prefix keeps
 * parquet readers from listing them, like `_SUCCESS`).
 *
 *  - BUILD runs executor-side during compaction: the bucket's committed
 *    parquet is shuffled by shard id (identity `HashPartitioner`, one task
 *    per shard) and each task streams its keys into one filter and writes
 *    the file — the driver never sees filter bytes, only the row count used
 *    for sizing (parquet footers).
 *  - PROBE runs executor-side during candidate dedup: candidates are already
 *    shuffled by a shard-of-key expression (the same shuffle the in-batch
 *    dedup needs), so each task touches a handful of shards and lazily loads
 *    just those shard files per bucket, cached per-executor across
 *    supersteps. The cache is keyed by file path, and the path embeds the
 *    crawl's per-workdir `nonce` — bucket dirs are immutable within one
 *    workdir lifecycle, and the nonce changes when a workdir is deleted and
 *    recreated, so a long-lived JVM (local mode, reused executors) can never
 *    be served a previous crawl's filter for a recreated bucket at the same
 *    absolute path (a stale filter could yield FALSE negatives, corrupting
 *    dedup).
 *  - A missing or unreadable sidecar file (deleted, truncated, or written
 *    by no compaction yet) degrades to "maybe seen": the exact anti-join
 *    still runs for positives, so filters are a pure pre-filter. False
 *    negatives are impossible by construction, false positives only cost
 *    join width.
 *
 * All filesystem access goes through the SESSION Hadoop configuration
 * (shipped to tasks via a broadcast [[graft.core.SerializableHadoopConf]]):
 * a bare `new Configuration()` would drop `spark.hadoop.*` overlays — fs
 * credentials, a non-default `fs.defaultFS` — and resolve the wrong
 * filesystem on exactly the multi-node deployments the sidecars exist for.
 * The caller owns the broadcast (one per engine run, not one per bucket
 * build — the leveled compactor builds dozens of buckets per long crawl).
 *
 * Keys are the same 64-bit [[SeenBloom.hash64]] digests used everywhere else
 * (`putLong`/`mightContainLong` — never string inserts).
 */
object SidecarBlooms {

  /** Shard of a 64-bit key hash. The engine's shard-keyed candidate
    * shuffle computes the same fold in SQL, so a task's rows map to exactly
    * the shard filters it loads. */
  def shardOf(h: Long, shards: Int): Int = {
    val x = (h ^ (h >>> 32)).toInt
    ((x % shards) + shards) % shards
  }

  def shardFilePath(bucketDir: String, shard: Int, nonce: String): String =
    s"$bucketDir/_blooms/shard=$shard.$nonce.blm"

  /**
   * Build the sidecar filters for a just-committed bucket directory.
   * Sizing comes from the committed row count (parquet footers — no job):
   * `expected = max(1024, 1.3 * rows / shards)` keeps the realized fpp at or
   * below the advertised one under mild shard imbalance. `fsOptions` are
   * Hadoop settings laid over the session conf for the file writes only
   * (the engine passes [[graft.engine.Checkpoint.writeOptions]]).
   */
  def buildForBucket(spark: SparkSession, bucketDir: String, shards: Int,
      fpp: Double, committedRows: Long, nonce: String,
      confB: org.apache.spark.broadcast.Broadcast[graft.core.SerializableHadoopConf],
      fsOptions: Map[String, String] = Map.empty): Unit = {
    import spark.implicits._
    val expected = math.max(1024L, committedRows * 13L / 10L / shards)
    val rdd = spark.read.parquet(bucketDir)
      .select(org.apache.spark.sql.functions.concat_ws("-", $"jobId", $"urlNorm"))
      .as[String].rdd
      .map { k => val h = SeenBloom.hash64(k); (shardOf(h, shards), h) }
      .partitionBy(new org.apache.spark.HashPartitioner(shards)) // identity for 0..shards-1
    rdd.foreachPartition { it =>
      val shard = org.apache.spark.TaskContext.getPartitionId()
      val bf = BloomFilter.create(expected, fpp)
      it.foreach { case (_, h) => bf.putLong(h) }
      // task-side durable write under the session Hadoop conf (executors
      // resolve the same DFS the bucket parquet just landed on, with the
      // same credentials); tmp-file + rename so a killed task never leaves
      // a torn filter
      val conf = new Configuration(confB.value.value)
      fsOptions.foreach { case (k, v) => conf.set(k, v) }
      val path = new HPath(shardFilePath(bucketDir, shard, nonce))
      val fs = path.getFileSystem(conf)
      val tmp = new HPath(path.getParent, s".${path.getName}.${java.util.UUID.randomUUID}.tmp")
      val out = fs.create(tmp, true)
      try bf.writeTo(out) finally out.close()
      if (!fs.rename(tmp, path)) { // lost a re-execution race: another attempt won
        fs.delete(tmp, false): Unit
      }
    }
  }

  // ------------------------------------------------------- executor cache
  // Keyed by sidecar file path, which embeds the crawl nonce (see class
  // doc) — so entries for a deleted workdir can never be served to a new
  // crawl that reuses the path. LRU-bounded so long-lived executors shed
  // filters of pruned (merged-away) buckets and of finished crawls.
  private val MaxCached = 256
  private val cache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Option[BloomFilter]](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Option[BloomFilter]]): Boolean =
        size() > MaxCached
    })

  /** Load (cached) the filter for `bucketDir`'s shard; None when the sidecar
    * file is absent (callers must then treat candidates as maybe-seen). */
  def load(bucketDir: String, shard: Int, nonce: String, conf: Configuration): Option[BloomFilter] = {
    val key = shardFilePath(bucketDir, shard, nonce)
    val cached = cache.get(key)
    if (cached != null) return cached
    val loaded =
      try {
        val path = new HPath(key)
        val fs = path.getFileSystem(conf)
        if (!fs.exists(path)) None
        else {
          val in = fs.open(path)
          try Some(BloomFilter.readFrom(in)) finally in.close()
        }
      } catch { case _: Exception => None }
    cache.put(key, loaded)
    loaded
  }

  /** Probe every bucket's shard filter for key hash `h`: true = might be
    * seen (or a filter was missing), false = definitely not in any bucket. */
  def mightContain(bucketDirs: Seq[String], h: Long, shards: Int, nonce: String,
      conf: Configuration): Boolean = {
    val s = shardOf(h, shards)
    bucketDirs.exists(b => load(b, s, nonce, conf).forall(_.mightContainLong(h)))
  }

  /** A serializable, task-memoized probe with [[mightContain]]'s exact
    * contract (true = might be seen OR a sidecar file is missing; false only
    * when every bucket's filter definitely excludes `h`). Each deserialized
    * task instance resolves a (bucket, shard) filter at most once through a
    * task-local plain HashMap instead of the global synchronized LRU, which
    * would otherwise be locked per ROW per bucket (measured 2.4x slower on
    * the 100k-page corpus at 8 cores). `conf` must be a broadcast-backed
    * thunk so no bare Hadoop Configuration rides the closure. */
  def taskLocalProbe(bucketDirs: Array[String], shards: Int, nonce: String,
      conf: () => Configuration): Long => Boolean =
    new (Long => Boolean) with Serializable {
      @transient private lazy val local =
        new java.util.HashMap[Long, Option[BloomFilter]]()
      override def apply(h: Long): Boolean = {
        val s = shardOf(h, shards)
        var i = 0
        while (i < bucketDirs.length) {
          val key = (i.toLong << 32) | s.toLong
          var f = local.get(key)
          if (f == null) {
            f = load(bucketDirs(i), s, nonce, conf())
            local.put(key, f)
          }
          if (f.forall(_.mightContainLong(h))) return true
          i += 1
        }
        false
      }
    }
}
