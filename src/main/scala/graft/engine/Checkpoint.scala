package graft.engine

import java.nio.file.{Files, Paths, Path, StandardCopyOption}
import org.json4s._
import org.json4s.jackson.Serialization
import scala.jdk.CollectionConverters._
import scala.collection.parallel.CollectionConverters._

/**
 * Checkpoint / snapshot store for the BSP crawl loop (SURVEY §4.2).
 *
 * Layout under `workDir` (filesystem-agnostic pattern; an Iceberg snapshot
 * with summary properties is the drop-in production backend — no Iceberg
 * jars ship in this sandbox, so we mimic its commit protocol):
 *
 *   steps/gen=N/      parquet  what generation N wrote, in ONE write
 *                              partitioned by `__kind`; gen=-1 is run()'s seed
 *     __kind=results/          fetch results produced BY generation N
 *     __kind=frontier/         pending frontier at the START of generation
 *                              N+1; rows first enqueued by N carry `__fresh`
 *                              (the un-compacted seen tail)
 *   seen/bucket=<from>-<to>-L<level>/
 *                     parquet  (jobId, urlNorm) of the fresh rows of frontier
 *                              generations from..to, leveled compaction
 *       _trapcounts/  parquet  pre-aggregated trap-gate counts
 *       _COMPACT_OK            validity marker, written last
 *   manifest/gen=N.json        commit record (atomic rename) — a generation
 *                              EXISTS iff its manifest file exists
 *   cancel/<base64 jobId>      durable cancellation markers
 *
 * Crash mid-generation => no manifest => resume() deletes the generation's
 * partial `steps/gen=N` and replays it (idempotent, exactly-once results).
 * No filter state is checkpointed: the seen set is the frontier history and
 * its buckets, read by an exact anti-join. Other `_`-prefixed entries (a
 * workDir written by an older build may hold `_nonce` and
 * `bucket=…/_blooms/`) are skipped by parquet listing and never read. The
 * top-level `frontier/gen=N` and `results/gen=N` dirs of an older build are
 * refused ([[requireCurrentLayout]]); run() deletes them.
 */
final case class GenManifest(
    generation: Int,
    progress: Seq[JobProgress],
    seqOffsets: Map[String, Long],
    freshCount: Long,
    // per-partition lineage of the batch (north rule): committed results
    // file (one per fetch task that wrote rows) -> rows it holds
    partitionLineage: Map[String, Long],
    fetchedPages: Long,
    extractedDocs: Long,
    wallMillis: Long)

final class Checkpoint(workDir: String) {
  private implicit val fmts: Formats = DefaultFormats

  /** Hadoop options for every Spark parquet write and Hadoop `fs.create`
    * under `workDir`. A `file:` path then resolves to [[NioLocalFileSystem]]
    * — same permission bits, `.crc` files, `_SUCCESS` and committer, but no
    * `chmod` child process per file and directory. The cache is disabled for
    * these lookups because the FileSystem cache keys on scheme and user, not
    * class: it would hand back the session's stock `file:` instance. Passed
    * per write, never set on the session, so the session's configuration,
    * its cached `file:` FileSystem and a non-local workDir are untouched. */
  val writeOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** Generation `gen`'s one write: its results and the next frontier. */
  def stepPath(gen: Int): String = s"$workDir/steps/gen=$gen"
  def frontierPath(gen: Int): String = s"${stepPath(gen - 1)}/__kind=frontier"
  def resultsPath(gen: Int): String = s"${stepPath(gen)}/__kind=results"

  /** Throws on an older build's top-level `frontier/gen=N` or
    * `results/gen=N` dirs, which this layout would read as empty. */
  def requireCurrentLayout(): Unit =
    if (Seq("frontier", "results").exists(d => Files.isDirectory(Paths.get(s"$workDir/$d"))))
      throw new IllegalStateException(s"$workDir holds frontier/gen=N or results/gen=N dirs, the " +
        "checkpoint layout of an older build; this build reads steps/gen=N. run() resets the workDir.")
  private def manifestPath(gen: Int): Path = Paths.get(s"$workDir/manifest/gen=$gen.json")

  // ---- cancellation markers (DELETE /v1/crawl/:jobId analog): a file per
  // cancelled job; read at every superstep barrier, surviving restarts.
  def cancelPath(jobId: String): Path = {
    val enc = java.util.Base64.getUrlEncoder.withoutPadding
      .encodeToString(jobId.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Paths.get(s"$workDir/cancel/$enc")
  }

  def requestCancel(jobId: String): Unit = {
    Files.createDirectories(Paths.get(s"$workDir/cancel"))
    Files.writeString(cancelPath(jobId), jobId)
  }

  def cancelledJobs: Set[String] =
    listDir(Paths.get(s"$workDir/cancel"))
      .flatMap(p => scala.util.Try(Files.readString(p)).toOption)
      .toSet

  /** Commit a generation: write its manifest and rename it into place. */
  def commit(m: GenManifest): Unit = {
    Files.createDirectories(Paths.get(s"$workDir/manifest"))
    val tmp = Paths.get(s"$workDir/manifest/.gen=${m.generation}.json.tmp")
    Files.writeString(tmp, Serialization.write(m))
    Files.move(tmp, manifestPath(m.generation), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /**
   * Total committed row count of a parquet directory, from file FOOTERS only
   * (a driver-side metadata read per file — no Spark job, no data pages).
   * This is the ground truth the write barrier reconciles accumulator-derived
   * counters against: accumulator updates inside *transformations* can be
   * applied more than once when a task or stage re-executes (speculation,
   * fetch failure, cache-evicted partition rebuilt), but the commit protocol
   * admits exactly one file set — so `footerRows == accumulatorTotal` proves
   * no re-execution inflated the counters (updates cannot under-count: they
   * ride task success, and only successful tasks commit files).
   */
  def committedRowCount(dir: String, conf: org.apache.hadoop.conf.Configuration): Long =
    committedFileRows(dir, conf).map(_._2).sum

  /** Per-file committed row counts (parquet footer record counts) — the
    * write's own partition structure, exactly-once by construction (only
    * committed files are listed). Doubles as the manifest's per-partition
    * lineage. */
  def committedFileRows(dir: String,
      conf: org.apache.hadoop.conf.Configuration): Seq[(String, Long)] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return Nil
    // footer reads are independent point reads — fan them out (the serial
    // version cost ~5 ms/file x files x generations on the superstep clock)
    fs.listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .par.map { s =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(s, conf))
        try (s.getPath.getName, r.getRecordCount) finally r.close()
      }.seq.sortBy(_._1)
  }

  def readManifest(gen: Int): Option[GenManifest] = {
    val p = manifestPath(gen)
    if (Files.exists(p)) Some(Serialization.read[GenManifest](Files.readString(p))) else None
  }

  /** Highest committed generation, if any. */
  def lastCommitted: Option[GenManifest] = {
    val gens = listDir(Paths.get(s"$workDir/manifest"))
      .map(_.getFileName.toString)
      .collect { case s if s.startsWith("gen=") && s.endsWith(".json") =>
        s.stripPrefix("gen=").stripSuffix(".json").toInt }
    if (gens.isEmpty) None else readManifest(gens.max)
  }

  /** Fresh-start cleanup for run(): delete ALL committed state a previous
    * crawl left under this workDir — manifests included, else a crash before
    * this run's first commit followed by resume() would resurrect the dead
    * crawl. Cancel markers are DELIBERATELY kept: cancellation is durable
    * per jobId, like the reference's jobs-table status (a cancelled job id
    * stays cancelled; re-running work means a NEW job id) — and a cancel
    * racing the start of the run still takes effect at the first barrier.
    * Consequence, pinned by CrawlEngineSpec: run() with a previously
    * cancelled jobId over the same workDir finalizes immediately. An older
    * build's `frontier` and `results` dirs go too. */
  def reset(): Unit = {
    Seq("manifest", "steps", "seen", "frontier", "results").foreach { sub =>
      val dir = Paths.get(s"$workDir/$sub")
      if (Files.exists(dir)) deleteRecursively(dir)
    }
  }

  /** Crash cleanup before replaying after committed generation `last`:
    * delete the uncommitted generation dirs (> `last`) and the compactions
    * covering frontier generations past `last + 1`. */
  def truncateAfter(last: Int): Unit = {
    listDir(Paths.get(s"$workDir/steps"))
      .filter(p => scala.util.Try(p.getFileName.toString.stripPrefix("gen=").toInt).toOption.exists(_ > last))
      .foreach(deleteRecursively)
    listDir(Paths.get(s"$workDir/seen"))
      .filter(p => parseBucket(p.getFileName.toString).exists(_.to > last + 1))
      .foreach(deleteRecursively)
  }

  // ---- seen-set storage (the URL-seen set, SURVEY §2.3 J2 / §2.4 A8): the
  // seen keys ARE the frontier history — every frontier row carries
  // a `__fresh` flag (true = first time this (jobId, urlNorm) was enqueued),
  // so no separate seen table is written per generation. Membership is
  // exact: candidates meet one left-anti join against buckets ∪ tail, so no
  // node holds a filter or the whole set, and false negatives and false
  // positives are both impossible. Compaction folds flagged rows of old
  // frontier dirs into 2-column `seen/bucket=<from>-<to>-L<level>/` dirs,
  // LEVELED like LSM compaction: the frontier tail folds into a level-0
  // bucket (cost O(tail), never O(total seen)), and when `levelFanout`
  // buckets accumulate at a level they merge into one bucket a level up —
  // per-key compaction cost is amortized O(log_fanout(generations)) while
  // the anti-join read fan-in stays bounded by fanout * levels + tail.
  // Validity is the `_COMPACT_OK` marker, written only after the parquet
  // and the trap counts are durable, so a crash mid-compaction is
  // invisible; a crash between marker and input-prune leaves duplicate
  // coverage, which `validSeenBuckets` masks by containment (anti-join
  // semantics are set-union, so duplicates could not corrupt results even
  // unmasked).

  import Checkpoint.SeenBucket

  def seenBucketPath(b: SeenBucket): String = s"$workDir/seen/${b.dirName}"
  /** Trap-count sidecar of a bucket: pre-aggregated (jobId, host, template,
    * n) parquet INSIDE the bucket dir — the `_` prefix hides it from the
    * bucket's own parquet listing, and it is pruned/merged with its bucket. */
  def trapCountsPath(b: SeenBucket): String =
    s"$workDir/seen/${b.dirName}/_trapcounts"
  private def bucketMarker(b: SeenBucket): Path =
    Paths.get(s"$workDir/seen/${b.dirName}/_COMPACT_OK")

  def markBucket(b: SeenBucket): Unit = Files.writeString(bucketMarker(b), "ok")

  private def parseBucket(name: String): Option[SeenBucket] =
    """bucket=(\d+)-(\d+)-L(\d+)""".r.findFirstMatchIn(name)
      .filter(_.matched == name)
      .map(m => SeenBucket(m.group(1).toInt, m.group(2).toInt, m.group(3).toInt))

  /** Valid (marker-present) buckets covering only generations <= maxGen,
    * minus any bucket whose range is contained in a higher-level bucket
    * (the half-pruned leftovers of a crash between marker and prune). */
  def validSeenBuckets(maxGen: Int): Seq[SeenBucket] = {
    val all = listDir(Paths.get(s"$workDir/seen"))
      .flatMap(p => parseBucket(p.getFileName.toString))
      .filter(b => b.to <= maxGen && Files.exists(bucketMarker(b)))
    all.filterNot(b => all.exists(o =>
        o != b && o.level > b.level && o.from <= b.from && o.to >= b.to))
      .sortBy(b => (b.from, b.level))
  }

  def pruneSeenBuckets(bs: Seq[SeenBucket]): Unit =
    bs.foreach(b => deleteRecursively(Paths.get(seenBucketPath(b))))

  /** Sources of seen keys covering frontier generations 0..gen: the valid
    * bucket set (2-column parquet each), plus the per-generation frontier
    * tail after the newest bucketed generation (filter `__fresh`, project
    * (jobId, urlNorm)): one path per generation, so compaction keeps its
    * cadence, though an empty frontier wrote no dir there. */
  def seenSources(gen: Int): (Seq[SeenBucket], Seq[String]) = {
    val buckets = validSeenBuckets(gen)
    val tailFrom = buckets.map(_.to + 1).maxOption.getOrElse(0)
    (buckets, (tailFrom to gen).map(frontierPath))
  }

  def resultPathsThrough(gen: Int): Seq[String] = (0 to gen).map(resultsPath)

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) listDir(p).foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }

  /** Entries of `dir` (none when it is absent). The directory stream is
    * closed before returning: `Files.list` holds a file descriptor until
    * its stream is closed, and status polls call this thousands of times. */
  private def listDir(dir: Path): List[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.toList finally s.close()
    }
}

object Checkpoint {
  /** One seen-compaction bucket: holds the `__fresh` (jobId, urlNorm) keys of
    * frontier generations `from..to` inclusive, at LSM level `level`. */
  final case class SeenBucket(from: Int, to: Int, level: Int) {
    def dirName: String = s"bucket=$from-$to-L$level"
  }
}
