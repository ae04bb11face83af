package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.json4s.JsonAST.JObject
import org.json4s.JsonDSL._
import graft.engine.{CrawlEngine, CrawlConfig}
import graft.fixtures.SiteGen

/**
 * The measurement main: the N→4N scaling protocol (BASELINE.md) and the
 * samples BENCH.md's tables come from. Each subcommand is a function from
 * its session to one JSON object; `main` builds and stops the session.
 *
 * Usage (runMain graft.ScalingBench ...):
 *   prep [pages] [hosts]           — generate the wide corpus (distributed)
 *   run <cores> [hosts]            — measured crawl over it
 *   graph <cores> [edges] [nodes]  — connected components throughput
 *   bpe [cores] [docs] [vocab]     — batched-BPE merge learning
 *   kernel threads|threads-wide    — Spark-free kernel thread scaling
 *
 * Environment: `SPARK_GRAFT_SCALING_DIR` (corpus dir),
 * `SPARK_GRAFT_PARAGRAPHS` (prep page weight), `SPARK_GRAFT_SHUFFLE`
 * (shuffle partitions), `SPARK_GRAFT_CPUS` (bpe's default cores).
 *
 * The protocol runs the identical `run` crawl over the identical `prep`
 * corpus at `local[8]` and `local[32]` in separate JVMs: frontier throughput
 * (URLs fetched / sec) at both gives the scaling efficiency `(tp32 / tp8) / 4`.
 * The corpus is a WIDE site (branching 16, depth ~3): frontier work per
 * superstep is large relative to the BSP barrier cost, which is the shape a
 * 10^10-URL production frontier has (millions of URLs per generation), unlike
 * the deep binary-tree correctness fixtures where generation count dominates.
 */
object ScalingBench {

  private val seed = 42L
  private val branching = 16

  def main(args: Array[String]): Unit = {
    def env(key: String, default: String): String = sys.env.getOrElse(key, default)
    val corpusDir = env("SPARK_GRAFT_SCALING_DIR", "/tmp/graft_scaling_corpus")
    // identical plan at every core count; 4x over-decomposition packs the
    // 32-core run's stages without stragglers idling whole waves
    def measure(cores: Int, shuffle: Int)(body: SparkSession => JObject): Unit = {
      val spark = Tools.session(cores, env("SPARK_GRAFT_SHUFFLE", shuffle.toString).toInt)
      try println(Tools.json(body(spark))) finally spark.stop()
    }
    def arg(rest: List[String], i: Int, default: Long): Long = rest.lift(i).fold(default)(_.toLong)
    args.toList match {
      case "prep" :: rest =>
        // ~20 KB html/page default (a few ms of kernel work). The 10M-page
        // corpus (scaling_protocol.sh scale10m) preps THIN pages instead
        // (SPARK_GRAFT_PARAGRAPHS=2, ~1 KB): at that horizon the object under
        // test is the frontier/seen machinery, not the extract kernel, and
        // thin pages keep the corpus RAM-resident.
        measure(32, 128)(prep(_, corpusDir, arg(rest, 0, 100000).toInt, arg(rest, 1, 64).toInt,
          env("SPARK_GRAFT_PARAGRAPHS", "60").toInt))
      case "run" :: cores :: rest =>
        measure(cores.toInt, 128)(run(_, corpusDir, arg(rest, 0, 64).toInt))
      case "graph" :: cores :: rest =>
        measure(cores.toInt, 128)(graph(_, arg(rest, 0, 3000000L), arg(rest, 1, 1000000L)))
      case "bpe" :: rest =>
        measure(arg(rest, 0, env("SPARK_GRAFT_CPUS", "32").toLong).toInt, 32) { spark =>
          spark.sparkContext.setCheckpointDir(
            java.nio.file.Files.createTempDirectory("bpebench-ckpt").toString)
          bpe(spark, arg(rest, 1, 50000L), arg(rest, 2, 20000L).toInt)
        }
      case "kernel" :: mode :: Nil if kernelPages.contains(mode) =>
        kernel(kernelPages(mode)).foreach(o => println(Tools.json(o)))
      case other =>
        System.err.println("usage: ScalingBench prep [pages] [hosts] | run <cores> [hosts] | " +
          s"graph <cores> [edges] [nodes] | bpe [cores] [docs] [vocab] | kernel threads|threads-wide; got $other")
        sys.exit(2)
    }
  }

  private def round(x: Double, digits: Int): Double =
    BigDecimal(x).setScale(digits, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Write the `pages`-page, `hosts`-host wide corpus to `dir`. */
  def prep(spark: SparkSession, dir: String, pages: Int, hosts: Int, paragraphs: Int): JObject = {
    import spark.implicits._
    val perHost = pages / hosts
    spark.range(perHost.toLong * hosts)
      .repartition(64)
      .map(i => SiteGen.wideRow(seed, i, perHost, hosts, branching, paragraphs))
      .write.mode("overwrite").parquet(dir)
    ("prep" -> "ok") ~ ("pages" -> perHost * hosts) ~ ("hosts" -> hosts) ~ ("dir" -> dir)
  }

  /** Crawl the whole corpus at `dir` from every host's root page and time
    * it, after a small warmup crawl has JIT-compiled the kernel and codegen. */
  def run(spark: SparkSession, dir: String, hosts: Int): JObject = {
    val pages = spark.read.parquet(dir)
    val total = pages.count()
    warmup(spark)
    // checkpoint on tmpfs: a cluster's results/frontier writes go to a DFS
    // whose aggregate bandwidth scales with executors; a single box's disk
    // does not, and would otherwise put a constant ~15 s disk-bound floor
    // under every run, polluting the N-vs-4N core-scaling measurement
    val cores = spark.sparkContext.defaultParallelism
    val work = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("/dev/shm"), s"scaling-$cores").toString
    val cfg = CrawlConfig(
      jobId = "bench",
      seeds = (0 until hosts).map(h => SiteGen.pageUrl(h, 0)),
      strategy = "all", maxDepth = 20, limit = 0,          // unbounded: crawl it all
      hostBudgetPerStep = Int.MaxValue,                    // politeness unbound (see BENCH.md)
      formats = graft.core.Extractor.Formats(html = false)) // markdown+text+links (scrape default)
    val eng = new CrawlEngine(spark, pages, work)
    eng.prepare() // corpus load = warehouse state, not crawl throughput
    val t0 = System.nanoTime()
    val report = eng.run(Seq(cfg))
    val secs = (System.nanoTime() - t0) / 1e9
    // tmpfs checkpoints are RAM: leaking them across runs degrades every
    // subsequent measurement (observed: 59 GB of stale state, 2x slowdown)
    deleteRecursively(new java.io.File(work))
    ("metric" -> "frontier_throughput") ~ ("cores" -> cores) ~ ("corpus_pages" -> total) ~
      ("fetched" -> report.totalFetched) ~ ("generations" -> report.generations) ~
      ("seconds" -> round(secs, 2)) ~ ("urls_per_sec" -> round(report.totalFetched / secs, 1))
  }

  private def warmup(spark: SparkSession): Unit = {
    import spark.implicits._
    val df = spark.createDataset(SiteGen.rows(7L, 60, 2).toSeq).toDF()
    val work = java.nio.file.Files.createTempDirectory("scaling-warmup").toString
    new CrawlEngine(spark, df, work).run(Seq(CrawlConfig(
      jobId = "warmup", seeds = Seq(SiteGen.pageUrl(0, 0)),
      strategy = "all", maxDepth = 8, limit = 60)))
    deleteRecursively(new java.io.File(work))
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  /**
   * N→4N sample for the graph-operator family: connected components of one
   * fixed seeded random multigraph (avg degree 2E/N), generated on the
   * executors from `spark.range`, identical at any parallelism. The default
   * 3 M edges sit ABOVE `starWindowMaxEdges`, so the run starts with the
   * at-scale groupBy+join star rounds (the path a 10^10-edge dedup graph
   * takes), then hands the contracted edge set to the single-task union-find
   * kernel; `star_rounds` counts the rounds before that hand-off (0: no star
   * round was measured). The checksum (node count, component count, xor of
   * xxhash64(id, component)) is partitioning-independent: equal checksums
   * across core counts are the determinism evidence, the property the
   * engine's trace oracle pins.
   */
  def graph(spark: SparkSession, nEdges: Long, nNodes: Long): JObject = {
    import spark.implicits._
    val edges = spark.range(nEdges).select(
      pmod(xxhash64($"id", lit(1)), lit(nNodes)).as("a"),
      pmod(xxhash64($"id", lit(2)), lit(nNodes)).as("b"))
    val t0 = System.nanoTime()
    val cc = graft.pipeline.Graph.components(edges, "a", "b")
    val sums = cc.labels.agg(
      count(lit(1)),
      countDistinct($"component"),
      expr("bit_xor(xxhash64(id, component))")).head()
    val secs = (System.nanoTime() - t0) / 1e9
    ("metric" -> "cc_edges_per_sec") ~ ("cores" -> spark.sparkContext.defaultParallelism) ~
      ("edges" -> nEdges) ~ ("nodes" -> sums.getLong(0)) ~ ("components" -> sums.getLong(1)) ~
      ("checksum" -> sums.getLong(2)) ~ ("star_rounds" -> cc.starRounds) ~
      ("seconds" -> round(secs, 2)) ~ ("edges_per_sec" -> round(nEdges / secs, 1))
  }

  /**
   * Batched-BPE merge learning ([[graft.pipeline.Bpe.learnMergesWithRounds]])
   * at the batch widths a 32k-vocab deployment would use, over `docs` rows
   * of 40 words drawn Zipf-ishly (quadratic skew) from a `vocab`-word lexicon
   * of 6-12 letter pseudo-random strings over a 20-letter alphabet, generated
   * on the executors (no I/O in the measured window, deterministic in
   * (docs, vocab)). The claims under test:
   *  - rounds ≈ merges / acceptedPerRound — the driver round-trip count
   *    shrinks by ~the accepted-batch width;
   *  - wall time is SUBLINEAR in merges at fixed batchK, and ~flat in merges
   *    when batchK grows with them.
   * One cell per (merges, batchK), each also printed to stderr as it ends.
   */
  def bpe(spark: SparkSession, nDocs: Long, vocab: Int): JObject = {
    import spark.implicits._
    // word j of the lexicon: 6-12 pseudo-random letters, deterministic in j
    def wordOf(j: Long): String = {
      val len = 6 + (SiteGen.mix(j, 77L) % 7L).toInt.abs
      val sb = new StringBuilder
      var i = 0
      while (i < len) {
        sb.append(('a' + (SiteGen.mix(j, i.toLong) % 20L).toInt.abs).toChar)
        i += 1
      }
      sb.toString
    }
    val vocabB = spark.sparkContext.broadcast(Array.tabulate(vocab)(j => wordOf(j.toLong)))
    val docs = spark.range(nDocs).map { d =>
      val words = vocabB.value
      val sb = new StringBuilder
      var k = 0
      while (k < 40) {
        if (k > 0) sb.append(' ')
        // quadratic Zipf-ish skew toward low word ids
        val u = (SiteGen.mix(d, k.toLong) % 1000000L).abs / 1000000.0
        sb.append(words((u * u * words.length).toInt.min(words.length - 1)))
        k += 1
      }
      sb.toString
    }.toDF("text").persist()
    val tokens = docs.count() * 40
    // (merges, batchK) grid: the sequential shape small (per-round cost
    // anchor), then 512 at 8/16 and 1024 at 16 (the deployment widths)
    val cells = Seq((64, 1), (512, 8), (512, 16), (1024, 16)).map { case (m, bk) =>
      val t0 = System.nanoTime()
      val (df, rounds) = graft.pipeline.Bpe.learnMergesWithRounds(docs, "text", merges = m, batchK = bk)
      val learned = df.count()
      val cell = ("merges" -> m) ~ ("batchK" -> bk) ~ ("learned" -> learned) ~ ("rounds" -> rounds) ~
        ("seconds" -> round((System.nanoTime() - t0) / 1e9, 2)) ~
        ("merges_per_round" -> round(learned.toDouble / rounds, 1))
      System.err.println(Tools.json(cell))
      cell
    }
    docs.unpersist()
    vocabB.destroy()
    ("metric" -> "bpe_batched_rounds") ~ ("cores" -> spark.sparkContext.defaultParallelism) ~
      ("docs" -> nDocs) ~ ("vocab" -> vocab) ~ ("tokens" -> tokens) ~ ("cells" -> cells)
  }

  /** Corpus pages per `kernel` mode: 2000 fit L3 (the CPU roofline); 20000
    * (~1 GB incl. UTF-16 strings) stream DRAM, the bandwidth roofline the
    * engine's wide generations hit and a contended host degrades first. */
  private val kernelPages = Map("threads" -> 2000, "threads-wide" -> 20000)

  /** Spark-free extraction-kernel thread scaling over `pages` wide pages:
    * the socket's ceiling, measured without any orchestration. One object
    * per thread count. */
  def kernel(pages: Int): Seq[JObject] = {
    val htmls = new Array[(String, String)](pages)
    val genThreads = (0 until 8).map { t =>
      new Thread(() => {
        var i = t
        while (i < pages) {
          // constant generator params: page i's bytes are identical across
          // modes, so 2000-page numbers stay comparable with prior rounds
          val r = SiteGen.wideRow(42L, i.toLong, 1562, 64, 16, 60)
          htmls(i) = (r.url, new String(r.html, "UTF-8"))
          i += 8
        }
      })
    }
    genThreads.foreach(_.start()); genThreads.foreach(_.join())
    // warmup: multi-threaded so JIT sees the concurrent profile before any
    // measured point
    (0 until 8).map { t =>
      new Thread(() => htmls.slice(t * 150, (t + 1) * 150).foreach { case (u, h) =>
        graft.core.Extractor.extract(u, h) })
    }.map { th => th.start(); th }.foreach(_.join())
    Seq(1, 2, 4, 8, 16, 32).map { t =>
      val counter = new java.util.concurrent.atomic.AtomicInteger(0)
      val t0 = System.nanoTime()
      val threads = (0 until t).map { _ =>
        new Thread(() => {
          var i = counter.getAndIncrement()
          while (i < pages) {
            val (u, h) = htmls(i)
            graft.core.Extractor.extract(u, h)
            i = counter.getAndIncrement()
          }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      ("metric" -> "kernel_pages_per_sec") ~ ("pages" -> pages) ~ ("threads" -> t) ~
        ("pages_per_sec" -> math.round(pages / ((System.nanoTime() - t0) / 1e9)))
    }
  }
}
