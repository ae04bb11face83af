package graft

import org.apache.spark.sql.SparkSession
import graft.engine.{CrawlEngine, CrawlConfig}

/**
 * Two-parallelism scaling harness (BASELINE.md protocol): the sandbox
 * stand-in for the north rule's "N and 4N executors" — run the IDENTICAL
 * crawl job on the IDENTICAL pre-generated corpus at `local[8]` and
 * `local[32]` in separate JVMs, report frontier throughput
 * (URLs scheduled+fetched / sec) at both and the scaling efficiency
 * `(tp32 / tp8) / 4`.
 *
 * Usage:
 *   runMain graft.ScalingBench prep [pages] [hosts]   — generate corpus (distributed)
 *   runMain graft.ScalingBench run <cores>            — measured crawl, prints one JSON line
 *
 * The corpus is a WIDE site (branching 16, depth ~3): frontier work per
 * superstep is large relative to the BSP barrier cost, which is the shape a
 * 10^10-URL production frontier has (millions of URLs per generation), unlike
 * the deep binary-tree correctness fixtures where generation count dominates.
 */
object ScalingBench {

  private val corpusDir = sys.env.getOrElse("SPARK_GRAFT_SCALING_DIR", "/tmp/graft_scaling_corpus")
  private val seed = 42L
  private val branching = 16
  // ~20 KB html/page default (a few ms of kernel work). The 10M-page
  // corpus (scaling_protocol.sh scale10m) preps THIN pages instead
  // (SPARK_GRAFT_PARAGRAPHS=2, ~1 KB): at that horizon the object under
  // test is the frontier/seen machinery, not the extract kernel, and thin
  // pages keep the corpus RAM-resident.
  private val paragraphs = sys.env.getOrElse("SPARK_GRAFT_PARAGRAPHS", "60").toInt

  def main(args: Array[String]): Unit = args.toList match {
    case "prep" :: rest =>
      val pages = rest.headOption.map(_.toInt).getOrElse(100000)
      val hosts = rest.lift(1).map(_.toInt).getOrElse(64)
      prep(pages, hosts)
    case "run" :: cores :: rest =>
      val hosts = rest.headOption.map(_.toInt).getOrElse(64)
      run(cores.toInt, hosts)
    case other =>
      System.err.println(s"usage: ScalingBench prep [pages] [hosts] | run <cores>; got $other")
      sys.exit(2)
  }

  private def session(cores: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      // identical plan at both core counts; 4x over-decomposition packs the
      // 32-core run's stages without stragglers idling whole waves
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "128").toInt)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .getOrCreate()

  private def prep(pages: Int, hosts: Int): Unit = {
    val spark = session(32)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val perHost = pages / hosts
    spark.range(perHost.toLong * hosts)
      .repartition(64)
      .map(i => graft.fixtures.SiteGen.wideRow(seed, i, perHost, hosts, branching, paragraphs))
      .write.mode("overwrite").parquet(corpusDir)
    println(s"""{"prep":"ok","pages":${perHost * hosts},"hosts":$hosts,"dir":"$corpusDir"}""")
    spark.stop()
  }

  private def run(cores: Int, hosts: Int): Unit = {
    val spark = session(cores)
    spark.sparkContext.setLogLevel("WARN")
    val pages = spark.read.parquet(corpusDir)
    val total = pages.count()

    // warmup: small crawl to JIT the kernel + codegen before the clock starts
    warmup(spark)

    // checkpoint on tmpfs: a cluster's results/frontier writes go to a DFS
    // whose aggregate bandwidth scales with executors; a single box's disk
    // does not, and would otherwise put a constant ~15 s disk-bound floor
    // under every run, polluting the N-vs-4N core-scaling measurement
    val work = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("/dev/shm"), s"scaling-$cores").toString
    val cfg = CrawlConfig(
      jobId = "bench",
      seeds = (0 until hosts).map(h => graft.fixtures.SiteGen.pageUrl(h, 0)),
      strategy = "all", maxDepth = 20, limit = 0,          // unbounded: crawl it all
      hostBudgetPerStep = Int.MaxValue,                    // politeness unbound (see BENCH.md)
      formats = graft.core.Extractor.Formats(html = false)) // markdown+text+links (scrape default)
    val eng = new CrawlEngine(spark, pages, work,
      // the bloom sidecar probe needs buckets to exist: compact eagerly and
      // probe at every batch size
      settings = CrawlEngine.Settings(compactEvery = 2, bloomMinBatch = 0L))
    eng.prepare() // corpus load = warehouse state, not crawl throughput
    val t0 = System.nanoTime()
    val report = eng.run(Seq(cfg))
    val secs = (System.nanoTime() - t0) / 1e9
    val fetched = report.totalFetched
    val tput = fetched / secs
    println(f"""{"metric":"frontier_throughput","cores":$cores,"corpus_pages":$total,"fetched":$fetched,"generations":${report.generations},"seconds":$secs%.2f,"urls_per_sec":$tput%.1f}""")
    spark.stop()
    // tmpfs checkpoints are RAM: leaking them across runs degrades every
    // subsequent measurement (observed: 59 GB of stale state, 2x slowdown)
    deleteRecursively(new java.io.File(work))
  }

  private def warmup(spark: SparkSession): Unit = {
    import spark.implicits._
    val rows = graft.fixtures.SiteGen.rows(7L, 60, 2).toSeq
    val df = spark.createDataset(rows).toDF()
    val work = java.nio.file.Files.createTempDirectory("scaling-warmup").toString
    new CrawlEngine(spark, df, work).run(Seq(CrawlConfig(
      jobId = "warmup", seeds = Seq(graft.fixtures.SiteGen.pageUrl(0, 0)),
      strategy = "all", maxDepth = 8, limit = 60)))
    deleteRecursively(new java.io.File(work))
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }
}
