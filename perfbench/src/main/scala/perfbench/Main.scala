package perfbench

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/**
 * The repository benchmark. One process runs one workload:
 *
 * {{{
 *   Main --workload <crawl-wide|crawl-deep|api-mix|curate> --seed <n> --seconds <s> --trace <0|1> --work <dir>
 * }}}
 *
 * It starts a `local[nproc]` session, generates the workload's inputs from the
 * seed, sets up (timed, repeated), warms up, and measures for `--seconds`.
 * With `--trace 0` the last stdout line carries the end-to-end metrics; with
 * `--trace 1` the window is split into an untraced, a traced and an untraced
 * third, the last line carries the per-layer metrics, and the report line
 * before it states the tracing overhead (traced minus untraced) on each
 * end-to-end metric.
 */
object Main {

  val Workloads: Seq[String] = Seq("crawl-wide", "crawl-deep", "api-mix", "curate")

  /** End-to-end metrics every workload reports, with their units. */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "items_per_s" -> "1/s", "op_p50_ms" -> "ms")

  /** Per-layer metrics of a traced run, with their units. A layer the
    * workload does not call reads 0. Process CPU per item and peak memory
    * come first: they did not repeat within a tenth across seeds, so they are
    * not gated. */
  val PerLayer: Seq[(String, String)] = Seq(
    "cpu_ms_per_item" -> "ms", "peak_rss_mb" -> "MB",
    "core.extract_ms_per_page" -> "ms", "core.parse_ms" -> "ms", "core.clean_ms" -> "ms",
    "core.markdown_ms" -> "ms", "core.text_ms" -> "ms",
    "engine.generations" -> "count", "engine.jobs_per_gen" -> "count", "engine.stages_per_gen" -> "count",
    "engine.tasks_per_gen" -> "count", "engine.write_job_ms_per_gen" -> "ms",
    "engine.other_job_ms_per_gen" -> "ms", "engine.driver_self_ms_per_gen" -> "ms",
    "engine.sched_delay_ms" -> "ms", "engine.exec_cpu_s" -> "s", "engine.shuffle_write_bytes" -> "bytes",
    "engine.shuffle_read_bytes" -> "bytes", "engine.input_bytes" -> "bytes", "engine.output_bytes" -> "bytes",
    "engine.result_bytes" -> "bytes", "engine.gc_ms" -> "ms", "engine.task_skew_ratio" -> "ratio",
    "engine.failed_tasks" -> "count", "engine.state_bytes" -> "bytes", "engine.prepare_s" -> "s",
    "frontier.seen_keys" -> "count",
    "api.scrape_jobs_per_req" -> "count", "api.scrape_input_bytes_per_req" -> "bytes",
    "api.scrape_kernel_share" -> "ratio", "api.search_jobs_per_req" -> "count",
    "api.enrich_pages_extracted_per_req" -> "count", "api.enrich_useful_ratio" -> "ratio",
    "api.queue_ms" -> "ms", "api.generator_late_ms" -> "ms",
    "serp.google_parse_ms_per_page" -> "ms", "serp.searxng_parse_ms_per_page" -> "ms",
    "pipeline.minhash_pairs_s" -> "s", "pipeline.pairs" -> "count", "pipeline.dup_clusters_s" -> "s",
    "pipeline.cc_jobs" -> "count", "pipeline.jobs" -> "count", "pipeline.shuffle_write_bytes" -> "bytes",
    "pipeline.exec_cpu_s" -> "s")

  /** Set-up passes per run; `setup_s` uses their median. */
  val SetupPasses = 3

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, work: String)

  def parseArgs(args: Seq[String]): Either[String, Args] = {
    val kv = args.grouped(2).collect { case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.get(k).toRight(s"missing --$k")
    for {
      w <- need("workload").filterOrElse(Workloads.contains, s"unknown workload; one of ${Workloads.mkString(", ")}")
      s <- need("seed").flatMap(v => v.toLongOption.toRight(s"bad --seed $v"))
      sec <- need("seconds").flatMap(v => v.toDoubleOption.filter(_ > 0).toRight(s"bad --seconds $v"))
      t <- need("trace").filterOrElse(v => v == "0" || v == "1", "--trace must be 0 or 1")
      work <- need("work")
    } yield Args(w, s, sec, t == "1", work)
  }

  def workload(name: String): Workload = name match {
    case "crawl-wide" | "crawl-deep" => new CrawlWorkload(name)
    case "api-mix" => new ApiMixWorkload
    case "curate" => new CurateWorkload
  }

  def main(argv: Array[String]): Unit = parseArgs(argv.toSeq) match {
    case Left(err) =>
      System.err.println(s"perfbench: $err")
      sys.exit(2)
    case Right(a) => run(a)
  }

  private def run(a: Args): Unit = {
    val t0 = System.nanoTime()
    val work = java.nio.file.Paths.get(a.work).toAbsolutePath
    deleteTree(work)
    java.nio.file.Files.createDirectories(work)
    val load0 = Proc.loadAverage
    val health = Proc.healthProbeMs()
    val nproc = Runtime.getRuntime.availableProcessors()
    val master = s"local[$nproc]"
    val tSession = System.nanoTime()
    val spark = SparkSession.builder()
      .master(master)
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - tSession) / 1e9
    val result = try {
      val ctx = Ctx(spark, a.seed, work)
      val wl = workload(a.workload)
      val tGen = System.nanoTime()
      wl.generate(ctx)
      val generateS = (System.nanoTime() - tGen) / 1e9
      val passes = (1 to SetupPasses).map { _ =>
        val t = System.nanoTime(); wl.setUp(ctx); (System.nanoTime() - t) / 1e9
      }
      val tWarm = System.nanoTime()
      wl.warmUp(ctx)
      val warmS = (System.nanoTime() - tWarm) / 1e9
      val setupS = sessionS + Stats.median(passes) + warmS
      // A traced run splits its window in thirds: untraced, traced, untraced.
      // The JVM is still warming up, so the traced third is compared with
      // the mean of the thirds around it, which cancels a steady drift.
      val (untraced, traced, after) =
        if (!a.trace) (wl.measure(ctx, a.seconds, None), None, None)
        else {
          val third = a.seconds / 3
          val before = wl.measure(ctx, third, None)
          val tr = wl.measure(ctx, third, Some(new Tracer(spark.sparkContext)))
          (before, Some(tr), Some(wl.measure(ctx, third, None)))
        }
      def untracedMean(k: String): Double =
        (untraced.measured(k).value + after.fold(untraced.measured(k).value)(_.measured(k).value)) / 2
      val load1 = Proc.loadAverage
      val measured = untraced.measured + ("setup_s" -> Metric(setupS, "s"))
      val conditions = List(
        "nproc" -> JInt(nproc), "master" -> JString(master),
        "heap_max_mb" -> JDouble(Runtime.getRuntime.maxMemory / 1048576.0),
        "load_before" -> JDouble(load0), "load_after" -> JDouble(load1), "open_fds" -> JInt(Proc.openFds),
        "health_probe_ms" -> JDouble(health), "java" -> JString(System.getProperty("java.version")),
        "seconds" -> JDouble(a.seconds), "seed" -> JInt(a.seed))
      val setup = List("generate_s" -> JDouble(generateS), "session_s" -> JDouble(sessionS),
        "setup_pass_s" -> JArray(passes.map(JDouble(_)).toList), "warmup_s" -> JDouble(warmS))
      val all = untraced +: (traced.toSeq ++ after.toSeq)
      val attempted = all.map(_.attempted).sum
      val failed = all.map(_.failed).sum
      val report = List(
        "workload" -> JString(a.workload),
        "conditions" -> JObject(conditions),
        "setup" -> JObject(setup),
        "end_to_end" -> JObject(EndToEnd.toList.map { case (k, _) => k -> Report.metric(measured(k)) }),
        "cpu_ms_per_item" -> Report.metric(measured("cpu_ms_per_item")),
        "named" -> JObject(untraced.named.toList),
        "peak_rss_mb" -> JDouble(Proc.peakRssMb),
        "failed_ratio" -> JDouble(failed.toDouble / math.max(1L, attempted)),
        "wall_s" -> JDouble((System.nanoTime() - t0) / 1e9)) ++
        traced.toList.flatMap { tr =>
          List("traced_named" -> JObject(tr.named.toList), "named_after" -> JObject(after.get.named.toList),
            "trace_notes" -> JObject(tr.notes.toList),
            "tracing_overhead" -> JObject(tr.measured.toList.sortBy(_._1).map { case (k, m) =>
              k -> Report.metric(m.value - untracedMean(k), m.unit) }))
        }
      println("perfbench report " + Report.line(JObject(report)))
      val metrics = traced match {
        case None => EndToEnd.toList.map { case (k, _) => k -> Report.metric(measured(k)) }
        case Some(tr) =>
          val layers = wl.setupLayers ++ tr.layers ++
            Map("cpu_ms_per_item" -> untracedMean("cpu_ms_per_item"), "peak_rss_mb" -> Proc.peakRssMb)
          PerLayer.toList.map { case (k, u) => k -> Report.metric(layers.getOrElse(k, 0.0), u) }
      }
      Report.line(JObject("correct" -> JBool(failed == 0), "attempted" -> JInt(attempted),
        "failed" -> JInt(failed), "metrics" -> JObject(metrics)))
    } finally spark.stop()
    cleanInputs(work)
    println(result)
  }

  /** Leave only the trace files behind. */
  private def cleanInputs(work: java.nio.file.Path): Unit = {
    val s = java.nio.file.Files.list(work)
    try s.iterator().forEachRemaining { p =>
      if (!p.getFileName.toString.startsWith("trace-")) deleteTree(p)
    } finally s.close()
  }

  def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => java.nio.file.Files.delete(f))
      finally s.close()
    }
}

/** JSON output of the report and result lines. */
object Report {
  /** A number as measured, with all its digits; null when it is not finite. */
  def num(v: Double): JValue = if (v.isNaN || v.isInfinite) JNull else JDouble(v)
  def metric(value: Double, unit: String): JValue = JObject("value" -> num(value), "unit" -> JString(unit))
  def metric(m: Metric): JValue = metric(m.value, m.unit)
  def line(v: JValue): String = JsonMethods.compact(JsonMethods.render(v))
}
