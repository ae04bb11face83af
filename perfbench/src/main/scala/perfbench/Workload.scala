package perfbench

import org.apache.spark.sql.SparkSession
import org.json4s.JValue

/** What every workload gets: the session, the seed and a scratch directory
  * inside the checkout. */
final case class Ctx(spark: SparkSession, seed: Long, work: java.nio.file.Path) {
  def dir(name: String): String = work.resolve(name).toString
  def nproc: Int = spark.sparkContext.defaultParallelism
}

/** A metric as printed: value and unit. */
final case class Metric(value: Double, unit: String)

/** The outcome of one measured window. `measured` holds the metrics every
  * workload reports: the end-to-end ones of BENCHMARK.json except `setup_s`,
  * and `cpu_ms_per_item`; `named` the workload's own user-facing metrics,
  * with sample counts; `layers` the per-layer metrics a traced window adds. */
final case class Outcome(
    attempted: Long,
    failed: Long,
    measured: Map[String, Metric],
    named: Seq[(String, JValue)],
    layers: Map[String, Double] = Map.empty,
    notes: Seq[(String, JValue)] = Nil)

trait Workload {
  /** Generate the inputs from the seed. Not part of the set-up time: a user's
    * data already exists. */
  def generate(ctx: Ctx): Unit
  /** One set-up pass: read the inputs and prepare the program. Timed and
    * repeated; the last pass's state is kept. */
  def setUp(ctx: Ctx): Unit
  /** Untimed-by-the-window first use, so the window starts warm (JIT, codegen). */
  def warmUp(ctx: Ctx): Unit
  /** Measure for `seconds`; with a tracer, also derive the per-layer metrics. */
  def measure(ctx: Ctx, seconds: Double, tracer: Option[Tracer]): Outcome
  /** Set-up sub-times the per-layer view reports (seconds). */
  def setupLayers: Map[String, Double] = Map.empty
}

object Workload {
  /** Operations in a window of `seconds` for an operation that takes
    * `nominalS` on the reference machine (4 cores). The count is fixed by the
    * window, not by how fast the calls go: the JVM is still warming up while
    * it measures, so a run that fit one more call would also read faster. */
  def opsFor(seconds: Double, nominalS: Double): Int = math.max(1, math.round(seconds / nominalS).toInt)

  /** Calls `f` inside a span when tracing, plainly otherwise. */
  def call[T](tracer: Option[Tracer], name: String, layer: String)(f: => T): T =
    tracer match {
      case Some(t) => t.span(name, layer)(f)
      case None => f
    }
}

/** Process-level readings: CPU time, peak resident memory, load. */
object Proc {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs: Long = os.getProcessCpuTime

  /** Peak resident set size of this process (VmHWM), in MB. */
  def peakRssMb: Double = statusKb("VmHWM") / 1024.0

  private def statusKb(key: String): Double = {
    val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status"))
    val it = lines.iterator()
    while (it.hasNext) {
      val l = it.next()
      if (l.startsWith(key + ":")) return l.substring(key.length + 1).trim.split("\\s+")(0).toDouble
    }
    sys.error(s"$key missing from /proc/self/status")
  }

  def loadAverage: Double = os.getSystemLoadAverage

  /** File descriptors this process holds open. */
  def openFds: Int = Option(new java.io.File("/proc/self/fd").list()).map(_.length).getOrElse(-1)

  /** Fixed single-thread CPU probe: milliseconds for a constant amount of
    * integer hashing. A slow reading means the machine is contended. */
  def healthProbeMs(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var h = 0L
      var i = 0L
      while (i < 5000000L) { h = graft.fixtures.SiteGen.mix(h, i); i += 1 }
      if (h == 42L) println("")
      (System.nanoTime() - t0) / 1e6
    }
    once()
    Stats.median(Seq(once(), once(), once()))
  }
}
