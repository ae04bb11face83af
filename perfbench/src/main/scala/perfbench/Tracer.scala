package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.json4s._

/**
 * Outside-in tracer: spans around each call the benchmark makes into a
 * public function of the program, plus one record per Spark job and per-stage
 * task counters gathered by a `SparkListener`. Nothing inside the program is
 * switched on; everything is observed from the benchmark's side of the call.
 *
 * Job parentage. The calling thread tags its jobs through the Spark local
 * property [[SpanProperty]]. A job carries the tag of the thread that
 * submitted it, and a thread created by the program inherits a frozen copy of
 * its creator's properties (CrawlEngine's `graft-results-write` writer is such
 * a thread), so a tag can name a span that had already closed when the job
 * started. Such a stale or missing tag is replaced by time containment: the
 * innermost span open when the job started, provided the open spans form one
 * nested chain. [[Tracer.Result.reparented]] counts those jobs and
 * [[Tracer.Result.unattributed]] the jobs no rule could place.
 *
 * Times are nanoTime-based; listener event times (wall-clock milliseconds) are
 * mapped onto the same axis through an offset taken when the tracer starts.
 */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  private val wall0Ms = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  private def wallToNs(ms: Long): Long = nano0 + (ms - wall0Ms) * 1000000L

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.HashMap.empty[Int, StageAgg]
  private val stack = new ThreadLocal[List[Span]] { override def initialValue(): List[Span] = Nil }
  @volatile private var sentinelSeen = -1

  sc.addSparkListener(this)

  /** Run `f` inside a span named `name` in `layer`; nested calls on the same
    * thread become children. */
  def span[T](name: String, layer: String)(f: => T): T = {
    val parent = stack.get.headOption
    val s = spans.synchronized {
      val sp = Span(spans.length, name, layer, parent.map(_.id).getOrElse(-1),
        Thread.currentThread().getName, System.nanoTime())
      spans += sp
      sp
    }
    stack.set(s :: stack.get)
    val prev = sc.getLocalProperty(SpanProperty)
    sc.setLocalProperty(SpanProperty, s.id.toString)
    try f
    finally {
      s.endNs = System.nanoTime()
      stack.set(stack.get.tail)
      sc.setLocalProperty(SpanProperty, prev)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    if (props.flatMap(p => Option(p.getProperty(SentinelProperty))).isDefined) return
    val tag = props.flatMap(p => Option(p.getProperty(SpanProperty))).map(_.toInt)
    // a stage is named after the user code line that submitted it; the
    // result stage (highest id) names the job
    val callSite = e.stageInfos.maxByOption(_.stageId).map(_.name).getOrElse("")
    jobs(e.jobId) = new Job(e.jobId, wallToNs(e.time), tag, e.stageIds, callSite)
    // a stage belongs to the first job that lists it: later jobs that list
    // the same shuffle stage find its output and skip it
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId) match {
      case Some(j) =>
        j.endNs = wallToNs(e.time)
        j.failed = e.jobResult != JobSucceeded
      case None => sentinelSeen = e.jobId
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val agg = stages.getOrElseUpdate(e.stageId, new StageAgg(e.stageId))
    val info = e.taskInfo
    val failed = info.failed || info.killed
    if (failed) agg.failed += 1
    if (info.speculative) agg.speculative += 1
    val m = e.taskMetrics
    if (m != null) {
      agg.tasks += 1
      agg.cpuNs += m.executorCpuTime
      agg.gcMs += m.jvmGCTime
      agg.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      agg.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      agg.inputBytes += m.inputMetrics.bytesRead
      agg.inputRecords += m.inputMetrics.recordsRead
      agg.outputBytes += m.outputMetrics.bytesWritten
      agg.outputRecords += m.outputMetrics.recordsWritten
      agg.resultBytes += m.resultSize
      val duration = info.finishTime - info.launchTime
      agg.durationsMs += duration
      agg.schedDelayMs += math.max(0L, duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime)
    }
  }

  /** Wait until the listener has seen every event posted so far: run a tiny
    * untagged job and wait for its end event (the listener bus is FIFO). */
  def drain(): Unit = {
    val prevTag = sc.getLocalProperty(SpanProperty)
    sc.setLocalProperty(SpanProperty, null)
    sc.setLocalProperty(SentinelProperty, "1")
    val before = sentinelSeen
    try sc.parallelize(Seq(1), 1).count()
    finally {
      sc.setLocalProperty(SentinelProperty, null)
      sc.setLocalProperty(SpanProperty, prevTag)
    }
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (sentinelSeen == before && System.nanoTime() < deadline) Thread.sleep(2)
  }

  /** Stop listening and resolve parentage. Call after [[drain]]. */
  def finish(): Result = {
    sc.removeSparkListener(this)
    synchronized {
      val spanSeq = spans.synchronized(spans.toVector)
      val resolved = jobs.values.toVector.map { j =>
        val (parent, how) = Tracer.resolveParent(spanSeq, j.tag, j.startNs)
        val agg = j.stageIds.flatMap(s => if (stageJob.get(s).contains(j.id)) stages.get(s) else None)
        JobRec(j.id, j.callSite, j.startNs, if (j.endNs > 0) j.endNs else j.startNs, parent, how,
          j.failed, agg.count(_.tasks > 0), agg.map(_.tasks).sum, agg.toVector)
      }
      Result(spanSeq, resolved)
    }
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"
  private val SentinelProperty = "perfbench.sentinel"

  final case class Span(id: Int, name: String, layer: String, parent: Int, thread: String,
      startNs: Long) {
    @volatile var endNs: Long = 0L
    def end: Long = if (endNs > 0) endNs else Long.MaxValue
    def contains(t: Long, slackNs: Long = 0L): Boolean = startNs - slackNs <= t && t - slackNs <= end
  }

  /** Listener times have millisecond resolution: a tagged job may appear to
    * start up to this much before its span. */
  private val TagSlackNs = 2000000L

  final class Job(val id: Int, val startNs: Long, val tag: Option[Int], val stageIds: Seq[Int],
      val callSite: String) {
    var endNs: Long = 0L
    var failed: Boolean = false
  }

  final class StageAgg(val id: Int) {
    var tasks = 0; var failed = 0; var speculative = 0
    var cpuNs = 0L; var gcMs = 0L; var schedDelayMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L
    var inputBytes = 0L; var inputRecords = 0L
    var outputBytes = 0L; var outputRecords = 0L; var resultBytes = 0L
    val durationsMs = mutable.ArrayBuffer.empty[Long]
    /** Slowest task over the median task, the straggler measure of one stage. */
    def skew: Option[Double] =
      if (durationsMs.length < 2) None
      else {
        val med = Stats.median(durationsMs.map(_.toDouble).toSeq)
        Some(durationsMs.max.toDouble / math.max(1.0, med))
      }
  }

  /** How a job's parent was found. */
  sealed trait Attribution
  case object ByTag extends Attribution
  case object ByTime extends Attribution
  case object Unattributed extends Attribution

  final case class JobRec(id: Int, callSite: String, startNs: Long, endNs: Long, parent: Int,
      how: Attribution, failed: Boolean, stagesRun: Int, tasks: Int, stageAggs: Vector[StageAgg]) {
    def isWrite: Boolean = stageAggs.exists(_.outputRecords > 0)
    def sum(f: StageAgg => Long): Long = stageAggs.iterator.map(f).sum
  }

  /** Parent of a job started at `t` whose submitting thread carried `tag`:
    * the tagged span when it was open at `t`, else the innermost span open at
    * `t` when the open spans form one nested chain. */
  def resolveParent(spans: IndexedSeq[Span], tag: Option[Int], t: Long): (Int, Attribution) =
    tag.filter(i => i >= 0 && i < spans.length && spans(i).contains(t, TagSlackNs)) match {
      case Some(i) => (i, ByTag)
      case None =>
        val open = spans.filter(_.contains(t))
        val innermost = open.filter(s => !open.exists(_.parent == s.id))
        if (innermost.length == 1) (innermost.head.id, ByTime) else (-1, Unattributed)
    }

  final case class Result(spans: Vector[Span], jobs: Vector[JobRec]) {
    /** Jobs whose nearest ancestor-or-self span satisfies `p`. */
    def jobsUnder(p: Span => Boolean): Vector[JobRec] =
      jobs.filter(j => ancestors(j.parent).exists(p))

    def ancestors(id: Int): List[Span] =
      if (id < 0) Nil else spans(id) :: ancestors(spans(id).parent)

    def reparented: Int = jobs.count(_.how == ByTime)
    def unattributed: Int = jobs.count(_.how == Unattributed)

    /** Self time of span `s`: its length minus what its child spans and its
      * own jobs cover. */
    def selfNs(s: Span): Long = {
      val kids = spans.filter(_.parent == s.id).map(c => (c.startNs, c.end)) ++
        jobs.filter(_.parent == s.id).map(j => (j.startNs, j.endNs))
      Stats.selfTime(s.startNs, s.end, kids)
    }

    /** Spans and jobs as JSON lines, for offline inspection of a traced run. */
    def write(path: java.nio.file.Path): Unit = {
      val lines = spans.map { s =>
        JObject("kind" -> JString("span"), "id" -> JInt(s.id), "name" -> JString(s.name),
          "layer" -> JString(s.layer), "parent" -> JInt(s.parent), "thread" -> JString(s.thread),
          "start_ns" -> JLong(s.startNs), "end_ns" -> JLong(s.end), "self_ns" -> JLong(selfNs(s)))
      } ++ jobs.map { j =>
        JObject("kind" -> JString("job"), "id" -> JInt(j.id), "call_site" -> JString(j.callSite),
          "parent" -> JInt(j.parent), "attribution" -> JString(j.how.toString),
          "start_ns" -> JLong(j.startNs), "end_ns" -> JLong(j.endNs), "write" -> JBool(j.isWrite),
          "failed" -> JBool(j.failed), "stages" -> JInt(j.stagesRun), "tasks" -> JInt(j.tasks),
          "cpu_ns" -> JLong(j.sum(_.cpuNs)), "shuffle_write" -> JLong(j.sum(_.shuffleWrite)),
          "shuffle_read" -> JLong(j.sum(_.shuffleRead)), "input_bytes" -> JLong(j.sum(_.inputBytes)),
          "output_bytes" -> JLong(j.sum(_.outputBytes)), "result_bytes" -> JLong(j.sum(_.resultBytes)),
          "gc_ms" -> JLong(j.sum(_.gcMs)), "sched_delay_ms" -> JLong(j.sum(_.schedDelayMs)),
          "failed_tasks" -> JLong(j.sum(_.failed.toLong)),
          "speculative_tasks" -> JLong(j.sum(_.speculative.toLong)))
      }.map(Report.line)
      java.nio.file.Files.createDirectories(path.getParent)
      java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
  }

  /** Counter totals over a set of jobs. */
  final case class Counters(jobs: Int, stages: Int, tasks: Int, cpuS: Double, shuffleWrite: Long,
      shuffleRead: Long, inputBytes: Long, inputRecords: Long, outputBytes: Long, resultBytes: Long,
      gcMs: Long, schedDelayMsPerTask: Double, failedTasks: Long, speculativeTasks: Long,
      skew: Double)

  def counters(js: Seq[JobRec]): Counters = {
    val aggs = js.flatMap(_.stageAggs)
    val tasks = aggs.map(_.tasks).sum
    // straggler ratio weighted by stage task time: the stages that cost the
    // most decide how much a slow task holds the whole stage back
    val weighted = aggs.flatMap(a => a.skew.map(r => (r, a.durationsMs.sum.toDouble)))
    val wsum = weighted.map(_._2).sum
    Counters(js.length, aggs.count(_.tasks > 0), tasks, aggs.map(_.cpuNs).sum / 1e9,
      aggs.map(_.shuffleWrite).sum, aggs.map(_.shuffleRead).sum, aggs.map(_.inputBytes).sum,
      aggs.map(_.inputRecords).sum, aggs.map(_.outputBytes).sum, aggs.map(_.resultBytes).sum,
      aggs.map(_.gcMs).sum, if (tasks == 0) 0.0 else aggs.map(_.schedDelayMs).sum.toDouble / tasks,
      aggs.map(_.failed.toLong).sum, aggs.map(_.speculative.toLong).sum,
      if (wsum <= 0) 1.0 else weighted.map { case (r, w) => r * w }.sum / wsum)
  }
}
