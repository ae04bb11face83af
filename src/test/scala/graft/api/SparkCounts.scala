package graft.api

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated, SparkListenerEvent,
  SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Spark work a block of driver code starts, seen by a listener. */
object SparkCounts {

  private val Sentinel = "graft.spec.sentinel"

  /** `f`'s result with the Spark jobs and broadcast blocks it started. */
  def counted[T](spark: SparkSession)(f: => T): (T, Int, Int) = {
    val w = watched(spark)(f)
    (w.out.get, w.jobs, w.broadcasts)
  }

  /** What [[watched]] saw: `f`'s outcome, the Spark jobs, broadcast blocks
    * and SQL executions it started, and the jobs among them still running
    * when it returned or threw (id -> the job's `spark.job.tags`, "" when
    * untagged). */
  final case class Watched[T](out: Try[T], jobs: Int, broadcasts: Int, sqlExecutions: Int,
      running: Map[Int, String])

  /** `f` watched by a listener up to a sentinel job run after `f` (listener
    * events arrive in order, but after the action returns; a job Spark had
    * ended, or had been asked to cancel, before `f` returned posts its end
    * before the sentinel's start). */
  def watched[T](spark: SparkSession)(f: => T): Watched[T] = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val broadcasts = new AtomicInteger
    val sqlExecutions = new AtomicInteger
    val running = new ConcurrentHashMap[Int, String]()
    @volatile var sentinel = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(Sentinel) != null)) sentinel = true
        else if (!sentinel) {
          jobs.incrementAndGet()
          running.put(e.jobId, Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags"))).getOrElse(""))
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (!sentinel) running.remove(e.jobId)
      // a removal (the context cleaner dropping an earlier broadcast) is
      // reported with an invalid storage level; count stores only
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
        if (!sentinel && e.blockUpdatedInfo.blockId.isBroadcast && e.blockUpdatedInfo.storageLevel.isValid)
          broadcasts.incrementAndGet()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart if !sentinel => sqlExecutions.incrementAndGet(): Unit
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    val out = try {
      val r = Try(f)
      sc.setLocalProperty(Sentinel, "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(Sentinel, null)
      val deadline = System.nanoTime() + 10000000000L
      while (!sentinel && System.nanoTime() < deadline) Thread.sleep(5)
      r
    } finally sc.removeSparkListener(listener)
    assert(sentinel, "listener never saw the sentinel job")
    Watched(out, jobs.get, broadcasts.get, sqlExecutions.get, running.asScala.toMap)
  }
}
