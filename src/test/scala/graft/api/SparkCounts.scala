package graft.api

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Spark work a block of driver code starts, seen by a listener. */
object SparkCounts {

  private val Sentinel = "graft.spec.sentinel"

  /** `f`'s result with the Spark jobs and broadcast blocks it started, counted
    * by a listener up to a sentinel job (listener events arrive in order,
    * but after the action returns). */
  def counted[T](spark: SparkSession)(f: => T): (T, Int, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val broadcasts = new AtomicInteger
    @volatile var sentinel = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(Sentinel) != null)) sentinel = true
        else if (!sentinel) jobs.incrementAndGet()
      // a removal (the context cleaner dropping an earlier broadcast) is
      // reported with an invalid storage level; count stores only
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
        if (!sentinel && e.blockUpdatedInfo.blockId.isBroadcast && e.blockUpdatedInfo.storageLevel.isValid)
          broadcasts.incrementAndGet()
    }
    sc.addSparkListener(listener)
    val out = try {
      val r = f
      sc.setLocalProperty(Sentinel, "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(Sentinel, null)
      val deadline = System.nanoTime() + 10000000000L
      while (!sentinel && System.nanoTime() < deadline) Thread.sleep(5)
      r
    } finally sc.removeSparkListener(listener)
    assert(sentinel, "listener never saw the sentinel job")
    (out, jobs.get, broadcasts.get)
  }
}
