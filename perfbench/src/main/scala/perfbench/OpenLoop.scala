package perfbench

import java.util.concurrent.{Executors, LinkedBlockingQueue, TimeUnit}

/**
 * Open-loop load: requests are due on a fixed schedule whatever the system
 * does, and `clients` threads serve them in due order. Each latency is timed
 * from the request's due time, so a stall is charged to every request that
 * waited behind it, not only to the one that stalled.
 */
object OpenLoop {

  /** One request's timeline, in nanoseconds from the schedule's origin:
    * due, handed to the queue by the generator, picked up by a client, done. */
  final case class Timing(index: Int, dueNs: Long, sentNs: Long, startNs: Long, endNs: Long) {
    def latencyNs: Long = endNs - dueNs
    def generatorLateNs: Long = sentNs - dueNs
    def queueNs: Long = startNs - sentNs
  }

  /** Due times for `n` requests at `rate` per second: evenly spaced slots,
    * each moved by a seeded jitter of up to ±40% of the gap. */
  def schedule(seed: Long, n: Int, rate: Double): IndexedSeq[Long] = {
    val rnd = new scala.util.Random(seed)
    val gap = 1e9 / rate
    (0 until n).map(i => ((i + 0.5) * gap + (rnd.nextDouble() * 0.8 - 0.4) * gap).toLong)
  }

  /** Serve requests `0 until dueNs.length` through `serve`, each started no
    * earlier than its due time. Returns one timing per request, in index
    * order, once every request has finished. */
  def run(dueNs: IndexedSeq[Long], clients: Int, serve: Int => Unit,
      clock: () => Long = () => System.nanoTime()): IndexedSeq[Timing] = {
    val queue = new LinkedBlockingQueue[(Int, Long)]()
    val timings = new Array[Timing](dueNs.length)
    val pool = Executors.newFixedThreadPool(clients, r => {
      val t = new Thread(r, "perfbench-client"); t.setDaemon(true); t
    })
    val origin = clock()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    try {
      (0 until clients).foreach { _ =>
        pool.submit(new Runnable {
          def run(): Unit = {
            var next = queue.take()
            while (next._1 >= 0) {
              val (i, sent) = next
              val start = clock() - origin
              try serve(i) catch { case e: Throwable => errors.add(e) }
              timings(i) = Timing(i, dueNs(i), sent, start, clock() - origin)
              next = queue.take()
            }
          }
        })
      }
      dueNs.indices.foreach { i =>
        val wait = dueNs(i) - (clock() - origin)
        if (wait > 0) TimeUnit.NANOSECONDS.sleep(wait)
        queue.put((i, clock() - origin))
      }
      (0 until clients).foreach(_ => queue.put((-1, 0L)))
      pool.shutdown()
      pool.awaitTermination(10, TimeUnit.MINUTES)
    } finally pool.shutdownNow()
    if (!errors.isEmpty) throw errors.peek()
    timings.toIndexedSeq
  }
}
