package perfbench

import org.scalatest.funsuite.AnyFunSuite

class OpenLoopSpec extends AnyFunSuite {

  private val ms = 1000000L

  test("latency runs from the due time, so a stall is charged to the requests queued behind it") {
    val due = IndexedSeq(0L, 20 * ms, 40 * ms, 60 * ms)
    val t = OpenLoop.run(due, clients = 1, serve = i => if (i == 0) Thread.sleep(200))
    assert(t.map(_.index) == due.indices)
    // request 1 was due at 20 ms but could only start after request 0 ended near 200 ms
    assert(t(1).latencyNs >= 170 * ms)
    assert(t(3).latencyNs >= 130 * ms)
    // the wait sits in the queue, not in the generator, which sent on time
    assert(t(1).queueNs >= 150 * ms)
    assert(t.forall(_.generatorLateNs < 50 * ms))
    // with a client per request nothing waits behind the stall
    val free = OpenLoop.run(due, clients = 4, serve = i => if (i == 0) Thread.sleep(200))
    assert(free(1).latencyNs < 100 * ms)
  }

  test("no request starts before it is due") {
    val due = IndexedSeq(0L, 30 * ms, 60 * ms)
    val t = OpenLoop.run(due, clients = 2, serve = _ => ())
    assert(t.forall(x => x.startNs >= x.dueNs))
  }

  test("the schedule is fixed by the seed and moves with it") {
    val a = OpenLoop.schedule(7L, 50, 4.0)
    assert(a == OpenLoop.schedule(7L, 50, 4.0))
    assert(a != OpenLoop.schedule(8L, 50, 4.0))
    // each due time stays inside its slot, so the offered rate holds
    val gap = 1e9 / 4.0
    a.zipWithIndex.foreach { case (d, i) => assert(d >= i * gap && d <= (i + 1) * gap) }
  }
}
