package perfbench

import java.util.concurrent.{Callable, Executors}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class TracerSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]").appName("TracerSpec")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** A closed span; times in milliseconds, as the listener resolves them. */
  private def span(id: Int, parent: Int, startMs: Long, endMs: Long): Tracer.Span = {
    val s = Tracer.Span(id, s"s$id", "test", parent, "t", startMs * ms)
    s.endNs = endMs * ms
    s
  }
  private val ms = 1000000L

  test("parent resolution: an open tagged span wins; a stale tag falls back to the open chain") {
    val spans = Vector(span(0, -1, 0, 100), span(1, 0, 10, 50), span(2, -1, 200, 300))
    assert(Tracer.resolveParent(spans, Some(1), 20 * ms) == ((1, Tracer.ByTag)))
    // tag names span 0, closed at 100: the job at 250 belongs to span 2
    assert(Tracer.resolveParent(spans, Some(0), 250 * ms) == ((2, Tracer.ByTime)))
    // no tag at all: innermost open span
    assert(Tracer.resolveParent(spans, None, 30 * ms) == ((1, Tracer.ByTime)))
    assert(Tracer.resolveParent(spans, None, 150 * ms)._2 == Tracer.Unattributed)
    // two unrelated spans open at once (two client threads): time cannot decide
    val concurrent = Vector(span(0, -1, 0, 100), span(1, -1, 0, 100))
    assert(Tracer.resolveParent(concurrent, Some(5), 50 * ms)._2 == Tracer.Unattributed)
  }

  test("a job submitted from a thread created during an earlier span gets the current span") {
    val sc = spark.sparkContext
    val tracer = new Tracer(sc)
    // like CrawlEngine's results writer: one long-lived thread, created by
    // the first call, that keeps a frozen copy of its creator's properties
    val pool = Executors.newSingleThreadExecutor()
    def onPool(): Long = pool.submit(new Callable[Long] {
      def call(): Long = sc.parallelize(1 to 10, 2).count()
    }).get()
    try {
      tracer.span("first", "test") { sc.parallelize(1 to 10, 2).count(); onPool() }
      tracer.span("second", "test") { onPool(); sc.parallelize(1 to 10, 2).count() }
    } finally pool.shutdown()
    tracer.drain()
    val res = tracer.finish()
    val byName = res.spans.map(s => s.name -> s.id).toMap
    assert(res.jobs.length == 4)
    assert(res.jobs.count(_.parent == byName("first")) == 2)
    assert(res.jobs.count(_.parent == byName("second")) == 2)
    // the pool thread's job in the second span carried the first span's tag
    assert(res.reparented == 1 && res.unattributed == 0)
    assert(res.jobs.forall(j => j.tasks == 2 && j.stagesRun == 1 && j.callSite.contains("TracerSpec")))
    res.spans.foreach(s => assert(res.selfNs(s) >= 0 && res.selfNs(s) <= s.end - s.startNs))
  }
}
