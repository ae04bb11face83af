package perfbench

import org.scalatest.funsuite.AnyFunSuite

class CrawlRunSpec extends AnyFunSuite {

  private def run(commits: (Int, Long)*) =
    CrawlWorkload.CrawlRun(t0 = 100, t1 = 2000, cpuNs = 0, pages = 0, generations = 0, commits, failed = 0)

  test("commit intervals run from one observed commit to the next, not from the call") {
    val r = run((0, 400L), (1, 1000L), (2, 1500L))
    assert(r.bounds == Seq((400L, 1000L), (1000L, 1500L)))
    assert(r.firstCommitMs.contains(300 / 1e6))
  }

  test("an interval across a generation the poller missed is not a commit interval") {
    val r = run((0, 400L), (2, 1000L), (3, 1500L))
    assert(r.bounds == Seq((1000L, 1500L)))
    assert(r.missedCommits == 1)
    assert(run().bounds.isEmpty && run().firstCommitMs.isEmpty)
  }
}
