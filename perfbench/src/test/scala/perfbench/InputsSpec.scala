package perfbench

import org.scalatest.funsuite.AnyFunSuite
import graft.fixtures.SiteGen

class InputsSpec extends AnyFunSuite {

  private val wide = ApiMixWorkload.Corpus
  private val deep = CrawlWorkload.DeepSite

  test("generators repeat for a fixed seed") {
    assert(wide.html(3L, 17) == wide.html(3L, 17))
    assert(deep.html(3L, 5) == deep.html(3L, 5))
    assert(Inputs.curationText(3L, 12) == Inputs.curationText(3L, 12))
    assert(Inputs.Serp(3L, 4, 2, 8).pages == Inputs.Serp(3L, 4, 2, 8).pages)
  }

  test("the seed changes every generated input") {
    assert(wide.html(3L, 17) != wide.html(4L, 17))
    assert(deep.html(3L, 5) != deep.html(4L, 5))
    assert(Inputs.curationText(3L, 12) != Inputs.curationText(4L, 12))
    assert(Inputs.Serp(3L, 4, 2, 8).pages.map(_.payload) != Inputs.Serp(4L, 4, 2, 8).pages.map(_.payload))
    // while the shape the workloads are sized by stays put
    assert(deep.reachable(3L, Seq(SiteGen.pageUrl(0, 0))) == deep.reachable(4L, Seq(SiteGen.pageUrl(0, 0))))
  }

  test("href resolution covers every form the generators emit") {
    assert(Inputs.resolve(2, "p5.html") == ((2, 5)))
    assert(Inputs.resolve(2, "/p5.html") == ((2, 5)))
    assert(Inputs.resolve(2, "./p5.html") == ((2, 5)))
    assert(Inputs.resolve(2, "https:/host2.example.test/p5.html") == ((2, 5)))
    assert(Inputs.resolve(2, "https://host7.example.test/p0.html") == ((7, 0)))
  }

  test("the reachable set follows the link rules: a wide tree reaches every page") {
    val w = Inputs.Wide(hosts = 4, perHost = 20)
    assert(w.reachable(w.seeds).size == 80)
    assert(w.reachable(Seq(SiteGen.pageUrl(0, 0))).contains(SiteGen.pageUrl(0, 19)))
  }

  test("curation groups: member 1 repeats the leader, members 2-4 extend it") {
    val leader = Inputs.curationText(9L, 10)
    assert(Inputs.curationText(9L, 11) == leader)
    val near = Inputs.curationText(9L, 12)
    assert(near.startsWith(leader + " ") && near.split(' ').length == 62)
    assert(Inputs.curationText(9L, 15) != leader)
    assert(Seq(10L, 11L, 12L, 13L, 14L).map(Inputs.expectedStage) == Seq("kept", "dup", "neardup", "neardup", "neardup"))
  }

  test("SERP closed forms match the parsers on the generated pages") {
    val s = Inputs.Serp(5L, queries = 4, pagesPerQuery = 2, googleBlocks = 8)
    for (j <- 0 until 4) {
      val parsed = (1 to 2).flatMap { p =>
        if (s.engine(j) == "google") graft.serp.GoogleSerp.parse(s.query(j), p, s.payload(j, p))
        else graft.serp.SearxngSerp.parse(s.query(j), p, s.payload(j, p))
      }
      assert(parsed.take(10) == s.expected(j, 10))
    }
  }
}
