package graft.engine

import java.nio.file.Files

import graft.fixtures.SiteGen
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Row conservation over committed state: every count a manifest or a job's
  * progress reports equals the rows the committed parquet holds. Per
  * generation, the results and the fresh frontier rows match the manifest,
  * and the next frontier is the active pending rows minus the terminal
  * results plus the fresh rows. Per job, the enqueue, outcome and credit
  * counters match the seeds, fresh rows, seen set and results, and the seq
  * numbers run without a gap. */
class RowConservationSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("row-conservation-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"row-conservation-$tag").toString

  Seq("default" -> CrawlEngine.Settings(), "wide" -> CrawlEngine.Settings(wideMinRows = 0L))
    .foreach { case (gear, st) =>
      test(s"$gear gears: committed counts equal committed rows in every generation and for every job") {
        val s = spark; import s.implicits._
        // host0's p0 links to a page the corpus lacks, so it is retried
        val deadHtml = """<html><head><title>D</title></head><body><a href="/missing.html">dead</a><a href="/p1.html">ok</a></body></html>"""
        val pages = s.createDataset(SiteGen.rows(42L, 80, 4).toSeq.map {
          case r if r.url.endsWith("/p0.html") && r.url.contains("host0") =>
            r.copy(html = deadHtml.getBytes("UTF-8"))
          case r => r
        }).toDF()
        val jobs = Seq(
          CrawlConfig("jretry", Seq("https://host0.example.test/p0.html"), limit = 50, maxAttempts = 3),
          CrawlConfig("jlimit", Seq("https://host1.example.test/p0.html"), limit = 7))
        val dir = tmpDir(gear)
        val engine = new CrawlEngine(s, pages, dir, Map.empty, st)
        engine.run(jobs)
        val ck = new Checkpoint(dir)
        val last = ck.lastCommitted.map(_.generation).getOrElse(fail("nothing committed"))

        def frontier(k: Int) = s.read.parquet(ck.frontierPath(k)).as[CrawlEngine.FrontierRowF].collect().toSeq
        def results(k: Int) = s.read.parquet(ck.resultsPath(k)).as[CrawlEngine.ExtractedRow].collect().toSeq
        val fronts = (0 to last + 1).map(frontier)
        val res = (0 to last).map(results)
        assert(res.flatten.exists(r => !r.success && !r.terminal), "no retried page")
        assert(res.flatten.exists(r => r.url.endsWith("/missing.html") && r.terminal && !r.success))

        (0 to last).foreach { k =>
          val m = ck.readManifest(k).get
          val activeJobs = jobs.map(_.jobId).filter(j =>
            k == 0 || !ck.readManifest(k - 1).get.progress.exists(p => p.jobId == j && p.finalized))
          assert(m.fetchedPages == res(k).size, s"gen $k fetchedPages")
          assert(m.freshCount == fronts(k + 1).count(_.__fresh), s"gen $k freshCount")
          assert(fronts(k + 1).size == fronts(k).count(r => activeJobs.contains(r.jobId)) -
            res(k).count(_.terminal) + m.freshCount, s"frontier/gen=${k + 1} rows")
        }

        val m = ck.readManifest(last).get
        val seen = engine.seenSet().as[(String, String)].collect().toSeq
        jobs.foreach { c =>
          val j = c.jobId
          val p = m.progress.find(_.jobId == j).get
          val rs = res.flatten.filter(_.jobId == j)
          val seeds = fronts(0).count(_.jobId == j)
          val fresh = fronts.drop(1).map(_.count(r => r.jobId == j && r.__fresh)).sum
          assert(seeds + fresh == p.enqueued, s"$j enqueued")
          assert(p.enqueued == seen.count(_._1 == j), s"$j seen rows")
          assert(p.done == rs.count(_.terminal), s"$j done")
          assert(p.succeeded == rs.count(_.success), s"$j succeeded")
          assert(p.failed == rs.count(r => r.terminal && !r.success), s"$j failed")
          assert(p.creditsUsed == rs.map(_.cost).sum, s"$j creditsUsed")
          assert(m.seqOffsets(j) == rs.size, s"$j seqOffsets")
          assert(rs.map(_.seq).sorted == rs.indices.map(_.toLong), s"$j seq gap")
        }
        assert(m.progress.find(_.jobId == "jlimit").get.finalizeReason == "limit-reached")
      }
    }
}
