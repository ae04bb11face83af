package graft.api

import java.io.File
import java.nio.file.Files
import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.{AnalysisException, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.fixtures.SerpGen
import graft.serp.SerpTransforms
import graft.serp.SerpTransforms.SerpPage

/** [[Graft.search]] parses the request's SERP pages on the calling thread.
  * It must return the rows and schema of the distributed plan it replaced
  * (kept here as the reference), run no Spark job over a local SERP corpus,
  * and enrich exactly as that plan did. */
class SearchDriverSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val root = Files.createTempDirectory("search-driver").toFile

  override def afterAll(): Unit = {
    spark.stop()
    def rm(f: File): Unit = { Option(f.listFiles).foreach(_.foreach(rm)); f.delete() }
    rm(root)
  }

  /** Every engine, a page 0 and an unknown engine; "mixed" holds three
    * engines stored out of page order; "tie" stores (tie, 1) twice, so
    * (page, position) keys repeat. */
  private val serp = Seq(
    SerpPage("google", "g", 0, SerpGen.googleHtml(6L, 10)),
    SerpPage("google", "g", 1, SerpGen.googleHtml(7L, 10)),
    SerpPage("google", "g", 2, SerpGen.googleHtml(8L, 10)),
    SerpPage("google", "g", 3, SerpGen.googleHtml(9L, 10)),
    SerpPage("searxng", "s", 1, SerpGen.closedFormSearxngJson(1L)),
    SerpPage("searxng", "s", 2, SerpGen.closedFormSearxngJson(2L)),
    SerpPage("ac", "a", 1, SerpGen.closedFormAcJson(2L)),
    SerpPage("ac-engine", "a", 2, SerpGen.closedFormAcJson(3L)),
    SerpPage("bing", "u", 1, SerpGen.googleHtml(10L, 10)),
    SerpPage("ac", "mixed", 3, SerpGen.closedFormAcJson(4L)),
    SerpPage("google", "mixed", 1, SerpGen.closedFormGoogleHtml(5L, 8)),
    SerpPage("searxng", "mixed", 2, SerpGen.closedFormSearxngJson(6L)),
    SerpPage("google", "tie", 1, SerpGen.googleHtml(11L, 6)),
    SerpPage("google", "tie", 2, SerpGen.googleHtml(12L, 6)),
    SerpPage("google", "tie", 1, SerpGen.googleHtml(13L, 6)))

  private lazy val local: Dataset[SerpPage] = {
    val s = spark; import s.implicits._
    s.createDataset(serp)
  }

  private lazy val parquet: Dataset[SerpPage] = {
    val s = spark; import s.implicits._
    val path = new File(root, "serp").getPath
    local.repartition(3).write.parquet(path)
    s.read.parquet(path).as[SerpPage]
  }

  private def corpora = Seq("createDataset" -> local, "parquet" -> parquet)

  /** The distributed plan `Graft.search` ran before it parsed on the driver. */
  private def reference(corpus: Dataset[SerpPage], req: Graft.SearchRequest): DataFrame =
    SerpTransforms.parseAll(spark, slice(corpus, req)).toDF()
      .orderBy(col("page"), col("position")).offset(req.offset).limit(req.limit)

  private def slice(corpus: Dataset[SerpPage], req: Graft.SearchRequest) =
    corpus.filter(col("query") === req.query && col("page") >= 1 && col("page") <= req.pages)

  private def key(r: Row) = (r.getAs[Int]("page"), r.getAs[Int]("position"))
  private def multiset(rows: Seq[Row]) = rows.groupBy(identity).view.mapValues(_.size).toMap
  private def nonDecreasing(rows: Seq[Row]) = rows.map(key) == rows.map(key).sorted

  /** (limit, offset, pages): a plain window, an offset into page 2, an
    * offset past the end, limit 0, and more pages than the corpus holds. */
  private val windows = Seq((10, 0, 2), (5, 3, 3), (4, 100, 3), (0, 0, 2), (100, 0, 9))

  test("every engine, window and corpus variant: the reference's rows and schema") {
    for ((variant, corpus) <- corpora; q <- Seq("g", "s", "a", "u", "mixed", "none");
         (limit, offset, pages) <- windows) {
      val req = Graft.SearchRequest(q, limit = limit, offset = offset, pages = pages)
      val got = Graft.search(spark, corpus, req)
      val want = reference(corpus, req)
      val clue = s"$variant $req"
      assert(got.schema == want.schema, clue)
      assert(got.collect().toSeq == want.collect().toSeq, clue)
      if (Set("u", "none")(q) || offset == 100 || limit == 0) assert(got.isEmpty, clue)
    }
    val all = Graft.search(spark, local, Graft.SearchRequest("mixed", limit = 100, pages = 3)).collect()
    assert(all.map(_.getAs[String]("category")).toSet == Set("web", "images", "news"))
    assert(all.map(_.getAs[Int]("page")).distinct.toSeq == Seq(1, 2, 3))
  }

  test("repeated (page, position) keys: the reference's rows, ties in the slice's scan order") {
    for ((variant, corpus) <- corpora; (limit, offset) <- Seq((100, 0), (5, 0), (3, 1))) {
      val req = Graft.SearchRequest("tie", limit = limit, offset = offset, pages = 2)
      val got = Graft.search(spark, corpus, req).collect().toSeq
      val want = reference(corpus, req).collect().toSeq
      val clue = s"$variant $req"
      assert(nonDecreasing(got), clue)
      assert(got.map(key) == want.map(key), clue)
      if (limit == 100) assert(multiset(got) == multiset(want), clue)
      else {
        val full = reference(corpus, req.copy(limit = 100, offset = 0)).collect().toSet
        assert(got.forall(full), clue)
      }
    }
    // the local corpus scans (tie, 1) from seed 11 before seed 13
    val rows = Graft.search(spark, local, Graft.SearchRequest("tie", limit = 100, pages = 1)).collect()
    val firstUrls = SerpTransforms.parse(serp(12)).map(_.url)
    val secondUrls = SerpTransforms.parse(serp(14)).map(_.url)
    assert(firstUrls.nonEmpty && firstUrls.length == secondUrls.length)
    assert(rows.map(_.getAs[String]("url")).toSeq == firstUrls.zip(secondUrls).flatMap { case (a, b) => Seq(a, b) })
  }

  test("a negative limit or offset throws, as the reference's analysis does") {
    for (req <- Seq(Graft.SearchRequest("g", limit = -1), Graft.SearchRequest("g", offset = -1))) {
      intercept[AnalysisException](reference(local, req))
      intercept[IllegalArgumentException](Graft.search(spark, local, req))
      intercept[IllegalArgumentException](Graft.searchTotals(spark, local, req))
    }
  }

  test("a search and its totals over a local SERP corpus run no Spark job") {
    val req = Graft.SearchRequest("g", limit = 10, pages = 2)
    val want = reference(local, req).collect().toSeq
    val (rows, jobs, broadcasts) = SparkCounts.counted(spark)(Graft.search(spark, local, req).collect().toSeq)
    assert(rows == want && jobs == 0 && broadcasts == 0)
    val (totals, totalsJobs, _) = SparkCounts.counted(spark)(
      Graft.searchTotals(spark, local, req.copy(pages = 4)))
    assert(totals == Graft.SearchTotals("g", totalTasks = 4, completedTasks = 3, failedTasks = 1,
      resultCount = 10, creditsUsed = 4))
    assert(totalsJobs == 0)
    // a parquet corpus runs its one scan job
    val (_, parquetJobs, _) = SparkCounts.counted(spark)(Graft.search(spark, parquet, req).collect())
    assert(parquetJobs == 1)
  }

  test("four threads of 50 searches each get the single-threaded rows") {
    val reqs = for (q <- Seq("g", "s", "a", "mixed", "tie"); (l, o, p) <- windows)
      yield Graft.SearchRequest(q, limit = l, offset = o, pages = p)
    val want = reqs.map(r => Graft.search(spark, local, r).collect().toSeq)
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val runs = (0 until 4).map { t =>
        Future((0 until 50).forall { i =>
          val k = (i * 7 + t) % reqs.length
          Graft.search(spark, local, reqs(k)).collect().toSeq == want(k)
        })
      }
      assert(Await.result(Future.sequence(runs), 5.minutes).forall(identity))
    } finally pool.shutdown()
  }

  test("enrichment: a url stored twice, a null-url corpus row and a url past the limit") {
    // The parsers skip url-less items, so a null url can only sit in the corpus.
    val s = spark; import s.implicits._
    def item(k: Int) = s"""{"url":"https://r.test/$k","title":"T$k","description":"D$k","position":$k}"""
    val serpRows = s.createDataset(Seq(
      SerpPage("ac", "e", 1, (1 to 6).map(item).mkString("""{"results":[""", ",", "]}"))))
    def doc(t: String) = s"<html><head><title>$t</title></head><body><p>$t body</p></body></html>".getBytes("UTF-8")
    val pages = Seq(
      ("https://r.test/1", doc("first")), ("https://r.test/1", doc("second")),
      ("https://r.test/3", doc("third")), ("https://r.test/6", doc("past the limit")),
      (null, doc("no url")), ("https://other.test/", doc("other")))
    val localPages = pages.toDF("url", "html")
    val path = new File(root, "pages").getPath
    localPages.repartition(2).write.parquet(path)
    val req = Graft.SearchRequest("e", limit = 4, scrapeResults = true)

    for ((variant, corpus) <- Seq("local" -> localPages, "parquet" -> spark.read.parquet(path))) {
      val got = Graft.search(spark, serpRows, req, Some(corpus))
      val parsed = SerpTransforms.parseAll(spark, slice(serpRows, req))
      val want = reference(serpRows, req)
        .join(Graft.enrich(spark, corpus.join(parsed.select("url").distinct(), Seq("url"), "left_semi")),
          Seq("url"), "left")
        .orderBy(col("page"), col("position"))
      val rows = got.collect().toSeq
      assert(got.schema == want.schema, variant)
      assert(multiset(rows) == multiset(want.collect().toSeq), variant)
      assert(nonDecreasing(rows), variant)
      assert(rows.map(_.getAs[String]("url")) ==
        Seq("https://r.test/1", "https://r.test/1", "https://r.test/2", "https://r.test/3", "https://r.test/4"))
      assert(rows.map(_.getAs[String]("scraped_title")).toSet == Set("first", "second", null, "third"))

      val totals = Graft.searchTotals(spark, serpRows, req, Some(corpus))
      assert(totals == Graft.SearchTotals("e", totalTasks = 5, completedTasks = 3, failedTasks = 2,
        resultCount = 4, creditsUsed = 3), variant)
    }
  }
}
