package graft.api

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Extractor
import graft.engine.{CrawlConfig, CrawlEngine}
import graft.serp.{GoogleSerp, SerpRow, SerpTransforms}

/**
 * The user-facing API surface — the Spark-native analog of the reference's
 * three endpoints (`apps/api/src/routers/v1/index.ts:12-19`):
 *
 *   POST /v1/scrape  -> [[Graft.scrape]]   (§3.1: single-page sync)
 *   POST /v1/crawl   -> [[Graft.crawl]]    (§3.2: BSP frontier crawl)
 *   POST /v1/search  -> [[Graft.search]]   (§3.3: SERP + optional scrape fan-out)
 *
 * A reference user switches by replacing HTTP calls with these library
 * calls; job state (the reference's Redis/Postgres) is the returned
 * DataFrames + the engine's checkpoint manifests.
 */
object Graft {

  final case class ScrapeResult(
      url: String, status: Int, success: Boolean, title: String,
      markdown: String, text: String, htmlClean: String,
      metadata: Seq[Extractor.MetaEntry], links: Seq[String])

  /**
   * Scrape: fetch one url from the pages corpus and extract the requested
   * formats (ScrapeController.ts:11-116 without the queue round-trip). The
   * page is the corpus row whose url is the request url or its normalized
   * form.
   *
   * No Spark job runs when `pages` is a plain parquet scan: its optimized
   * plan is the bare relation of a `spark.read.parquet` of files with
   * top-level `url: string` and `html: binary` and no partition columns,
   * with no filter, projection or cache left on top. The driver then reads
   * the url column and the one html page that holds the match
   * ([[PointRead]]). Any other `pages`, two or more matching rows (the
   * scan's order picks one), or a file without those columns falls back to
   * a predicate-pushed `limit(1)` scan, which runs one or more Spark jobs.
   */
  def scrape(spark: SparkSession, pages: DataFrame, url: String,
      formats: Extractor.Formats = Extractor.Formats(),
      cleanOpts: graft.core.Cleaner.Options = graft.core.Cleaner.Options()): ScrapeResult = {
    val norm = graft.core.UrlOps.normalize(url)
    // point read: a driver-side parquet read when it can answer, else a
    // pushdown-friendly equality filter on the url column
    val row = PointRead.lookup(pages, norm, url).getOrElse(
      pages.filter(col("url") === norm || col("url") === url)
        .select(col("url"), col("html")).limit(1).collect().headOption)
    row match {
      case Some(r) =>
        val html = new String(r.getAs[Array[Byte]]("html"), java.nio.charset.StandardCharsets.UTF_8)
        val ex = Extractor.extract(url, html, formats, cleanOpts)
        ScrapeResult(url, 200, success = true, ex.title, ex.markdown.getOrElse(""),
          ex.text.getOrElse(""), ex.html.getOrElse(""), ex.metadata, ex.links)
      case None =>
        ScrapeResult(url, 404, success = false, "", "", "", "", Nil, Nil)
    }
  }

  /** Crawl: run the BSP engine; returns the canonical trace DataFrame.
    * (CrawlController.ts:15-88 + the whole Worker/Progress subsystem.) */
  def crawl(spark: SparkSession, pages: DataFrame, cfg: CrawlConfig, workDir: String,
      robots: Map[String, String] = Map.empty,
      settings: CrawlEngine.Settings = CrawlEngine.Settings()): (DataFrame, CrawlEngine) = {
    val engine = new CrawlEngine(spark, pages, workDir, robots, settings)
    engine.run(Seq(cfg))
    (engine.trace(), engine)
  }

  final case class SearchRequest(
      query: String,
      limit: Int = 10,
      offset: Int = 0,      // skipped results before the global limit (SearchController.ts:76-94)
      pages: Int = 1,       // SERP pages fanned out per query
      lang: Option[String] = None, // consumed by task planning (SERP request language)
      scrapeResults: Boolean = false)

  /**
   * Search: select the request's SERP pages, parse typed rows (F12), apply
   * offset + the global ordered limit across pages (W3,
   * SearchController.ts:76-94), and optionally enrich each result with
   * scraped page data (J5: SearchController.ts:184-201 — the Map-lookup merge
   * becomes an equi left join on url).
   *
   * The pages (a Column filter, so a parquet corpus keeps its pushdown) are
   * collected and parsed on the calling thread ([[SerpTransforms.parse]]):
   * a local (`createDataset`) corpus runs no Spark job, a file-backed one
   * its scan job. A stable sort by (page, position) keeps ties in scan
   * order; the window comes back as a local DataFrame with [[SerpRow]]'s
   * schema. A negative limit or offset throws. Enrichment extracts only the
   * corpus rows at result urls and orders the joined rows again.
   */
  def search(spark: SparkSession, serpPages: Dataset[SerpTransforms.SerpPage],
      req: SearchRequest, scrapeCorpus: Option[DataFrame] = None): DataFrame = {
    val results = localFrame(spark, searchRows(serpPages, req)._2)
    scrapeCorpus match {
      case Some(corpus) if req.scrapeResults =>
        val scraped = enrich(spark,
          corpus.join(results.select("url").distinct(), Seq("url"), "left_semi"))
        results.join(scraped, Seq("url"), "left")
          .orderBy(col("page"), col("position"))
      case _ => results
    }
  }

  /** A search's collected SERP pages and its result window (see [[search]]). */
  private def searchRows(serpPages: Dataset[SerpTransforms.SerpPage],
      req: SearchRequest): (Array[SerpTransforms.SerpPage], Seq[SerpRow]) = {
    require(req.limit >= 0 && req.offset >= 0, s"negative search limit or offset: $req")
    val slice = serpPages.filter(
      col("query") === req.query && col("page") >= 1 && col("page") <= req.pages).collect()
    val rows = slice.toSeq.flatMap(SerpTransforms.parse)
      .sortBy(r => (r.page, r.position)).drop(req.offset).take(req.limit)
    (slice, rows)
  }

  private lazy val serpSchema = Encoders.product[SerpRow].schema

  /** Rows with [[SerpRow]]'s schema, several times cheaper than `createDataset`. */
  private def localFrame(spark: SparkSession, rows: Seq[SerpRow]): DataFrame =
    spark.createDataFrame(rows.map(r => Row.fromSeq(r.productIterator.map {
      case o: Option[_] => o.getOrElse(null)
      case v => v
    }.toSeq)).asJava, serpSchema)

  /** Task planning for a [[SearchRequest]]: one Google task URL per page,
    * with the request's lang/offset/limit plumbed into the URL builder
    * (F11; this is where `lang` acts — the SERP corpus rows carry no
    * language). */
  def planSearch(spark: SparkSession, req: SearchRequest): DataFrame = {
    import spark.implicits._
    (1 to math.max(1, req.pages)).map { p =>
      val o = GoogleSerp.SearchOptions(query = req.query, page = p, offset = req.offset,
        limit = req.limit, lang = req.lang)
      (req.query, p, GoogleSerp.buildSearchUrl(o))
    }.toDF("query", "page", "task_url")
  }

  /** Extraction projection of a pages corpus keyed by url — the join target
    * for search enrichment (one kernel pass, reusable). */
  def enrich(spark: SparkSession, pages: DataFrame): DataFrame = {
    import spark.implicits._
    pages.select(col("url"), col("html")).as[(String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (url, html) =>
          val ex = Extractor.extract(url, new String(html, java.nio.charset.StandardCharsets.UTF_8))
          (url, ex.title, ex.markdown.getOrElse(""), ex.text.getOrElse(""))
        }
      }
      .toDF("url", "scraped_title", "scraped_markdown", "scraped_text")
  }

  final case class SearchTotals(
      query: String, totalTasks: Long, completedTasks: Long,
      failedTasks: Long, resultCount: Long, creditsUsed: Long)

  /**
   * A5 search task totals + credits (SearchController.ts:169-231): a
   * page-task succeeds when the SERP corpus holds its (query, page) payload;
   * with scrapeResults one scrape task per returned result, completed when
   * the page corpus contains the url; credits = pages + completed scrapes
   * (json-extraction surcharges are an LLM non-goal; defaultPrice env = 0).
   */
  def searchTotals(spark: SparkSession, serpPages: Dataset[SerpTransforms.SerpPage],
      req: SearchRequest, scrapeCorpus: Option[DataFrame] = None): SearchTotals = {
    val expectedPages = math.max(1, req.pages).toLong
    val (slice, rows) = searchRows(serpPages, req)
    val successPages = slice.map(_.page).distinct.length.toLong
    val failedPages = expectedPages - successPages
    val resultCount = rows.length.toLong
    val (scrapeTotal, scrapeDone) = scrapeCorpus match {
      case Some(corpus) if req.scrapeResults =>
        val done = localFrame(spark, rows)
          .join(corpus.select(col("url")), Seq("url"), "left_semi").count()
        (resultCount, done)
      case _ => (0L, 0L)
    }
    SearchTotals(req.query,
      totalTasks = expectedPages + scrapeTotal,
      completedTasks = successPages + scrapeDone,
      failedTasks = failedPages + (scrapeTotal - scrapeDone),
      resultCount = resultCount,
      creditsUsed = expectedPages + scrapeDone)
  }

  /** Results pagination (W4: CrawlController.ts:228-239 skip/limit over
    * job_results, default page size 100): ordered by canonical seq. */
  def crawlResults(trace: DataFrame, offset: Int = 0, limit: Int = 100): DataFrame =
    trace.orderBy(col("jobId"), col("seq")).offset(offset).limit(limit)

  /** Cancel a crawl job (DELETE /v1/crawl/:jobId, CrawlController.ts:279-305):
    * drops a persistent marker the engine honors at its next superstep
    * barrier — the job finalizes with reason "cancelled" and its pending
    * frontier is never scheduled again (a resume honors the marker too). */
  def cancel(workDir: String, jobId: String): Unit =
    new graft.engine.Checkpoint(workDir).requestCancel(jobId)

  final case class JobStatus(
      jobId: String, generation: Int, enqueued: Long, done: Long,
      succeeded: Long, failed: Long, creditsUsed: Long,
      finalized: Boolean, finalizeReason: String)

  /** Job status (GET /v1/crawl/:jobId/status, CrawlController.ts:307-332):
    * reads the last committed manifest — no engine instance needed, works
    * from any process that sees the workDir. */
  def status(workDir: String, jobId: String): Option[JobStatus] = {
    val ckpt = new graft.engine.Checkpoint(workDir)
    ckpt.lastCommitted.flatMap { m =>
      m.progress.find(_.jobId == jobId).map { p =>
        JobStatus(p.jobId, m.generation, p.enqueued, p.done, p.succeeded,
          p.failed, p.creditsUsed, p.finalized, p.finalizeReason)
      }
    }
  }

  /** Task-URL planning for live deployments (F11/W3): one row per
    * (query, page) with the engine-specific request URL. */
  def planSearch(spark: SparkSession, queries: Seq[GoogleSerp.SearchOptions]): DataFrame = {
    import spark.implicits._
    queries.flatMap { o =>
      val perPage = math.min(math.max(o.limit, 1), 100)
      val effectivePages = math.max(1, math.ceil(o.limit.toDouble / perPage).toInt)
      (1 to effectivePages).map { p =>
        val opts = o.copy(page = p)
        (o.query, p, GoogleSerp.buildSearchUrl(opts))
      }
    }.toDF("query", "page", "task_url")
  }
}
