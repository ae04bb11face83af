package perfbench

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.json4s.JInt
import graft.api.Graft
import graft.core.Extractor
import graft.serp.{SerpRow, SerpTransforms}

/**
 * `api-mix`: interactive traffic through the `Graft` facade, an open loop at
 * a fixed rate below saturation served by at most `nproc` client threads.
 * Seven of every eight requests are `Graft.scrape` point reads over a fixed
 * corpus of wide pages; the eighth is a `Graft.search` over Google-HTML or
 * SearXNG-JSON SERP pages. Request kinds sit at fixed slots so every seed
 * puts the same load shape on the program; the seed picks the jitter, the
 * pages and the queries. The shares are chosen, not measured: the only load
 * profile on record for the reference is scrape-only.
 *
 * After the open loop, searches with `scrapeResults=true` run one at a time,
 * one per [[ApiMixWorkload.NominalEnrichS]] seconds of window. They stay out
 * of the open loop because each one extracts the whole corpus before its
 * join and takes every core for over a second, so their unverified share
 * would set the scrape latencies around them. The
 * corpus has [[ApiMixWorkload.Corpus]] pages plus one page at every other
 * result url of the [[ApiMixWorkload.EnrichQueries]], so an enriched search
 * attaches a page to half its rows and leaves the other half empty.
 */
final class ApiMixWorkload extends Workload {
  import ApiMixWorkload._

  private var seed = 0L
  private var corpusPath: String = _
  private var serp: Inputs.Serp = _
  private var pages: DataFrame = _
  private var serpDs: Dataset[SerpTransforms.SerpPage] = _
  /** Corpus pages at SERP result urls: url -> index of the wide page whose HTML it holds. */
  private var resultPages: Map[String, Int] = Map.empty

  def generate(ctx: Ctx): Unit = {
    seed = ctx.seed
    corpusPath = ctx.dir("input-api-mix")
    serp = Inputs.Serp(seed, queries = 64, pagesPerQuery = 2, googleBlocks = 8)
    val extra = EnrichQueries.flatMap(j => serp.expected(j, Limit).map(_.url).zipWithIndex.collect {
      case (u, k) if k % 2 == 0 => u
    }).toVector
    resultPages = extra.zipWithIndex.toMap
    val s = seed
    val c = Corpus
    Inputs.writeCorpus(ctx.spark, c.pages + extra.length, corpusPath,
      i => if (i < c.pages) c.url(i) else extra((i - c.pages).toInt),
      i => c.html(s, if (i < c.pages) i else i - c.pages))
  }

  def setUp(ctx: Ctx): Unit = {
    import ctx.spark.implicits._
    pages = ctx.spark.read.parquet(corpusPath)
    serpDs = ctx.spark.createDataset(serp.pages)
  }

  /** The open loop's requests: a plain search in every eighth slot, scrapes elsewhere. */
  private def plan(rnd: scala.util.Random, n: Int): IndexedSeq[Req] =
    (0 until n).map { i =>
      if (i % 8 == 4) Search(rnd.nextInt(serp.queries), enrich = false)
      else Scrape(rnd.nextInt(Corpus.pages))
    }

  private def serve(ctx: Ctx, r: Req, tracer: Option[Tracer]): Any = r match {
    case Scrape(p) =>
      Workload.call(tracer, "Graft.scrape", "api")(Graft.scrape(ctx.spark, pages, Corpus.url(p.toLong)))
    case Search(j, e) =>
      val req = Graft.SearchRequest(serp.query(j), limit = Limit, pages = serp.pagesPerQuery, scrapeResults = e)
      Workload.call(tracer, if (e) "Graft.search+enrich" else "Graft.search", "api") {
        Graft.search(ctx.spark, serpDs, req, if (e) Some(pages) else None).collect()
      }
  }

  def warmUp(ctx: Ctx): Unit = {
    val reqs = (0 until 8).map(i => Scrape(i * 97 % Corpus.pages)) ++
      Seq(Search(0, enrich = false), Search(1, enrich = false), Search(2, enrich = true))
    reqs.foreach(r => check(r, serve(ctx, r, None)))
  }

  private def isEnriched(r: Req): Boolean = r match { case Search(_, e) => e; case _ => false }

  /** Checks one response against its closed form: (1 if wrong else 0, and
    * for a scrape the ms a direct `Extractor.extract` of the page took). */
  private def check(r: Req, out: Any): (Int, Double) = (r, out) match {
    case (Scrape(p), s: Graft.ScrapeResult) =>
      val html = Corpus.html(seed, p.toLong)
      val t0 = System.nanoTime()
      val want = Extractor.extract(s.url, html)
      val kernelMs = (System.nanoTime() - t0) / 1e6
      val ok = s.status == 200 && s.success && s.title == want.title &&
        s.markdown == want.markdown.getOrElse("") && s.text == want.text.getOrElse("") &&
        s.htmlClean == want.html.getOrElse("") && s.metadata == want.metadata && s.links == want.links
      (if (ok) 0 else 1, kernelMs)
    case (Search(j, e), rows: Array[Row]) =>
      val got = rows.toSeq.map(toSerpRow)
      val enrichOk = !e || rows.forall(r => scraped(r) == wantScraped(r.getAs[String]("url")))
      (if (got == serp.expected(j, Limit) && enrichOk) 0 else 1, 0.0)
    case _ => (1, 0.0)
  }

  /** The scraped page an enriched row carries: (title, markdown, text), or None. */
  private def scraped(r: Row): Option[(String, String, String)] =
    if (r.isNullAt(r.fieldIndex("scraped_title"))) None
    else Some((r.getAs[String]("scraped_title"), r.getAs[String]("scraped_markdown"),
      r.getAs[String]("scraped_text")))

  /** What enrichment must attach to a row with this url: the direct
    * extraction of the corpus page at that url, or nothing. */
  private def wantScraped(url: String): Option[(String, String, String)] =
    resultPages.get(url).map { k =>
      val ex = Extractor.extract(url, Corpus.html(seed, k.toLong))
      (ex.title, ex.markdown.getOrElse(""), ex.text.getOrElse(""))
    }

  def measure(ctx: Ctx, seconds: Double, tracer: Option[Tracer]): Outcome = {
    val n = math.max(8, math.round(Rate * seconds).toInt)
    val rnd = new scala.util.Random(seed ^ 0x5eed)
    val loop = plan(rnd, n)
    val enrichReqs = (1 to Workload.opsFor(seconds, NominalEnrichS)).map(_ =>
      Search(EnrichQueries(rnd.nextInt(EnrichQueries.length)), enrich = true))
    val reqs = loop ++ enrichReqs
    val due = OpenLoop.schedule(seed, n, Rate)
    val outs = new Array[Any](reqs.length)
    def attempt(i: Int): Unit = outs(i) = try serve(ctx, reqs(i), tracer) catch { case e: Exception => e }
    val cpu0 = Proc.cpuNs
    val timings = OpenLoop.run(due, ctx.nproc, attempt)
    val cpuNs = Proc.cpuNs - cpu0
    val enrichMs = enrichReqs.indices.map { k =>
      val t0 = System.nanoTime(); attempt(n + k); (System.nanoTime() - t0) / 1e6
    }
    val checked = reqs.indices.map(i => check(reqs(i), outs(i)))
    val bad = checked.map(_._1)
    val kernelMs = checked.map(_._2)
    def lat(p: Req => Boolean): Seq[Double] =
      loop.indices.filter(i => p(loop(i))).map(i => timings(i).latencyNs / 1e6)
    val all = Stats.summary(lat(_ => true))
    val scrape = Stats.summary(lat(_.isInstanceOf[Scrape]))
    val search = Stats.summary(lat(_.isInstanceOf[Search]))
    val enrich = Stats.summary(enrichMs)
    // requests per second of client service time: moves with what a request
    // costs, where the served rate would only read back the offered rate
    val serviceS = timings.map(t => t.endNs - t.startNs).sum / 1e9
    val perServiceS = n / serviceS
    val spanS = (timings.map(_.endNs).max - timings.map(_.dueNs).min) / 1e9
    val measured = Map(
      "items_per_s" -> Metric(perServiceS, "1/s"),
      "op_p50_ms" -> Metric(all.p50, "ms"),
      "cpu_ms_per_item" -> Metric(cpuNs / 1e6 / n, "ms"))
    val named = Seq(
      "scrape_ms" -> scrape.json, "search_ms" -> search.json, "search_enrich_ms" -> enrich.json,
      "request_ms" -> all.json,
      "requests_per_service_s" -> Report.metric(perServiceS, "1/s"),
      "offered_rate_per_s" -> Report.metric(Rate, "1/s"), "served_rate_per_s" -> Report.metric(n / spanS, "1/s"),
      "clients" -> JInt(ctx.nproc), "requests" -> JInt(n), "enriched_searches" -> JInt(enrichReqs.length),
      "corpus_pages" -> JInt(Corpus.pages + resultPages.size), "result_pages" -> JInt(resultPages.size),
      "serp_pages" -> JInt(serp.queries * serp.pagesPerQuery))
    val failed = bad.sum.toLong
    tracer match {
      case None => Outcome(reqs.length, failed, measured, named)
      case Some(t) =>
        t.drain()
        val res = t.finish()
        res.write(ctx.work.resolve(s"trace-api-mix-${ctx.seed}.jsonl"))
        def spansNamed(s: String) = res.spans.filter(_.name == s)
        def per(name: String) = {
          val ss = spansNamed(name)
          val ids = ss.map(_.id).toSet
          (ss.length.max(1).toDouble, Tracer.counters(res.jobs.filter(j => ids.contains(j.parent))))
        }
        val (nScrape, cScrape) = per("Graft.scrape")
        val (nSearch, cSearch) = per("Graft.search")
        val (nEnrich, cEnrich) = per("Graft.search+enrich")
        val scrapeIdx = reqs.indices.filter(i => reqs(i).isInstanceOf[Scrape])
        val scrapeSpanMs = spansNamed("Graft.scrape").map(s => (s.end - s.startNs) / 1e6).sum
        // rows that came back with a scraped page
        val enrichRows = reqs.indices.collect { case i if isEnriched(reqs(i)) =>
          outs(i) match { case a: Array[Row] => a.count(scraped(_).isDefined); case _ => 0 } }.sum
        val extracted = cEnrich.inputRecords / nEnrich
        val sampleCore = Inputs.sample(seed, Corpus.pages, KernelSample).map(i =>
          (Corpus.url(i.toLong), Corpus.html(seed, i.toLong)))
        val layers = Map(
          "api.scrape_jobs_per_req" -> cScrape.jobs / nScrape,
          "api.scrape_input_bytes_per_req" -> cScrape.inputBytes / nScrape,
          "api.scrape_kernel_share" -> scrapeIdx.map(kernelMs(_)).sum / math.max(1e-9, scrapeSpanMs),
          "api.search_jobs_per_req" -> cSearch.jobs / nSearch,
          "api.enrich_pages_extracted_per_req" -> extracted,
          "api.enrich_useful_ratio" -> (if (extracted > 0) enrichRows / nEnrich / extracted else 0.0),
          "api.queue_ms" -> timings.map(_.queueNs / 1e6).sum / n,
          "api.generator_late_ms" -> timings.map(_.generatorLateNs / 1e6).sum / n) ++
          Layers.core(sampleCore, Extractor.Formats()) ++
          Layers.serp(Inputs.sample(seed, serp.pages.length, 32).map(serp.pages(_)))
        Outcome(reqs.length, failed, measured, named, layers, Seq("jobs_unattributed" -> JInt(res.unattributed)))
    }
  }

  private def toSerpRow(r: Row): SerpRow = {
    def opt[T](c: String): Option[T] = { val i = r.fieldIndex(c); if (r.isNullAt(i)) None else Some(r.getAs[T](i)) }
    SerpRow(r.getAs[String]("query"), r.getAs[Int]("page"), r.getAs[Int]("position"),
      r.getAs[String]("category"), r.getAs[String]("title"), r.getAs[String]("url"),
      r.getAs[String]("description"), r.getAs[String]("source"), opt[String]("imageUrl"),
      opt[Int]("imageWidth"), opt[Int]("imageHeight"), opt[String]("snippet"), opt[String]("date"))
  }
}

object ApiMixWorkload {
  sealed trait Req
  final case class Scrape(page: Int) extends Req
  final case class Search(query: Int, enrich: Boolean) extends Req

  /** 1,024 wide pages (64 hosts x 16), ~20 MB of HTML. */
  val Corpus: Inputs.Wide = Inputs.Wide(hosts = 64, perHost = 16)
  /** Requests per second offered. */
  val Rate = 5.0
  val Limit = 10
  /** Queries the enriched searches use, two Google and two SearXNG; the
    * corpus holds a page at every other one of their result urls. */
  val EnrichQueries: IndexedSeq[Int] = 0 until 4
  /** Seconds of window per enriched search run after the loop: one in 15 s. */
  val NominalEnrichS = 15.0
  val KernelSample = 48
}
