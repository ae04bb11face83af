package graft.serp

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.core.Html

/**
 * SERP structured extraction (SURVEY §2.7 F11-F13, §3.3): the reference's
 * search subsystem re-expressed as schema-typed Dataset transforms.
 *
 * - Google HTML parsing follows `packages/search/src/engines/Google.ts:201-257`:
 *   result blocks `div[jscontroller="SC7lYd"]`, title `a h3` (first), url =
 *   the h3's parent anchor href, description `div[data-sncf="1"]` with
 *   scripts removed; rows lacking title/url/content are skipped.
 * - SearXNG JSON parsing follows `Searxng.ts:100-179`: category-discriminated
 *   union flattened into one row type with nullable per-category columns,
 *   resolution regex `(\d+)\s*[×x]\s*(\d+)`.
 * - URL building follows `Google.ts:72-194`: `start = offset + (page-1)*perPage`,
 *   locale -> (hl, lr, cr) mapping, per-page limit capped at 100.
 */
final case class SerpRow(
    query: String,
    page: Int,
    position: Int,
    category: String,          // web | images | news
    title: String,
    url: String,
    description: String,
    source: String,
    imageUrl: Option[String] = None,
    imageWidth: Option[Int] = None,
    imageHeight: Option[Int] = None,
    snippet: Option[String] = None,
    date: Option[String] = None)

object GoogleSerp {

  private val timeRangeMap = Map("hour" -> "h", "day" -> "d", "week" -> "w",
    "month" -> "m", "year" -> "y")

  final case class SearchOptions(
      query: String,
      page: Int = 1,
      offset: Int = 0,
      limit: Int = 10,
      lang: Option[String] = None,
      country: Option[String] = None,
      timeRange: Option[String] = None,
      safeSearch: Option[Int] = None)

  private def md5hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    d.map(b => f"$b%02x").mkString
  }

  /**
   * Task-URL builder, faithful to `engines/Google.ts:72-147` over the full
   * [[GoogleData]] tables:
   *  - unknown/missing lang falls back to "en" (NOT "lang_en" — :81);
   *  - country resolution: exact "lang-COUNTRY" region (unless the country
   *    is on the skip list), else the FIRST file-order region of the lang
   *    whose country is not skipped, else "US" (:85-107);
   *  - the per-country google domain picks the base URL (:109-114);
   *  - param order mirrors URLSearchParams construction: q, start, hl, lr,
   *    cr, ie, oe, filter, asearch, async, num?, tbs?, safe?;
   *  - the reference's RANDOM `arc_id` (:153-157) is replaced with a
   *    deterministic stand-in (md5 of "query|start", same 23-char length and
   *    charset) per north-rule determinism.
   */
  def buildSearchUrl(o: SearchOptions): String = {
    val engLang = o.lang.flatMap(GoogleData.Languages.get).getOrElse("en")
    val langCode = {
      val parts = engLang.split('_')
      if (parts.length > 1) parts(1) else engLang
    }
    val exact = for {
      l <- o.lang; c <- o.country
      if !GoogleData.SkipCountries.contains(c)
      v <- GoogleData.Regions.get(s"$l-$c")
    } yield v
    val fallback =
      if (exact.isEmpty && o.lang.isDefined)
        GoogleData.RegionsOrdered.collectFirst {
          case (k, v) if k.startsWith(o.lang.get + "-") &&
            !GoogleData.SkipCountries.contains(v.toUpperCase) => v
        }
      else None
    val country = exact.orElse(fallback).getOrElse("US")
    val subdomain = GoogleData.SupportedDomains.getOrElse(country.toUpperCase, "www.google.com")
    val perPage = math.min(math.max(o.limit, 1), 100)
    val start = o.offset + (o.page - 1) * perPage
    val startPadded = { val s = start.toString; if (s.length < 2) ("0" * (2 - s.length)) + s else s }
    val arcId = s"srp_${md5hex(o.query + "|" + start).take(23)}_1$startPadded"
    val params = Seq(
      "q" -> o.query, "start" -> start.toString,
      "hl" -> s"$langCode-$country", "lr" -> engLang, "cr" -> s"country$country",
      "ie" -> "utf8", "oe" -> "utf8", "filter" -> "0",
      "asearch" -> "arc", "async" -> s"arc_id:$arcId,use_ac:true,_fmt:prog") ++
      (if (o.limit > 0) Seq("num" -> perPage.toString) else Nil) ++
      o.timeRange.flatMap(timeRangeMap.get).map(t => "tbs" -> s"qdr:$t") ++
      o.safeSearch.map(s => "safe" -> (if (s >= 2) "high" else if (s == 1) "medium" else "off"))
    val qs = params.map { case (k, v) =>
      k + "=" + java.net.URLEncoder.encode(v, "UTF-8")
    }.mkString("&")
    s"https://$subdomain/search?$qs"
  }

  /** Parse one Google SERP page (Google.ts:201-257). */
  def parse(query: String, page: Int, html: String): Seq[SerpRow] = {
    val doc = Html.parse(html)
    val out = Seq.newBuilder[SerpRow]
    var pos = 0
    Html.select(doc, """div[jscontroller="SC7lYd"]""").foreach { block =>
      val titleTag = Html.select(block, "a h3").headOption
      titleTag.foreach { h3 =>
        val title = h3.text.trim
        // url = href of the anchor wrapping the h3
        val anchor = Html.select(block, "a").find(a => Html.select(a, "h3").exists(_ eq h3))
        val url = anchor.flatMap(_.attr("href")).getOrElse("")
        val contentNodes = Html.select(block, """div[data-sncf="1"]""")
        contentNodes.foreach(n => Html.removeWhere(n)(_.tag == "script"))
        val content = contentNodes.map(_.text).mkString.trim
        if (title.nonEmpty && url.nonEmpty && content.nonEmpty) {
          pos += 1
          out += SerpRow(query, page, pos, "web", title, url, content, "Google Search Result")
        }
      }
    }
    out.result()
  }
}

/**
 * AC-Engine search backend (`packages/search/src/engines/ACEngine.ts:1-120`):
 * a JSON API with direct-limit support (`supportsDirectLimit = true` — one
 * request serves an arbitrary limit, so no page fan-out).
 */
object AcSerp {

  /** ACEngine.ts:23-45: q/start/limit/lang/country/timeRange/safe_search/
    * sources params; when limit is absent but page given, limit = page*10. */
  def buildSearchUrl(baseUrl: String, o: GoogleSerp.SearchOptions,
      sources: Option[String] = None): String = {
    val base = baseUrl.replaceAll("/$", "")
    val effectiveLimit: Option[Int] =
      if (o.limit > 0) Some(o.limit)
      else if (o.page > 0) Some(o.page * 10)
      else None
    val params = Seq("q" -> o.query, "start" -> o.offset.toString) ++
      effectiveLimit.map(l => "limit" -> l.toString) ++
      o.lang.map("lang" -> _) ++
      o.country.map("country" -> _) ++
      o.timeRange.map("timeRange" -> _) ++
      o.safeSearch.map(ss => "safe_search" -> ss.toString) ++
      sources.map("sources" -> _)
    val qs = params.map { case (k, v) =>
      k + "=" + java.net.URLEncoder.encode(v, "UTF-8")
    }.mkString("&")
    s"$base/search?$qs"
  }

  /** ACEngine.ts:60-116: `results` array -> category union; entries without
    * a url are skipped; source defaults to "AC-Engine"; positions are the
    * item's own when present, else the 1-based ordinal. */
  def parse(query: String, page: Int, json: String): Seq[SerpRow] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val parsed = try JsonMethods.parse(json) catch { case _: Exception => return Nil }
    val results = parsed \ "results" match {
      case JArray(items) => items
      case _ => return Nil
    }
    var ord = 0
    results.flatMap { item =>
      def str(k: String): Option[String] = item \ k match {
        case JString(v) if v.nonEmpty => Some(v); case _ => None
      }
      def int(k: String): Option[Int] = item \ k match {
        case JInt(v) => Some(v.toInt); case _ => None
      }
      str("url").map { url =>
        ord += 1
        val category = str("category").getOrElse("web")
        val desc = str("description").orElse(str("snippet")).getOrElse("")
        val source = str("source").getOrElse("AC-Engine")
        val pos = int("position").getOrElse(ord)
        category match {
          case "images" =>
            SerpRow(query, page, pos, "images", str("title").getOrElse(""), url, desc,
              source, imageUrl = str("imageUrl"),
              imageWidth = int("imageWidth"), imageHeight = int("imageHeight"))
          case "news" =>
            SerpRow(query, page, pos, "news", str("title").getOrElse(""), url, desc,
              source, snippet = str("snippet"), date = str("date"),
              imageUrl = str("imageUrl"))
          case _ =>
            SerpRow(query, page, pos, "web", str("title").getOrElse(""), url, desc, source)
        }
      }
    }
  }
}

object SearxngSerp {
  private val resolutionRe = """(\d+)\s*[×x]\s*(\d+)""".r

  /** Parse a SearXNG JSON response (Searxng.ts:100-179) using json4s
    * (ships with Spark). */
  def parse(query: String, page: Int, json: String): Seq[SerpRow] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val parsed = try JsonMethods.parse(json) catch { case _: Exception => return Nil }
    val results = parsed \ "results" match {
      case JArray(items) => items
      case _ => return Nil
    }
    var pos = 0
    results.flatMap { item =>
      def str(k: String): Option[String] = item \ k match {
        case JString(s) if s.nonEmpty => Some(s); case _ => None
      }
      str("url").map { url =>
        pos += 1
        val category = str("category").getOrElse("web")
        val engine = str("engine").getOrElse("unknown")
        val desc = str("content").orElse(str("snippet")).getOrElse("")
        category match {
          case "images" =>
            val (w, h) = str("resolution").flatMap(resolutionRe.findFirstMatchIn) match {
              case Some(m) => (Some(m.group(1).toInt), Some(m.group(2).toInt))
              case None => (None, None)
            }
            SerpRow(query, page, pos, "images", str("title").getOrElse(""), url, desc,
              s"SearXNG ($engine)", imageUrl = str("img_src"), imageWidth = w, imageHeight = h)
          case "news" =>
            SerpRow(query, page, pos, "news", str("title").getOrElse(""), url, desc,
              s"SearXNG ($engine)", snippet = Some(desc),
              date = str("publishedDate").orElse(str("pubdate")),
              imageUrl = str("thumbnail"))
          case _ =>
            SerpRow(query, page, pos, "web", str("title").getOrElse(""), url, desc,
              s"SearXNG ($engine)")
        }
      }
    }
  }
}

object SerpTransforms {
  /** The Spark-facing transform (north rule: "schema-typed Dataset
    * transform"): fetched SERP payloads -> typed result rows. `Graft.search`
    * orders them by (page, position) before its offset and limit, as
    * `SearchService.ts:281-284` does (W3). */
  final case class SerpPage(engine: String, query: String, page: Int, payload: String)

  /** One fetched SERP page -> its result rows, by the page's engine (an
    * unknown engine yields none). The one dispatch behind [[parseAll]] and
    * the driver-side `Graft.search`. */
  def parse(p: SerpPage): Seq[SerpRow] = p.engine match {
    case "google" => GoogleSerp.parse(p.query, p.page, p.payload)
    case "searxng" => SearxngSerp.parse(p.query, p.page, p.payload)
    case "ac-engine" | "ac" => AcSerp.parse(p.query, p.page, p.payload)
    case _ => Nil
  }

  def parseAll(spark: SparkSession, pages: Dataset[SerpPage]): Dataset[SerpRow] = {
    import spark.implicits._
    pages.flatMap(parse)
  }
}
