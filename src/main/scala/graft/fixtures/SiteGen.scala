package graft.fixtures

import graft.core.{Html, TextExtract}
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Deterministic synthetic web-corpus generator (FIXTURES.md §1).
 *
 * Produces rows of the mandated input shape
 * `pages(url, warc_ts, html, text, lang)` (BASELINE.json input_hint):
 *
 *  - `nHosts` hosts `https://host{i}.example.test`
 *  - Zipf-ish host sizes: host0 holds ~30% of all pages (the "hot host"
 *    that exercises skew handling / politeness throttling)
 *  - page `j` of host `i` lives at `/p{j}.html`; the link graph is a
 *    binary tree within each host (j -> 2j+1, 2j+2) plus deterministic
 *    cross-host edges, so crawl-order oracles are computable independently
 *  - html exercises the extraction matrix: title, meta name/property,
 *    header/footer/nav/.ad noise, relative + root-relative + malformed
 *    (`https:/...`) hrefs, em/strong, lists, images with srcset,
 *    figure/figcaption, comments, scripts
 *  - `text` is the extraction contract for the `text` format
 *
 * Everything keys off xxhash-style mixing of (seed, url) — zero wall-clock,
 * zero randomness, reproducible across JVMs and partitions.
 */
object SiteGen {

  final case class PageRow(url: String, warc_ts: java.sql.Timestamp, html: Array[Byte], text: String, lang: String)

  private val langs = Vector("en", "de", "zh", "fr", "es", "ja", "pt", "ru")
  private val wordBank = Vector(
    "data", "crawl", "spark", "frontier", "engine", "graph", "index", "query",
    "page", "link", "host", "fetch", "extract", "robot", "scale", "batch",
    "shuffle", "filter", "bloom", "cuckoo", "priority", "budget", "depth",
    "schedule", "partition", "skew", "salt", "checkpoint", "resume", "trace")

  /** 64-bit mix (splitmix64) — stable hash for (seed, key). */
  def mix(seed: Long, key: Long): Long = {
    var z = seed + key * 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def mixStr(seed: Long, s: String): Long = {
    var h = seed
    var i = 0
    while (i < s.length) { h = mix(h, s.charAt(i).toLong); i += 1 }
    h
  }
  private def pick[A](v: Vector[A], h: Long): A = v(((h % v.size) + v.size).toInt % v.size)

  def hostName(i: Int): String = s"host$i.example.test"
  def pageUrl(hostIdx: Int, page: Int): String = s"https://${hostName(hostIdx)}/p$page.html"

  /** Zipf-ish page counts: host0 gets ~30%, the rest decays as 1/(i+1). */
  def hostSizes(totalPages: Int, nHosts: Int): Vector[Int] = {
    if (nHosts == 1) return Vector(totalPages)
    val hot = math.max(1, (totalPages * 0.3).toInt)
    val rest = totalPages - hot
    val weights = (1 until nHosts).map(i => 1.0 / (i + 1))
    val wsum = weights.sum
    val sizes = weights.map(w => math.max(1, (rest * w / wsum).toInt)).toVector
    val assigned = hot + sizes.sum
    // dump rounding remainder on the last host
    val fixed = sizes.updated(sizes.length - 1, math.max(1, sizes.last + (totalPages - assigned)))
    hot +: fixed
  }

  /** Deterministic out-links of (host i, page j): binary-tree children within
    * the host, one parent backlink, and a cross-host edge every 3rd page.
    * Returned as the href strings *as they appear in the html* (relative /
    * root-relative / absolute / malformed variants chosen by hash). */
  def outHrefs(seed: Long, hostIdx: Int, page: Int, sizes: Vector[Int]): Seq[String] = {
    val n = sizes(hostIdx)
    val out = Seq.newBuilder[String]
    val c1 = 2 * page + 1
    val c2 = 2 * page + 2
    def hrefFor(child: Int, slot: Int): String = {
      val h = mix(seed, hostIdx.toLong << 40 | page.toLong << 16 | slot.toLong)
      (((h % 4) + 4) % 4) match {
        case 0 => s"p$child.html"                       // relative
        case 1 => s"/p$child.html"                      // root-relative
        case 2 => s"./p$child.html"                     // dot-relative
        case 3 => s"https:/${hostName(hostIdx)}/p$child.html" // malformed, repaired
      }
    }
    if (c1 < n) out += hrefFor(c1, 1)
    if (c2 < n) out += hrefFor(c2, 2)
    if (page > 0) out += s"/p${(page - 1) / 2}.html"    // parent backlink (dup after dedup)
    if (page % 3 == 0 && sizes.length > 1) {
      val target = (hostIdx + page / 3) % sizes.length
      if (target != hostIdx) out += s"https://${hostName(target)}/p0.html"
    }
    out.result()
  }

  /** Build one page's HTML (deterministic in (seed, hostIdx, page)). */
  def pageHtml(seed: Long, hostIdx: Int, page: Int, sizes: Vector[Int]): String = {
    val h = mixStr(seed, pageUrl(hostIdx, page))
    def w(k: Int): String = pick(wordBank, mix(h, k.toLong))
    val title = s"${w(1).capitalize} ${w(2)} $page"
    val hrefs = outHrefs(seed, hostIdx, page, sizes)
    val sb = new StringBuilder
    sb.append("<!DOCTYPE html><html><head>")
    sb.append(s"<title>$title</title>")
    sb.append(s"""<meta name="description" content="${w(3)} ${w(4)} ${w(5)}">""")
    sb.append(s"""<meta property="og:site_name" content="${hostName(hostIdx)}">""")
    sb.append("""<style>.x{color:red}</style>""")
    sb.append("</head><body>")
    sb.append(s"""<header><nav><a href="/p0.html">home</a></nav></header>""")
    if (mix(h, 100) % 3 == 0) sb.append("""<div class="ad">buy things</div>""")
    sb.append("<!-- build marker -->")
    sb.append(s"<h1>$title</h1>")
    sb.append(s"<p>The ${w(6)} ${w(7)} uses <em>${w(8)}</em> and <strong>${w(9)}</strong> to ${w(10)} the ${w(11)}.</p>")
    if (mix(h, 101) % 2 == 0)
      sb.append(s"<ul><li>${w(12)} ${w(13)}</li><li>${w(14)} ${w(15)}</li></ul>")
    if (mix(h, 102) % 4 == 0)
      sb.append(s"""<figure><img src="/img$page.png" srcset="/img${page}s.png 480w, /img${page}l.png 960w" alt="${w(16)}"><figcaption>${w(17)} ${w(18)}</figcaption></figure>""")
    sb.append(s"<p>More about ${w(19)} ${w(20)} and the ${w(21)} ${w(22)} follows here to fill content.</p>")
    sb.append("<div>")
    hrefs.zipWithIndex.foreach { case (href, i) =>
      sb.append(s"""<a href="$href">${w(30 + i)} link $i</a> """)
    }
    sb.append("</div>")
    sb.append(s"""<footer>(c) ${hostName(hostIdx)}</footer>""")
    sb.append("<script>track()</script>")
    sb.append("</body></html>")
    sb.toString
  }

  /** (hostIdx, page) of the flat corpus index `idx` (row-major over
    * [[hostSizes]]) — lets executors generate page i independently from
    * `spark.range(sizes.sum)` with no driver-side corpus materialization. */
  def hostPage(sizes: Vector[Int], idx: Long): (Int, Int) = {
    var h = 0
    var rem = idx
    while (rem >= sizes(h)) { rem -= sizes(h); h += 1 }
    (h, rem.toInt)
  }

  /** The `(url, html)` frame of the [[rows]] corpus, html as UTF-8 bytes:
    * the two columns the crawl engine reads, generated on the executors from
    * the flat page index, never through the driver. */
  def corpusFrame(spark: SparkSession, seed: Long, totalPages: Int, nHosts: Int): DataFrame = {
    import spark.implicits._
    val sizes = hostSizes(totalPages, nHosts)
    spark.range(sizes.map(_.toLong).sum).mapPartitions { it =>
      it.map { idx =>
        val (h, p) = hostPage(sizes, idx)
        (pageUrl(h, p), pageHtml(seed, h, p, sizes).getBytes("UTF-8"))
      }
    }.toDF("url", "html")
  }

  /** All rows for the corpus; the `text` column is the extraction contract
    * (TextExtract defines the spec; goldens lock it byte-exactly). */
  def rows(seed: Long, totalPages: Int, nHosts: Int): Iterator[PageRow] = {
    val sizes = hostSizes(totalPages, nHosts)
    val baseTs = 1700000000000L // fixed epoch base; offsets from hash
    for {
      hostIdx <- (0 until sizes.length).iterator
      page <- (0 until sizes(hostIdx)).iterator
    } yield {
      val url = pageUrl(hostIdx, page)
      val html = pageHtml(seed, hostIdx, page, sizes)
      val h = mixStr(seed, url)
      PageRow(
        url = url,
        warc_ts = new java.sql.Timestamp(baseTs + (((h % 86400000L) + 86400000L) % 86400000L)),
        html = html.getBytes("UTF-8"),
        text = TextExtract.fromHtml(html),
        lang = pick(langs, mix(h, 7)))
    }
  }

  // ------------------------------------------------- wide benchmark corpus

  /** Out-hrefs of the wide site: `branching`-ary tree within the host plus a
    * cross-host edge every 7th page (shallow: depth ~ log_b(perHost)). */
  def wideOutHrefs(hostIdx: Int, page: Int, perHost: Int, nHosts: Int, branching: Int): Seq[String] = {
    val out = Seq.newBuilder[String]
    var c = page * branching + 1
    val end = math.min(page * branching + branching, perHost - 1)
    while (c <= end) { out += s"/p$c.html"; c += 1 }
    if (page % 7 == 0 && nHosts > 1) {
      val target = (hostIdx + 1 + page % (nHosts - 1)) % nHosts
      if (target != hostIdx) out += s"https://${hostName(target)}/p0.html"
    }
    out.result()
  }

  /** Benchmark page: same structural elements as [[pageHtml]] but with
    * `paragraphs` body paragraphs (~Common-Crawl-sized documents), so the
    * extraction kernel — not superstep bookkeeping — dominates crawl cost. */
  def widePageHtml(seed: Long, hostIdx: Int, page: Int, perHost: Int, nHosts: Int,
      branching: Int, paragraphs: Int): String = {
    val h = mixStr(seed, pageUrl(hostIdx, page))
    def w(k: Int): String = pick(wordBank, mix(h, k.toLong))
    val title = s"${w(1).capitalize} ${w(2)} $page"
    val sb = new StringBuilder(paragraphs * 320 + 2048)
    sb.append("<!DOCTYPE html><html><head>")
    sb.append(s"<title>$title</title>")
    sb.append(s"""<meta name="description" content="${w(3)} ${w(4)} ${w(5)}">""")
    sb.append("</head><body>")
    sb.append(s"""<header><nav><a href="/p0.html">home</a></nav></header>""")
    sb.append(s"<h1>$title</h1>")
    var p = 0
    while (p < paragraphs) {
      val hp = mix(h, 1000L + p)
      sb.append("<p>")
      var k = 0
      while (k < 40) {
        sb.append(pick(wordBank, mix(hp, k.toLong)))
        if (k % 9 == 4) sb.append(" <em>").append(pick(wordBank, mix(hp, 100L + k))).append("</em>")
        sb.append(if (k == 39) "." else " ")
        k += 1
      }
      sb.append("</p>")
      if (p % 11 == 3)
        sb.append(s"<ul><li>${w(p)} ${w(p + 1)}</li><li>${w(p + 2)} ${w(p + 3)}</li></ul>")
      p += 1
    }
    sb.append("<div>")
    wideOutHrefs(hostIdx, page, perHost, nHosts, branching).zipWithIndex.foreach { case (href, i) =>
      sb.append(s"""<a href="$href">${w(30 + i)} link $i</a> """)
    }
    sb.append("</div>")
    sb.append(s"""<footer>(c) ${hostName(hostIdx)}</footer>""")
    sb.append("<script>track()</script>")
    sb.append("</body></html>")
    sb.toString
  }

  /** One wide-site row by flat index (executor-side generation: callers map
    * `spark.range(n)` through this — no driver-side corpus materialization). */
  def wideRow(seed: Long, idx: Long, perHost: Int, nHosts: Int,
      branching: Int, paragraphs: Int): PageRow = {
    val hostIdx = (idx / perHost).toInt
    val page = (idx % perHost).toInt
    val url = pageUrl(hostIdx, page)
    val html = widePageHtml(seed, hostIdx, page, perHost, nHosts, branching, paragraphs)
    val h = mixStr(seed, url)
    PageRow(url, new java.sql.Timestamp(1700000000000L + (((h % 86400000L) + 86400000L) % 86400000L)),
      html.getBytes("UTF-8"), TextExtract.fromHtml(html), pick(langs, mix(h, 7)))
  }

  /** robots fixture (FIXTURES.md §4): host1 disallows its odd subtree,
    * host2 sets a crawl-delay, everyone else wide open. */
  def robotsRows(nHosts: Int): Seq[(String, String)] =
    (0 until nHosts).map { i =>
      val body =
        if (i == 1) "User-agent: *\nDisallow: /p1.html\nDisallow: /p3*\n"
        else if (i == 2) "User-agent: *\nCrawl-delay: 2\nDisallow: /private/\n"
        else "User-agent: *\nDisallow:\n"
      (hostName(i), body)
    }
}
