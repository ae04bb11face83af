package perfbench

import org.apache.spark.sql.SparkSession
import graft.fixtures.{SerpGen, SiteGen}
import graft.serp.SerpRow

/**
 * Seeded inputs for every workload, and the closed forms their outputs are
 * checked against. The program only ever sees the generated data; the seed
 * changes the page words and markup variants, the SERP payload ids and the
 * curation texts, while the shapes the workloads are sized by (link graph,
 * page counts, group structure) stay fixed so runs with different seeds do
 * the same amount of work.
 */
object Inputs {

  /** Page corpus in the shape the crawl engine and `Graft.scrape` read. */
  final case class Page(url: String, html: Array[Byte])

  // ------------------------------------------------------------ wide site

  /** `SiteGen` wide site: `hosts` equal hosts of `perHost` ~20 KB pages, a
    * `branching`-ary tree per host plus a cross-host edge every 7th page. */
  final case class Wide(hosts: Int, perHost: Int, branching: Int = 16, paragraphs: Int = 60) {
    def pages: Int = hosts * perHost
    def url(idx: Long): String = SiteGen.pageUrl((idx / perHost).toInt, (idx % perHost).toInt)
    def html(seed: Long, idx: Long): String =
      SiteGen.widePageHtml(seed, (idx / perHost).toInt, (idx % perHost).toInt, perHost, hosts,
        branching, paragraphs)
    def seeds: Seq[String] = (0 until hosts).map(SiteGen.pageUrl(_, 0))

    /** Absolute targets of page (h, p), from the href rules of `SiteGen.wideOutHrefs`. */
    def links(h: Int, p: Int): Seq[(Int, Int)] =
      SiteGen.wideOutHrefs(h, p, perHost, hosts, branching).map(href => resolve(h, href))

    def reachable(start: Seq[String]): Set[String] =
      bfs(start.map(parse), { case (h, p) => links(h, p) }).map { case (h, p) => SiteGen.pageUrl(h, p) }
  }

  // ------------------------------------------------------------ deep site

  /** `SiteGen.pageHtml` site: ~1.5 KB pages on `hosts` Zipf-sized hosts
    * (host0 holds ~30%), a binary tree per host with parent backlinks and a
    * cross-host edge every 3rd page. */
  final case class Deep(total: Int, hosts: Int) {
    val sizes: Vector[Int] = SiteGen.hostSizes(total, hosts)
    def pages: Int = sizes.sum
    def hostPage(idx: Long): (Int, Int) = SiteGen.hostPage(sizes, idx)
    def url(idx: Long): String = { val (h, p) = hostPage(idx); SiteGen.pageUrl(h, p) }
    def html(seed: Long, idx: Long): String = { val (h, p) = hostPage(idx); SiteGen.pageHtml(seed, h, p, sizes) }

    def links(seed: Long, h: Int, p: Int): Seq[(Int, Int)] =
      SiteGen.outHrefs(seed, h, p, sizes).map(href => resolve(h, href))

    def reachable(seed: Long, start: Seq[String]): Set[String] =
      bfs(start.map(parse), { case (h, p) => links(seed, h, p) })
        .map { case (h, p) => SiteGen.pageUrl(h, p) }
  }

  private val HostRe = """host(\d+)\.example\.test""".r.unanchored
  private val PageRe = """p(\d+)\.html$""".r.unanchored

  /** (host, page) an href on a page of host `h` points at. Covers every href
    * form the generators emit: relative, root-relative, dot-relative,
    * absolute, and the malformed single-slash scheme the program repairs. */
  def resolve(h: Int, href: String): (Int, Int) = {
    val page = href match { case PageRe(p) => p.toInt; case _ => sys.error(s"unexpected href $href") }
    val host = if (href.startsWith("https:")) href match {
      case HostRe(x) => x.toInt
      case _ => sys.error(s"unexpected href $href")
    } else h
    (host, page)
  }

  def parse(url: String): (Int, Int) = resolve(-1, url)

  private def bfs(start: Seq[(Int, Int)], next: ((Int, Int)) => Seq[(Int, Int)]): Set[(Int, Int)] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[(Int, Int)]
    var frontier = start.distinct
    seen ++= frontier
    while (frontier.nonEmpty) {
      frontier = frontier.flatMap(next).filterNot(seen.contains).distinct
      seen ++= frontier
    }
    seen.toSet
  }

  /** Write a corpus of `n` pages, generated on the executors, as parquet. */
  def writeCorpus(spark: SparkSession, n: Int, path: String, url: Long => String,
      html: Long => String): Unit = {
    import spark.implicits._
    spark.range(n.toLong).repartition(spark.sparkContext.defaultParallelism)
      .map(i => Page(url(i), html(i).getBytes("UTF-8")))
      .write.mode("overwrite").parquet(path)
  }

  // ------------------------------------------------------------ SERP

  /** The SERP corpus: `queries` queries of `pagesPerQuery` pages each; even
    * queries are Google HTML pages, odd ones SearXNG JSON. Payload ids start
    * at a seed-derived base, so the seed changes every title, url and
    * description. */
  final case class Serp(seed: Long, queries: Int, pagesPerQuery: Int, googleBlocks: Int) {
    val base: Long = 1000L + java.lang.Math.floorMod(SiteGen.mix(seed, 77L), 1000000L) * 100L
    def query(j: Int): String = s"q$j"
    def engine(j: Int): String = if (j % 2 == 0) "google" else "searxng"
    def payloadId(j: Int, page: Int): Long = base + j.toLong * pagesPerQuery + (page - 1)
    def payload(j: Int, page: Int): String =
      if (engine(j) == "google") SerpGen.closedFormGoogleHtml(payloadId(j, page), googleBlocks)
      else SerpGen.closedFormSearxngJson(payloadId(j, page))

    def pages: Seq[graft.serp.SerpTransforms.SerpPage] =
      for (j <- 0 until queries; p <- 1 to pagesPerQuery)
        yield graft.serp.SerpTransforms.SerpPage(engine(j), query(j), p, payload(j, p))

    /** Rows a search over query `j` must return, in (page, position) order. */
    def expected(j: Int, limit: Int): Seq[SerpRow] =
      (1 to pagesPerQuery).flatMap { p =>
        val i = payloadId(j, p)
        if (engine(j) == "google") googleRows(query(j), p, i, googleBlocks) else searxngRows(query(j), p, i)
      }.take(limit)
  }

  /** Closed form of `SerpGen.closedFormGoogleHtml`: the decoy block and every
    * 5th block (no description) are skipped; positions count kept blocks. */
  def googleRows(q: String, page: Int, i: Long, n: Int): Seq[SerpRow] =
    (0 until n).filter(_ % 5 != 4).zipWithIndex.map { case (k, ord) =>
      SerpRow(q, page, ord + 1, "web", s"Title $i $k", s"https://site$k.example.org/doc$i",
        s"Description $i $k.", "Google Search Result")
    }

  /** Closed form of `SerpGen.closedFormSearxngJson` (see its doc for the rules). */
  def searxngRows(q: String, page: Int, i: Long): Seq[SerpRow] = {
    val source = s"SearXNG (${if (i % 3 != 0) s"e${i % 3}" else "unknown"})"
    Seq(0, 1, 3, 4, 5).zipWithIndex.map { case (k, ord) =>
      val url = s"https://s$k.example.org/d$i"
      val desc = if (k % 2 == 0) s"C $i $k" else s"S $i $k"
      val title = s"T $i $k"
      if (k % 3 == 1) {
        val res = if (i % 2 == 0) Some((640, 480)) else if (k == 4) Some((800, 600)) else None
        SerpRow(q, page, ord + 1, "images", title, url, desc, source,
          imageUrl = Some(s"https://im.example.org/$i/$k"),
          imageWidth = res.map(_._1), imageHeight = res.map(_._2))
      } else if (k % 3 == 2)
        SerpRow(q, page, ord + 1, "news", title, url, desc, source, snippet = Some(desc),
          date = Some(if (i % 2 == 0) "2024-01-02" else "2023-12-31"),
          imageUrl = Some(s"https://th.example.org/$i"))
      else SerpRow(q, page, ord + 1, "web", title, url, desc, source)
    }
  }

  // ------------------------------------------------------------ curation

  /** Curation corpus as in q45: groups of five ids share a 60-word base text;
    * member 1 repeats the leader exactly, members 2-4 append two id-keyed
    * words (near duplicates). Expected stage by `doc_id % 5`: 0 kept, 1 dup,
    * 2-4 neardup, so 80% of the documents are duplicates. The seed salts
    * every word. */
  def writeCurationDocs(spark: SparkSession, seed: Long, n: Int, path: String): Unit = {
    import spark.implicits._
    spark.range(n.toLong).repartition(spark.sparkContext.defaultParallelism)
      .map(id => (id.longValue, curationText(seed, id), "all")).toDF("doc_id", "text", "stratum")
      .write.mode("overwrite").parquet(path)
  }

  /** Text of document `id`: 60 words of 8 hex digits keyed by (seed, group),
    * plus two id-keyed words for members 2-4 of the group. */
  def curationText(seed: Long, id: Long): String = {
    val md5 = java.security.MessageDigest.getInstance("MD5")
    def word(key: String): String =
      md5.digest(key.getBytes("UTF-8")).take(4).map(b => f"${b & 0xff}%02x").mkString
    val g = id / 5
    val base = (1 to 60).map(i => word(s"s$seed:${g}_$i"))
    val words = if (id % 5 >= 2) base ++ Seq("_s1", "_s2").map(k => word(s"s$seed:$id$k")) else base
    words.mkString(" ")
  }

  def expectedStage(docId: Long): String = (docId % 5).toInt match {
    case 0 => "kept"
    case 1 => "dup"
    case _ => "neardup"
  }

  /** Deterministic sample of `k` distinct indices below `n`. */
  def sample(seed: Long, n: Int, k: Int): Seq[Int] = {
    val rnd = new scala.util.Random(seed)
    rnd.shuffle((0 until n).toVector).take(math.min(k, n))
  }
}
