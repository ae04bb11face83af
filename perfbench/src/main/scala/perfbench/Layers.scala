package perfbench

import graft.core.{Cleaner, Extractor, Html, Markdown, TextExtract}

/** Per-layer timings taken by calling a layer's public functions directly on
  * a sample of the workload's own inputs. */
object Layers {

  private def ms(f: => Unit): Double = { val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e6 }

  /** `core`: the whole extraction call and its four steps, in ms per page. */
  def core(pages: Seq[(String, String)], formats: Extractor.Formats): Map[String, Double] = {
    pages.foreach { case (u, h) => Extractor.extract(u, h, formats) }
    var extract, parse, clean, markdown, text = 0.0
    pages.foreach { case (u, h) =>
      extract += ms(Extractor.extract(u, h, formats))
      parse += ms(Html.parse(h))
      val doc = Html.parse(h)
      var cleaned: Either[Html.Elem, Html.Doc] = null
      clean += ms { cleaned = Cleaner.transformDoc(doc, u) }
      markdown += ms(Markdown.fromCleanedDoc(cleaned.fold(identity, identity)))
      text += ms(TextExtract.fromDoc(doc))
    }
    val n = math.max(1, pages.length).toDouble
    Map("core.extract_ms_per_page" -> extract / n, "core.parse_ms" -> parse / n,
      "core.clean_ms" -> clean / n, "core.markdown_ms" -> markdown / n, "core.text_ms" -> text / n)
  }

  /** `serp`: parse time per SERP page for each engine, in ms. */
  def serp(pages: Seq[graft.serp.SerpTransforms.SerpPage]): Map[String, Double] = {
    def perPage(engine: String, parse: graft.serp.SerpTransforms.SerpPage => Unit): Double = {
      val ps = pages.filter(_.engine == engine)
      ps.foreach(parse)
      ps.map(p => ms(parse(p))).sum / math.max(1, ps.length)
    }
    Map(
      "serp.google_parse_ms_per_page" ->
        perPage("google", p => graft.serp.GoogleSerp.parse(p.query, p.page, p.payload): Unit),
      "serp.searxng_parse_ms_per_page" ->
        perPage("searxng", p => graft.serp.SearxngSerp.parse(p.query, p.page, p.payload): Unit))
  }
}
