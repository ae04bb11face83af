package graft.frontier

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

class FilterSpec extends AnyFunSuite {

  private def forAllSeeded[A](gen: Gen[A], n: Int = 300)(f: A => Unit): Unit =
    (0 until n).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(f)
    }

  test("template render: raw/query/path/host filters (urlTemplate.ts:1-103)") {
    import graft.core.UrlTemplate
    val vars = Map("q" -> "best cafés & bars", "host" -> "My-Site.EXAMPLE.com!", "p" -> "a b/c")
    // query = encodeURIComponent semantics: space -> %20, not '+'
    assert(UrlTemplate.render("https://{{host|host}}/search?q={{q|query}}", vars) ==
      "https://my-site.example.com/search?q=best%20caf%C3%A9s%20%26%20bars")
    // path restores '/' after encoding (urlTemplate.ts:38)
    assert(UrlTemplate.render("/{{p|path}}", vars) == "/a%20b/c")
    assert(UrlTemplate.render("{{q}}", vars) == "best cafés & bars")      // raw default
    // missing variable keeps the placeholder verbatim (urlTemplate.ts:70-73)
    assert(UrlTemplate.render("{{missing}}-x", vars) == "{{missing}}-x")
    // unknown filter -> regex does not match -> placeholder untouched
    assert(UrlTemplate.render("{{q|bogus}}", vars) == "{{q|bogus}}")
    // \{{ escapes a literal {{
    assert(UrlTemplate.render("""\{{q}} = {{q}}""", vars) == "{{q}} = best cafés & bars")
    // renderText: filters inert
    assert(UrlTemplate.renderText("{{q|query}}", vars) == "best cafés & bars")
  }

  test("property: template render is total on arbitrary inputs") {
    forAllSeeded(Gen.zip(Gen.asciiPrintableStr, Gen.asciiPrintableStr)) { case (tpl, v) =>
      // never throws, always returns a string
      val out = graft.core.UrlTemplate.render(tpl, Map("v" -> v))
      assert(out != null)
    }
  }
}
