package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class LineDedupSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("linededup-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private val boiler = "Subscribe to our newsletter"
  private val cookie = "Accept all cookies"

  /** 60 docs: every doc gets 2 unique lines; doc%2==0 gets the cookie
    * banner; doc%3==0 gets the newsletter plea; doc%10==7 repeats its own
    * first unique line (within-doc repeat, below threshold); every doc
    * ends with an empty line (structure, never dropped). */
  private def corpus(n: Int = 60): Seq[(Long, String)] =
    (0L until n.toLong).map { i =>
      val b = Seq.newBuilder[String]
      b += s"unique-$i-alpha"
      if (i % 2 == 0) b += cookie
      b += s"unique-$i-beta"
      if (i % 3 == 0) b += boiler
      if (i % 10 == 7) b += s"unique-$i-alpha"
      b += ""
      (i, b.result().mkString("\n"))
    }

  private def expect(n: Int = 60): Seq[(Long, String, Long, Long)] =
    corpus(n).map { case (i, text) =>
      val lines = text.split("\n", -1)
      val kept = lines.filterNot(l => l == cookie || l == boiler)
      (i, kept.mkString("\n"), lines.length.toLong, kept.length.toLong)
    }

  private def collect(df: org.apache.spark.sql.DataFrame) =
    df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq

  test("kernel (broadcast) path removes corpus-frequent lines only") {
    val got = collect(LineDedup.clean(corpus().toDF("doc_id", "text")
      .repartition(5), "doc_id", "text", minCount = 10))
    assert(got == expect())
  }

  test("clean leaves no session cache entry behind on either path") {
    spark.catalog.clearCache()
    (1 to 3).foreach { k =>
      val n = 40 + 10 * k // distinct inputs: a cache entry per call would pile up
      val df = corpus(n).toDF("doc_id", "text")
      assert(collect(LineDedup.clean(df, "doc_id", "text", 10)) == expect(n))
      assert(collect(LineDedup.clean(df, "doc_id", "text", 10,
        maxBroadcastLines = 0)) == expect(n))
    }
    assert(spark.sharedState.cacheManager.isEmpty, "LineDedup.clean left cache entries")
  }

  test("join path (forced by maxBroadcastLines=0) emits identical rows") {
    val df = corpus().toDF("doc_id", "text").repartition(5)
    val kernel = collect(LineDedup.clean(df, "doc_id", "text", 10))
    val joined = collect(LineDedup.clean(df, "doc_id", "text", 10,
      maxBroadcastLines = 0))
    assert(joined == kernel)
  }

  test("trimming pools counts; emitted lines keep original bytes") {
    // "  footer" x6 and "footer  " x6: each spelling is below minCount=10
    // alone, together the trimmed form crosses it -> both dropped.
    val docs = (0L until 12L).map { i =>
      val pad = if (i % 2 == 0) s"  footer" else s"footer  "
      (i, s"keep-$i\n$pad")
    }
    val got = collect(LineDedup.clean(docs.toDF("doc_id", "text"),
      "doc_id", "text", minCount = 10))
    assert(got == docs.map { case (i, _) => (i, s"keep-$i", 2L, 1L) })
  }

  test("a doc whose every line is boilerplate comes back empty, not missing") {
    val docs = (0L until 20L).map(i => (i, boiler)) :+ (20L, s"only\n$boiler")
    for (maxBc <- Seq(1 << 20, 0)) {
      val got = collect(LineDedup.clean(docs.toDF("doc_id", "text"),
        "doc_id", "text", minCount = 10, maxBroadcastLines = maxBc))
      assert(got.size == 21, s"maxBc=$maxBc")
      assert(got.take(20).forall { case (_, t, n, k) => t == "" && n == 1L && k == 0L })
      assert(got(20) == ((20L, "only", 2L, 1L)))
    }
  }

  test("empty lines are structure: never counted, never dropped") {
    val docs = (0L until 30L).map(i => (i, s"a-$i\n\nb-$i"))
    for (maxBc <- Seq(1 << 20, 0)) {
      val got = collect(LineDedup.clean(docs.toDF("doc_id", "text"),
        "doc_id", "text", minCount = 5, maxBroadcastLines = maxBc))
      assert(got == docs.map { case (i, t) => (i, t, 3L, 3L) }, s"maxBc=$maxBc")
    }
  }

  test("SQL-trim semantics: tab/CR-edged frequent lines drop on BOTH paths") {
    // "boiler\r" (CRLF artifact) and a tab-only line, each 12x corpus-wide:
    // SQL trim (space-only) keeps \r and \t, so both are countable and
    // frequent -> dropped. Java String.trim in the kernel would have
    // hashed "boiler" (no \r) and treated "\t" as structure — divergence.
    val docs = (0L until 12L).map(i => (i, s"keep-$i\n$boiler\r\n\t"))
    for (maxBc <- Seq(1 << 20, 0)) {
      val got = collect(LineDedup.clean(docs.toDF("doc_id", "text"),
        "doc_id", "text", minCount = 10, maxBroadcastLines = maxBc))
      assert(got == docs.map { case (i, _) => (i, s"keep-$i", 3L, 1L) },
        s"maxBc=$maxBc")
    }
  }

  test("null text reads as one empty structural line on both paths") {
    val docs = Seq((0L, "a\nb"), (1L, null.asInstanceOf[String]))
    for (maxBc <- Seq(1 << 20, 0)) {
      val got = collect(LineDedup.clean(docs.toDF("doc_id", "text"),
        "doc_id", "text", minCount = 2, maxBroadcastLines = maxBc))
      assert(got == Seq((0L, "a\nb", 2L, 2L), (1L, "", 1L, 1L)), s"maxBc=$maxBc")
    }
  }

  test("frequentLines counts within-doc repeats and honors minCount >= 2") {
    val docs = Seq((1L, "x\nx\nx\ny"), (2L, "x\nz"))
    val freq = LineDedup.frequentLines(docs.toDF("id", "text"), "text", 4)
      .collect()
    assert(freq.length == 1 && freq(0).getLong(1) == 4L) // 'x': 3 + 1
    intercept[IllegalArgumentException] {
      LineDedup.frequentLines(docs.toDF("id", "text"), "text", 1)
    }
  }

  test("non-integral id column is rejected") {
    intercept[IllegalArgumentException] {
      LineDedup.clean(Seq(("a", "t")).toDF("id", "text"), "id", "text", 2)
    }
  }
}
