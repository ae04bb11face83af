package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class DomainStatsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("domainstats-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  // corpus mean = (270 + 30 + 100) / 8 = 400/8 = 50 exactly
  private val docs = Seq(
    (0L, "good.org", 90L), (1L, "good.org", 95L), (2L, "good.org", 85L),
    (3L, "spam.biz", 10L), (4L, "spam.biz", 5L), (5L, "spam.biz", 15L),
    (6L, "mid.net", 50L), (7L, "mid.net", 50L))

  test("stats: one row per domain, exact count and sum") {
    val got = DomainStats.stats(docs.toDF("id", "src", "q"), "src", "q")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(got == Seq(("good.org", 3L, 270L), ("mid.net", 2L, 100L),
      ("spam.biz", 3L, 30L)))
  }

  test("filterDocs leaves no session cache entry behind") {
    spark.catalog.clearCache()
    (1 to 3).foreach { k =>
      // distinct inputs: a cache entry per call would pile up
      val in = docs.map { case (id, d, q) => (id, d, q + k) }.toDF("id", "src", "q")
      assert(DomainStats.filterDocs(in, "src", "q").filter($"keep").count() == 5L)
    }
    assert(spark.sharedState.cacheManager.isEmpty, "DomainStats.filterDocs left cache entries")
  }

  test("filterDocs gates on domain mean >= corpus mean, exactly") {
    val got = DomainStats.filterDocs(docs.toDF("id", "src", "q").repartition(3),
        "src", "q")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Boolean]("keep")))
      .sortBy(_._1).toSeq
    // good.org mean 90 keep; spam.biz mean 10 no; mid.net mean 50 sits
    // exactly AT the corpus mean -> kept by >= (exact 400*2 == 100*8)
    assert(got == Seq(0L -> true, 1L -> true, 2L -> true,
      3L -> false, 4L -> false, 5L -> false, 6L -> true, 7L -> true))
  }

  test("exact boundary: a domain AT the corpus mean is kept (>=)") {
    // two domains, means 40 and 60 -> corpus mean 50; third domain exactly 50
    val d = Seq((0L, "a", 40L), (1L, "b", 60L), (2L, "c", 50L))
    val got = DomainStats.filterDocs(d.toDF("id", "src", "q"), "src", "q")
      .collect().map(r => (r.getAs[String]("src"), r.getAs[Boolean]("keep")))
      .toMap
    assert(got == Map("a" -> false, "b" -> true, "c" -> true))
  }

  test("null scores count as zero docs of weight, not dropped rows") {
    val d = Seq((0L, "a", Some(10L)), (1L, "a", Option.empty[Long]),
      (2L, "b", Some(4L)))
    val st = DomainStats.stats(d.toDF("id", "src", "q"), "src", "q")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    // 'a': 2 docs, sum 10 (null -> 0); mean 5 >= corpus mean 14/3=4.67
    assert(st.toSeq == Seq(("a", 2L, 10L), ("b", 1L, 4L)))
    val keep = DomainStats.filterDocs(d.toDF("id", "src", "q"), "src", "q")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Boolean]("keep"))).sortBy(_._1)
    assert(keep.toSeq == Seq(0L -> true, 1L -> true, 2L -> false))
  }

  test("null domain forms its own gated group — rows are never dropped") {
    val d = Seq((0L, "a", 10L), (1L, null.asInstanceOf[String], 90L),
      (2L, null.asInstanceOf[String], 90L), (3L, "b", 10L))
    val got = DomainStats.filterDocs(d.toDF("id", "src", "q"), "src", "q")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Boolean]("keep")))
      .sortBy(_._1).toSeq
    // corpus mean 50; null-group mean 90 keeps, a/b (10) drop
    assert(got == Seq(0L -> false, 1L -> true, 2L -> true, 3L -> false))
  }

  test("cross products that would overflow 64 bits are rejected loudly") {
    val d = Seq((0L, "a", Long.MaxValue / 2), (1L, "b", Long.MaxValue / 2),
      (2L, "b", 1L))
    val e = intercept[IllegalArgumentException] {
      DomainStats.filterDocs(d.toDF("id", "src", "q"), "src", "q")
    }
    assert(e.getMessage.contains("re-scale"))
  }

  test("float score columns are rejected; empty input yields empty output") {
    intercept[IllegalArgumentException] {
      DomainStats.stats(Seq((1L, "a", 0.5)).toDF("id", "src", "q"), "src", "q")
    }
    assert(DomainStats.filterDocs(
      Seq.empty[(Long, String, Long)].toDF("id", "src", "q"), "src", "q")
      .count() == 0L)
  }
}
