package graft.engine

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class KvStoreSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("storage keys match the reference schemes (F10)") {
    // Base.ts:444 — base64 of the url, jobId-scoped
    val k = KvStore.crawlDataKey("job1", "https://a.test/p?x=1")
    assert(k == "crawl-data-job1-" +
      java.util.Base64.getEncoder.encodeToString("https://a.test/p?x=1".getBytes("UTF-8")))
    // ScreenshotTransformer.ts:109-119 — 8 hex chars of md5(uniqueKey)
    val s1 = KvStore.screenshotKey("job1", "job1-https://a.test/")
    assert(s1.matches("screenshot-job1-[0-9a-f]{8}\\.jpeg"))
    val s2 = KvStore.screenshotKey("job1", "job1-https://a.test/", fullPage = true)
    assert(s2.startsWith("screenshot-fullPage-job1-") && s2.endsWith(".jpeg"))
    assert(s1.substring("screenshot-job1-".length, "screenshot-job1-".length + 8) ==
      KvStore.md5hex("job1-https://a.test/").substring(0, 8))
  }

  test("crawl-data KV sink: write + partition-pruned point lookup (S6)") {
    import graft.fixtures.SiteGen
    val s = spark; import s.implicits._
    val pagesDf = s.createDataset(SiteGen.rows(42L, 40, 2).toSeq).toDF()
    val work = Files.createTempDirectory("kv-crawl").toString
    val eng = new CrawlEngine(spark, pagesDf, work,
      settings = CrawlEngine.Settings())
    eng.run(Seq(CrawlConfig("kvj", Seq(SiteGen.pageUrl(0, 0)), strategy = "all", limit = 10)))

    val kvDir = Files.createTempDirectory("kv-store").toString
    KvStore.writeCrawlData(eng.results(), kvDir)

    val someUrl = eng.results().filter($"success").select($"url").head().getString(0)
    val bytes = KvStore.lookup(spark, kvDir, "kvj", someUrl)
    assert(bytes.isDefined)
    val json = new String(bytes.get, "UTF-8")
    // reference value shape: {url, data, crawled_at} (Base.ts:446-450)
    assert(json.contains("\"url\"") && json.contains("\"data\"") && json.contains("\"crawled_at\""))
    assert(KvStore.lookup(spark, kvDir, "kvj", "https://nowhere.test/").isEmpty)
  }

  test("job expiry finalizes at the barrier (Worker.ts TTL sweep analog)") {
    import graft.fixtures.SiteGen
    val s = spark; import s.implicits._
    val pagesDf = s.createDataset(SiteGen.rows(42L, 40, 2).toSeq).toDF()
    val work = Files.createTempDirectory("kv-expiry").toString
    var now = 1000000L
    val eng = new CrawlEngine(spark, pagesDf, work,
      settings = CrawlEngine.Settings(
        jobTtlMs = 50L, clockMs = () => { now += 100; now }))
    // createdAt far in the past relative to the advancing fake clock + 50ms TTL
    eng.run(Seq(CrawlConfig("exp", Seq(SiteGen.pageUrl(0, 0)), strategy = "all",
      limit = 1000, createdAtMs = 1L)))
    val p = eng.finalProgress("exp")
    assert(p.finalized && p.finalizeReason == "expired")
    // a job without createdAt never expires
    val work2 = Files.createTempDirectory("kv-noexp").toString
    val eng2 = new CrawlEngine(spark, pagesDf, work2,
      settings = CrawlEngine.Settings(jobTtlMs = 1L))
    eng2.run(Seq(CrawlConfig("noexp", Seq(SiteGen.pageUrl(0, 0)), strategy = "all", limit = 5)))
    assert(eng2.finalProgress("noexp").finalizeReason != "expired")
  }
}
