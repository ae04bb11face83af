package graft.engine

import java.nio.file.Files

import graft.fixtures.SiteGen
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** A fault inside a superstep: a page hook that throws while the results
  * write and the frontier write run concurrently. The step must fail with
  * the hook's exception only after the results write has ended, release
  * the step's caches, commit nothing for the generation, and leave a
  * checkpoint that resume() completes to the uninterrupted trace. */
class SuperstepFaultSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("superstep-fault-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val pages = {
    val s = spark; import s.implicits._
    s.createDataset(SiteGen.rows(42L, 80, 4).toSeq).toDF()
  }

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"superstep-fault-$tag").toString

  private def traceOf(e: CrawlEngine): Seq[String] = e.trace().collect().map(_.toString).toSeq

  Seq("default" -> CrawlEngine.Settings(), "wide" -> CrawlEngine.Settings(wideMinRows = 0L))
    .foreach { case (gear, st) =>
      test(s"$gear gears: a throwing page hook fails run(), releases the step's caches, and resume() completes the trace") {
        val s = spark; import s.implicits._
        val cfg = CrawlConfig("jfault", Seq(SiteGen.pageUrl(0, 0)), limit = 60, maxDepth = 10)
        val ref = new CrawlEngine(s, pages, tmpDir("ref"), Map.empty, st)
        ref.run(Seq(cfg))
        // the first page the uninterrupted crawl fetched in generation 2
        val target = ref.trace().where($"generation" === 2 && $"success")
          .orderBy("seq").first().getAs[String]("url")
        val boom = s"page hook failed on $target"
        val hook: PageResult => PageResult = pr =>
          if (pr.url == target) throw new IllegalStateException(boom) else pr

        val dir = tmpDir("fault")
        val engine = new CrawlEngine(s, pages, dir, Map.empty, st)
        engine.prepare()
        // the session's cached-plan count (`numCachedEntries` is sql-private)
        val cache = s.sharedState.cacheManager
        val cachedPlans = cache.getClass.getMethod("numCachedEntries")
        def held = (cachedPlans.invoke(cache), s.sparkContext.getPersistentRDDs.keySet)
        val before = held
        val e = intercept[Exception](engine.run(Seq(cfg.copy(pageHook = Some(hook)))))
        val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
        assert(chain.exists(t => t.isInstanceOf[IllegalStateException] && t.getMessage == boom), e)
        val ck = new Checkpoint(dir)
        assert(ck.lastCommitted.map(_.generation).contains(1) && ck.readManifest(2).isEmpty)
        assert(held == before, "the failed superstep left cached plans or persisted RDDs behind")

        engine.resume(Seq(cfg))
        assert(traceOf(engine) == traceOf(ref))
        assert(engine.finalProgress == ref.finalProgress)
      }
    }
}
