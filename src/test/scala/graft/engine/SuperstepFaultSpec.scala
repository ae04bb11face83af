package graft.engine

import java.nio.file.Files

import graft.api.SparkCounts
import graft.fixtures.SiteGen
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** A fault inside a superstep, while the results write and the frontier
  * write run concurrently: a page hook that throws in the extract pass both
  * writes read, or a priority function that throws in the frontier write
  * alone. The step must fail with the fault's exception only after the
  * results write has ended, release the step's caches, commit nothing for
  * the generation, and leave a checkpoint that resume() completes to the
  * uninterrupted trace. */
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

  /** A fault case: the crawl's config, and the same config with a fault on
    * a target that the uninterrupted crawl (engine and checkpoint) picks,
    * with the fault's message; `resultsWritten`: the failing step's results
    * write still commits all its rows. */
  private final case class Fault(name: String, cfg: CrawlConfig, resultsWritten: Boolean,
      faulty: (CrawlEngine, Checkpoint) => (CrawlConfig, String))

  private val base = CrawlConfig("jfault", Seq(SiteGen.pageUrl(0, 0)), limit = 60, maxDepth = 10)

  /** The page hook runs in the extract pass, which both writes read. */
  private val pageHookFault = Fault("a throwing page hook", base, resultsWritten = false, { (ref, _) =>
    val s = spark; import s.implicits._
    // the first page the uninterrupted crawl fetched in generation 2
    val target = ref.trace().where($"generation" === 2 && $"success")
      .orderBy("seq").first().getAs[String]("url")
    val boom = s"page hook failed on $target"
    val hook: PageResult => PageResult = pr =>
      if (pr.url == target) throw new IllegalStateException(boom) else pr
    (base.copy(pageHook = Some(hook)), boom)
  })

  /** The priority function runs in the candidate filter, inside the frontier
    * write alone: the results write of the failing step completes. */
  private val priorityFault = {
    val priority: String => Long = n => n.length.toLong
    val cfg = base.copy(priorityOf = Some(priority))
    Fault("a throwing priority function", cfg, resultsWritten = true, { (_, ck) =>
      val s = spark; import s.implicits._
      // a candidate the uninterrupted crawl first enqueued in generation 2,
      // linked from no page of generations 0 and 1, so generation 2 is the
      // first to filter it
      val earlier = (0 to 1).flatMap(k => s.read.parquet(ck.resultsPath(k))
        .as[CrawlEngine.ExtractedRow].collect().flatMap(_.links.map(graft.core.UrlOps.normalize))).toSet
      val target = s.read.parquet(ck.frontierPath(3)).as[CrawlEngine.FrontierRowF].collect()
        .filter(r => r.__fresh && !earlier(r.urlNorm)).map(_.urlNorm).min
      val boom = s"priority failed on $target"
      val throwing: String => Long = n =>
        if (n == target) throw new IllegalStateException(boom) else priority(n)
      (cfg.copy(priorityOf = Some(throwing)), boom)
    })
  }

  for ((gear, st) <- Seq("default" -> CrawlEngine.Settings(), "wide" -> CrawlEngine.Settings(wideMinRows = 0L));
       fault <- Seq(pageHookFault, priorityFault))
    test(s"$gear gears: ${fault.name} fails run(), releases the step's caches, and resume() completes the trace") {
      val s = spark
      val refDir = tmpDir("ref")
      val refCk = new Checkpoint(refDir)
      val ref = new CrawlEngine(s, pages, refDir, Map.empty, st)
      ref.run(Seq(fault.cfg))
      val (faulty, boom) = fault.faulty(ref, refCk)

      val dir = tmpDir("fault")
      val engine = new CrawlEngine(s, pages, dir, Map.empty, st)
      engine.prepare()
      // the session's cached-plan count (`numCachedEntries` is sql-private)
      val cache = s.sharedState.cacheManager
      val cachedPlans = cache.getClass.getMethod("numCachedEntries")
      def held = (cachedPlans.invoke(cache), s.sparkContext.getPersistentRDDs.keySet)
      val before = held
      val (out, _, _, running) = SparkCounts.watched(s)(engine.run(Seq(faulty)))
      // Spark does not cancel a broadcast exchange that the failed query's
      // adaptive plan submits as it fails; it runs to its end on its own.
      // Any other job still running (the results write) is a barrier fault.
      val stray = running.filterNot(_._2.contains("broadcast exchange"))
      assert(stray.isEmpty, s"jobs $stray still ran when run() returned")
      val e = out.failed.get
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists(t => t.isInstanceOf[IllegalStateException] && t.getMessage == boom), e)
      val ck = new Checkpoint(dir)
      assert(ck.lastCommitted.map(_.generation).contains(1) && ck.readManifest(2).isEmpty)
      if (fault.resultsWritten) {
        val conf = s.sessionState.newHadoopConf()
        assert(ck.committedRowCount(ck.resultsPath(2), conf) == refCk.committedRowCount(refCk.resultsPath(2), conf))
      }
      assert(held == before, "the failed superstep left cached plans or persisted RDDs behind")

      engine.resume(Seq(fault.cfg))
      assert(traceOf(engine) == traceOf(ref))
      assert(engine.finalProgress == ref.finalProgress)
    }
}
