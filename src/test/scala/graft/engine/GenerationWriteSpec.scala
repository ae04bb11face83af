package graft.engine

import java.nio.file.{Files, Path, Paths}

import graft.api.SparkCounts
import graft.core.UrlOps
import graft.fixtures.SiteGen
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** The one generation write: a small generation is one Spark job and one
  * SQL execution; each `__kind` reads back with its own schema; and a
  * workDir in an older build's two-directory layout is refused, not read
  * as empty. */
class GenerationWriteSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("generation-write-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"generation-write-$tag").toString

  private def pagesOf(rows: Seq[SiteGen.PageRow]) = {
    val s = spark; import s.implicits._
    s.createDataset(rows).toDF()
  }

  private def byNorm(rows: Seq[SiteGen.PageRow]): Map[String, String] =
    rows.map(r => UrlOps.normalize(r.url) -> new String(r.html, "UTF-8")).toMap

  private def traceOf(e: CrawlEngine): Seq[(String, Long, String, Int, Int, Int)] =
    e.trace().collect().map(r => (r.getAs[String]("jobId"), r.getAs[Long]("seq"), r.getAs[String]("urlNorm"),
      r.getAs[Int]("depth"), r.getAs[Int]("attempt"), r.getAs[Int]("status"))).toSeq.sortBy(t => (t._1, t._2))

  private def oracleTrace(rows: Seq[SiteGen.PageRow], cfg: CrawlConfig) =
    SequentialOracle.crawl(byNorm(rows), Seq(cfg)).trace
      .map(t => (t.jobId, t.seq, t.urlNorm, t.depth, t.attempt, t.status)).sortBy(t => (t._1, t._2))

  private lazy val rows16 = SiteGen.rows(42L, 80, 16).toSeq
  private val budget8 = CrawlConfig("jgen", Seq(SiteGen.pageUrl(0, 0)), strategy = "all",
    maxDepth = 100, limit = 0, hostBudgetPerStep = 8)

  test("one job and one SQL execution per small generation, and the oracle's trace") {
    val engine = new CrawlEngine(spark, pagesOf(rows16), tmpDir("jobs"), Map.empty,
      CrawlEngine.Settings(compactEvery = 0))
    engine.prepare() // the corpus cache, outside the counted crawl
    val w = SparkCounts.watched(spark)(engine.run(Seq(budget8)))
    val gens = w.out.get.generations
    assert(gens > 1)
    // the seed write, then per generation its one write: schedule, fetch,
    // extract and expansion are RDD stages inside that write's job
    assert(w.jobs == gens + 1, s"$gens generations")
    assert(w.sqlExecutions == w.jobs, s"${w.sqlExecutions} SQL executions for ${w.jobs} jobs")
    assert(traceOf(engine) == oracleTrace(rows16, budget8))
  }

  test("results() is exactly ExtractedRow's schema, trace() keeps its columns, and each kind's files hold its pinned schema") {
    val dir = tmpDir("schema")
    val engine = new CrawlEngine(spark, pagesOf(rows16), dir, Map.empty, CrawlEngine.Settings())
    engine.run(Seq(budget8.copy(limit = 30)))
    def shape(st: StructType) = st.fields.map(f => (f.name, f.dataType)).toSeq
    assert(shape(engine.results().schema) == shape(CrawlEngine.extractedRowEnc.schema))
    val trace = engine.trace()
    assert(trace.columns.toSeq == Seq("jobId", "seq", "url", "urlNorm", "depth", "attempt", "status",
      "success", "terminal", "generation"))
    assert(shape(trace.schema).toSet.subsetOf(shape(CrawlEngine.extractedRowEnc.schema).toSet))
    // every file carries each pinned column with its type: a pinned read
    // over a file lacking one would read nulls, not fail
    val ck = new Checkpoint(dir)
    val last = ck.lastCommitted.map(_.generation).getOrElse(fail("nothing committed"))
    def holds(path: String, pinned: StructType): Unit = {
      val file = spark.read.parquet(path).schema
      pinned.fields.foreach(f => assert(file.fieldNames.contains(f.name) && file(f.name).dataType == f.dataType,
        s"${f.name} in $path"))
    }
    (0 to last).foreach(k => holds(ck.resultsPath(k), CrawlEngine.extractedRowEnc.schema))
    (0 to last + 1).map(ck.frontierPath).filter(p => Files.exists(Paths.get(p)))
      .foreach(holds(_, CrawlEngine.frontierRowFEnc.schema))
  }

  test("an older build's frontier/gen=N and results/gen=N layout: resume, trace and results refuse it, run resets it") {
    val cfg = budget8.copy(jobId = "jold")
    val dir = tmpDir("old")
    val root = Paths.get(dir)
    new CrawlEngine(spark, pagesOf(rows16), dir, Map.empty, CrawlEngine.Settings(maxGenerations = 3))
      .run(Seq(cfg))
    // the layout an older build leaves: the seed frontier in frontier/gen=0,
    // generation k's results in results/gen=k and the frontier it wrote in
    // frontier/gen=k+1, beside the manifests and seen buckets
    val ck = new Checkpoint(dir)
    val last = ck.lastCommitted.map(_.generation).getOrElse(fail("nothing committed"))
    def plant(from: String, to: Path): Unit = if (Files.exists(Paths.get(from))) {
      Files.createDirectories(to.getParent)
      Files.move(Paths.get(from), to)
    }
    (0 to last + 1).foreach(k => plant(ck.frontierPath(k), root.resolve(s"frontier/gen=$k")))
    (0 to last).foreach(k => plant(ck.resultsPath(k), root.resolve(s"results/gen=$k")))
    def rm(p: Path): Unit = {
      if (Files.isDirectory(p)) { val l = Files.list(p); try l.toArray.foreach(x => rm(x.asInstanceOf[Path])) finally l.close() }
      Files.deleteIfExists(p): Unit
    }
    rm(root.resolve("steps"))
    assert(Files.isDirectory(root.resolve(s"results/gen=$last")) && ck.lastCommitted.nonEmpty)

    val engine = new CrawlEngine(spark, pagesOf(rows16), dir, Map.empty, CrawlEngine.Settings())
    Seq[(String, () => Any)]("resume" -> (() => engine.resume(Seq(cfg))), "trace" -> (() => engine.trace()),
        "results" -> (() => engine.results())).foreach { case (call, f) =>
      val e = intercept[IllegalStateException](f())
      Seq("frontier/gen=N", "results/gen=N", "older build").foreach(m =>
        assert(e.getMessage.contains(m), s"$call: ${e.getMessage}"))
    }
    engine.run(Seq(cfg))
    assert(!Files.exists(root.resolve("frontier")) && !Files.exists(root.resolve("results")))
    assert(traceOf(engine) == oracleTrace(rows16, cfg))
  }
}
