package graft.api

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.column.Encoding
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.UrlOps
import graft.fixtures.SiteGen

/** [[Graft.scrape]] over parquet corpora: the driver-side point read
  * ([[PointRead]]) answers a plain scan with no Spark job and the same
  * result as the scan it replaces; every other `pages` frame, and every
  * url the scan's row order would decide, takes the scan. */
class ScrapePointReadSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val root = Files.createTempDirectory("scrape-point-read").toFile

  override def afterAll(): Unit = {
    spark.stop()
    def rm(f: File): Unit = { Option(f.listFiles).foreach(_.foreach(rm)); f.delete() }
    rm(root)
  }

  import ScrapePointReadSpec.Page

  private val raw = "HTTPS://Host0.example.test:443/twin.html"
  private val twice = "https://host1.example.test/again.html"
  private val nullHtml = "https://host2.example.test/empty.html"
  private def doc(title: String) = s"<html><head><title>$title</title></head><body><p>$title</p></body></html>"

  private lazy val sitePages = SiteGen.rows(42L, 120, 6)
    .map(r => Page(r.url, r.html, r.lang)).toVector
  /** Unique urls; a url stored raw and normalized; a url stored twice; a
    * null url; a null html. */
  private lazy val corpus = sitePages ++ Seq(
    Page(raw, doc("raw").getBytes("UTF-8"), "en"),
    Page(UrlOps.normalize(raw), doc("normalized").getBytes("UTF-8"), "en"),
    Page(twice, doc("first").getBytes("UTF-8"), "en"),
    Page(twice, doc("second").getBytes("UTF-8"), "de"),
    Page(null, doc("no url").getBytes("UTF-8"), "en"),
    Page(nullHtml, null, "en"))

  /** Write options that give each of the 3 files several row groups of
    * several html pages. */
  private val layout = Map(
    "parquet.block.size" -> (6 * 1024).toString,
    "parquet.block.size.row.check.min" -> "4",
    "parquet.block.size.row.check.max" -> "8",
    "parquet.page.size" -> 1024.toString,
    "parquet.page.size.row.check.min" -> "2",
    "parquet.page.row.count.limit" -> "5")

  private val variants = Seq(
    "v1 pages, snappy" -> Map.empty[String, String],
    "v2 pages" -> Map("parquet.writer.version" -> "v2"),
    "gzip" -> Map("compression" -> "gzip"))

  private def write(name: String, opts: Map[String, String], partitionBy: Seq[String] = Nil): String = {
    val s = spark; import s.implicits._
    val path = new File(root, name.replaceAll("\\W+", "-")).getPath
    s.createDataset(corpus).toDF().repartition(3)
      .write.options(layout ++ opts).partitionBy(partitionBy: _*).parquet(path)
    path
  }

  private lazy val corpora: Map[String, String] =
    variants.map { case (name, opts) => name -> write(name, opts) }.toMap
  private def plain(variant: String): DataFrame = spark.read.parquet(corpora(variant))
  /** The same scan with a projection on top: Graft.scrape takes the scan. */
  private def viaScan(pages: DataFrame): DataFrame = pages.withColumn("via_scan", lit(true))

  private def counted[T](f: => T): (T, Int, Int) = SparkCounts.counted(spark)(f)

  private def lookup(pages: DataFrame, url: String) = PointRead.lookup(pages, UrlOps.normalize(url), url)

  test("the test corpora have 3 files of several row groups of several html pages") {
    val conf = spark.sparkContext.hadoopConfiguration
    for ((name, path) <- corpora) {
      val files = new File(path).listFiles.filter(_.getName.endsWith(".parquet"))
      assert(files.length == 3, name)
      for (f <- files) {
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.getPath), conf))
        try {
          // a file's last row group may hold a single page
          val pages = reader.getRowGroups.asScala.map(g => reader.readOffsetIndex(
            g.getColumns.asScala.find(_.getPath.toDotString == "html").get).getPageCount)
          assert(pages.count(_ >= 2) >= 2, s"$name ${f.getName}: html pages per row group $pages")
          val encodings = reader.getRowGroups.asScala.flatMap(_.getColumns.asScala.flatMap(_.getEncodings.asScala))
          // v2 writers encode unique strings with DELTA_BYTE_ARRAY, v1 writers PLAIN
          assert(encodings.contains(Encoding.DELTA_BYTE_ARRAY) == (name == "v2 pages"), s"$name $encodings")
        } finally reader.close()
      }
    }
  }

  test("spark.read.parquet takes the point read: no job, no broadcast") {
    // Fails when a Spark or parquet upgrade changes the plan or reader the
    // point read relies on, rather than letting scrape fall back silently.
    val pages = plain("v1 pages, snappy")
    val url = sitePages(7).url
    assert(lookup(pages, url).exists(_.isDefined), "spark.read.parquet no longer takes the point read")
    val (hit, jobs, broadcasts) = counted(Graft.scrape(spark, pages, url))
    assert(hit.status == 200)
    val (miss, missJobs, missBroadcasts) = counted(Graft.scrape(spark, pages, "https://host0.example.test/nope.html"))
    assert(miss.status == 404 && !miss.success && miss.markdown.isEmpty)
    assert((jobs, broadcasts, missJobs, missBroadcasts) == ((0, 0, 0, 0)))
    // the listener does see the scan's job and its task broadcast
    val (_, scanJobs, scanBroadcasts) = counted(Graft.scrape(spark, viaScan(pages), url))
    assert(scanJobs >= 1 && scanBroadcasts >= 1)
  }

  for ((variant, _) <- variants) test(s"$variant: every url scrapes as the scan does; a miss is a 404") {
    val pages = plain(variant)
    for (p <- sitePages) {
      assert(lookup(pages, p.url).exists(_.isDefined), p.url)
      assert(Graft.scrape(spark, pages, p.url) == Graft.scrape(spark, viaScan(pages), p.url), p.url)
    }
    assert(lookup(pages, "https://host0.example.test/nope.html") == Some(None))
    assert(Graft.scrape(spark, pages, "https://host0.example.test/nope.html").status == 404)
  }

  test("a url stored raw and normalized, or stored twice, takes the scan and its row") {
    for ((variant, _) <- variants; url <- Seq(raw, twice)) {
      val pages = plain(variant)
      assert(lookup(pages, url).isEmpty, s"$variant $url")
      val (got, jobs, _) = counted(Graft.scrape(spark, pages, url))
      assert(jobs >= 1)
      assert(got == Graft.scrape(spark, viaScan(pages), url), s"$variant $url")
    }
  }

  test("null url rows never match; a null html fails on both paths as before") {
    val pages = plain("v1 pages, snappy")
    assert(lookup(pages, "null") == Some(None))
    assert(lookup(pages, nullHtml).exists(_.exists(_.isNullAt(1))))
    intercept[NullPointerException](Graft.scrape(spark, pages, nullHtml))
    intercept[NullPointerException](Graft.scrape(spark, viaScan(pages), nullHtml))
  }

  test("filtered, projected, partitioned, local and user-schema pages take the scan") {
    val s = spark; import s.implicits._
    val path = corpora("v1 pages, snappy")
    val url = sitePages(3).url
    val loud = UrlOps.normalize(url).toUpperCase
    val cases = Seq(
      // each frame answers differently from the plain scan, or its rows
      // come from somewhere the point read cannot read
      ("filtered", spark.read.parquet(path).filter(col("lang") =!= sitePages(3).lang), url, 404),
      ("projected", spark.read.parquet(path).select(upper(col("url")).as("url"), col("html")), loud, 200),
      ("partitioned", spark.read.parquet(write("partitioned", Map.empty, Seq("lang"))), url, 200),
      ("local", corpus.take(10).toDF(), url, 200),
      ("user schema", spark.read.schema("url STRING COLLATE UTF8_LCASE, html BINARY").parquet(path), loud, 200))
    for ((name, pages, u, status) <- cases) {
      assert(lookup(pages, u).isEmpty, name)
      assert(Graft.scrape(spark, pages, u).status == status, name)
    }
  }

  test("2,000 point reads leave the open file count flat") {
    val fds = new File("/proc/self/fd")
    assume(fds.isDirectory, "needs /proc/self/fd")
    val pages = plain("gzip")
    val urls = sitePages.map(_.url)
    urls.foreach(Graft.scrape(spark, pages, _)) // warm: class loading, file system cache
    val before = fds.list().length
    (0 until 2000).foreach(i => assert(Graft.scrape(spark, pages, urls(i % urls.length)).status == 200))
    val after = fds.list().length
    assert(after <= before + 8, s"open files: $before -> $after")
  }
}

object ScrapePointReadSpec {
  final case class Page(url: String, html: Array[Byte], lang: String)
}
