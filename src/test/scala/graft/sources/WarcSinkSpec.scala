package graft.sources

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class WarcSinkSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("warcsink-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private def pages(n: Int) = (0 until n).map { i =>
    (s"https://h${i % 5}.example.test/p$i",
      new java.sql.Timestamp(1700000000000L + i * 1000L),
      if (i % 7 == 3) 404 else 200,
      s"<html><body>export page $i</body></html>".getBytes("UTF-8"))
  }.toDF("url", "warc_ts", "status", "html")

  private def tmpDir() = {
    val d = Files.createTempDirectory("graft-warcsink-spec").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  test("round trip: read(write(df)) recovers url/ts/status/payload exactly") {
    val dir = tmpDir()
    val in = pages(37)
    val manifest = Warc.write(in, dir, partitions = 4).collect()
    assert(manifest.map(_.getLong(1)).sum == 37)
    assert(manifest.length <= 4 && manifest.nonEmpty)
    val back = Warc.read(spark, dir + "/part-*.warc.gz")
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getString(0), r.getTimestamp(1).getTime, r.getInt(2),
        new String(r.getAs[Array[Byte]](3), "UTF-8"))
    assert(back.collect().map(key).sortBy(_._1).toSeq
      == in.collect().map(key).sortBy(_._1).toSeq)
  }

  test("deterministic bytes: two writes of the same data are byte-identical") {
    val (d1, d2) = (tmpDir(), tmpDir())
    Warc.write(pages(19), d1, partitions = 2).collect()
    Warc.write(pages(19), d2, partitions = 2).collect()
    val f = (d: String) => new java.io.File(d).listFiles().sortBy(_.getName)
    assert(f(d1).map(_.getName).toSeq == f(d2).map(_.getName).toSeq)
    f(d1).zip(f(d2)).foreach { case (a, b) =>
      assert(java.util.Arrays.equals(Files.readAllBytes(a.toPath),
        Files.readAllBytes(b.toPath)), s"${a.getName} differs")
    }
  }

  test("manifest matches the files on disk; empty partitions write nothing") {
    val dir = tmpDir()
    // 3 rows into 8 partitions: most partitions are empty
    val m = Warc.write(pages(3), dir, partitions = 8).collect()
    val files = new java.io.File(dir).listFiles().map(f => f.getName -> f.length()).toMap
    assert(m.map(_.getString(0)).toSet == files.keySet)
    m.foreach(r => assert(r.getLong(2) == files(r.getString(0))))
    assert(m.map(_.getLong(1)).sum == 3)
    // checksums are off only for the archives: a later local parquet write
    // in the same JVM still gets its .crc files
    val other = tmpDir() + "/after-warc"
    Seq(1, 2, 3).toDF("x").write.parquet(other)
    assert(new java.io.File(other).list().exists(_.endsWith(".crc")))
  }

  test("null payload exports as an empty record body") {
    val dir = tmpDir()
    val df = Seq(("https://h0.example.test/null",
      new java.sql.Timestamp(1700000000000L), 200)).toDF("url", "warc_ts", "status")
      .withColumn("html", lit(null).cast("binary"))
    Warc.write(df, dir).collect()
    val back = Warc.read(spark, dir + "/part-*.warc.gz").collect()
    assert(back.length == 1)
    assert(back(0).getAs[Array[Byte]]("html").isEmpty)
    assert(back(0).getInt(2) == 200)
  }
}
