package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse}
import org.scalatest.funsuite.AnyFunSuite

/** The measurement subcommands of [[ScalingBench]] and the oracle-SQL line
  * of [[Verify]], run on the shared test session: every line they print
  * parses as JSON and carries the numbers the harness exists to show. */
class ToolHarnessSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("tool-harness-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private implicit val formats: Formats = DefaultFormats

  /** `o` the way a main prints it, read back. */
  private def printed(o: JObject): JValue = parse(Tools.json(o))

  test("graph: equal checksum, node and component counts at two shuffle partition counts") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val lines = try Seq("3", "11").map { n =>
      spark.conf.set(key, n)
      printed(ScalingBench.graph(spark, 4000L, 1500L))
    } finally spark.conf.set(key, before)
    val sums = lines.map(j => Seq("nodes", "components", "checksum").map(k => (j \ k).extract[Long]))
    assert(sums(0) == sums(1))
    assert(sums(0)(0) > 0 && sums(0)(1) > 0)
  }

  test("bpe: every cell learns at most its merges in at least one round") {
    val line = printed(ScalingBench.bpe(spark, 200L, 5))
    val cells = (line \ "cells").extract[List[JValue]]
    assert(cells.size == 4)
    cells.foreach { c =>
      val (learned, merges, rounds) =
        ((c \ "learned").extract[Long], (c \ "merges").extract[Long], (c \ "rounds").extract[Int])
      assert(learned <= merges && rounds >= 1, compact(c))
    }
  }

  test("prep + run: a 200-page wide corpus is crawled whole") {
    val root = Files.createTempDirectory("tool-harness-corpus")
    val dir = root.resolve("corpus").toString
    val (prep, run) = try {
      (printed(ScalingBench.prep(spark, dir, 200, 4, 60)), printed(ScalingBench.run(spark, dir, 4)))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
    assert((prep \ "pages").extract[Int] == 200)
    assert((run \ "corpus_pages").extract[Long] == 200L)
    // 50 pages per host in a 16-ary tree: depths 0-2, so 3 generations
    assert((run \ "fetched").extract[Long] == 200L && (run \ "generations").extract[Int] == 3,
      compact(run))
  }

  test("oracle SQL with quotes, backslashes and control characters round-trips") {
    val sql = Map(
      "q\"01" -> "select '\\d+' as re, \"col\"\tfrom t\r\nwhere c = '\u0001'",
      "q02" -> "select 1")
    val line = Verify.oracleJson(sql)
    assert(!line.exists(_ < ' '), s"a raw control character in $line")
    assert(parse(line).extract[Map[String, String]] == sql)
  }
}
