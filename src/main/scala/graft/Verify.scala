package graft
import java.nio.file.{Files, Paths}
import org.json4s.JsonAST.{JObject, JString}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name subset (local iteration)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Tools.session(cpus, cpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        System.err.println(s"[verify] $name ${(System.nanoTime() - t0) / 1000000} ms") }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(SparkEntry.oracleSql))
    spark.stop()
  }

  /** The query → SQL map as one JSON object. */
  private[graft] def oracleJson(sql: Map[String, String]): String =
    Tools.json(JObject(sql.toList.map { case (k, v) => k -> JString(v) }))
}
