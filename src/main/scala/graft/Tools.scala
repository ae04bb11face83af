package graft

import org.apache.spark.sql.SparkSession
import org.json4s.JsonAST.JObject
import org.json4s.jackson.JsonMethods

/** What the tool mains (`Bench`, `Verify`, `PlanAudit`, `ScalingBench`)
  * share: one local session recipe and one JSON line writer. */
object Tools {

  /** `local[cores]` with `shufflePartitions` shuffle partitions, UTC
    * session time, the UI off and WARN logging. */
  def session(cores: Int, shufflePartitions: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `o` as one compact JSON line; json4s escapes quotes, backslashes and
    * every control character. */
  def json(o: JObject): String = JsonMethods.compact(JsonMethods.render(o))
}
