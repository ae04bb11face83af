package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * N→4N scaling sample for the graph-operator family (the same two-
 * parallelism protocol BENCH.md uses for the crawl engine, applied to
 * [[graft.pipeline.Graph.connectedComponents]]): one fixed seeded random
 * graph, generated on the executors from `spark.range` (no driver
 * materialization, no I/O in the measured window), clustered at the given
 * core count. The default 3 M edges sit ABOVE `starWindowMaxEdges`, so the
 * run starts with the at-scale groupBy+join star rounds (the path a 10^10-
 * edge dedup graph takes), then hands the contracted edge set to the
 * single-task union-find kernel; `star_rounds` in the JSON line counts the
 * rounds before that hand-off (0: no star round was measured).
 *
 * Prints one JSON line: edges/sec plus a partitioning-independent checksum
 * (component count, node count, xor of xxhash64(id, component)) — equal
 * checksums across core counts are the determinism evidence, the same
 * property the engine's trace oracle pins.
 *
 * Usage: runMain graft.GraphBench <cores> [edges] [nodes]
 */
object GraphBench {

  def main(args: Array[String]): Unit = {
    val cores = args.headOption.map(_.toInt).getOrElse(8)
    val nEdges = args.lift(1).map(_.toLong).getOrElse(3000000L)
    val nNodes = args.lift(2).map(_.toLong).getOrElse(1000000L)

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "128").toInt)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // deterministic pseudo-random multigraph, avg degree 2E/N: generated
    // per-partition from the range index, identical at any parallelism
    val edges = spark.range(nEdges).select(
      pmod(xxhash64($"id", lit(1)), lit(nNodes)).as("a"),
      pmod(xxhash64($"id", lit(2)), lit(nNodes)).as("b"))

    val t0 = System.nanoTime()
    val cc = graft.pipeline.Graph.components(edges, "a", "b")
    val sums = cc.labels.agg(
      count(lit(1)),
      countDistinct($"component"),
      expr("bit_xor(xxhash64(id, component))")).head()
    val secs = (System.nanoTime() - t0) / 1e9
    val eps = nEdges / secs

    println(
      s"""{"metric":"cc_edges_per_sec","cores":$cores,"edges":$nEdges,""" +
      s""""nodes":${sums.getLong(0)},"components":${sums.getLong(1)},""" +
      s""""checksum":${sums.getLong(2)},"star_rounds":${cc.starRounds},"seconds":${f"$secs%.2f"},""" +
      s""""edges_per_sec":${f"$eps%.1f"}}""")
    spark.stop()
  }
}
