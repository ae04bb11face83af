package perfbench

import scala.collection.mutable
import org.json4s.{JArray, JInt}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.pipeline.{Curate, Dedup, Graph}

/**
 * `curate`: the `pipeline` layer, which no other workload touches. Repeated
 * `Curate.curateNearDup` calls over the q45-shaped corpus: groups of five
 * documents, one leader, one exact duplicate and three near duplicates, so
 * 80% of the documents are duplicates. Content gates are open (quality floor
 * -1, sampling rate 1), so only the two dedup stages can drop a document and
 * each document's stage follows from `doc_id % 5`.
 */
final class CurateWorkload extends Workload {
  import CurateWorkload._

  private var path: String = _
  private var docs: DataFrame = _

  def generate(ctx: Ctx): Unit = {
    path = ctx.dir("input-curate")
    Inputs.writeCurationDocs(ctx.spark, ctx.seed, Docs, path)
  }

  def setUp(ctx: Ctx): Unit = {
    docs = ctx.spark.read.parquet(path)
    docs.count(): Unit
  }

  private def curate(): DataFrame =
    Curate.curateNearDup(docs, "text", "doc_id", "stratum", Map("all" -> 1.0), qualityMin = -1.0,
      hashCol = lit(0L))

  /** Wrong stages in one curation result. */
  private def wrong(rows: Array[org.apache.spark.sql.Row]): Int =
    rows.count(r => r.getString(1) != Inputs.expectedStage(r.getLong(0))) + math.abs(Docs - rows.length)

  def warmUp(ctx: Ctx): Unit = { wrong(curate().select("doc_id", "stage").collect()); () }

  def measure(ctx: Ctx, seconds: Double, tracer: Option[Tracer]): Outcome = {
    val callMs = mutable.ArrayBuffer.empty[Double]
    var failed = 0L
    val cpu0 = Proc.cpuNs
    (1 to Workload.opsFor(seconds, NominalCallS)).foreach { _ =>
      val t0 = System.nanoTime()
      val rows = Workload.call(tracer, "Curate.curateNearDup", "pipeline") {
        curate().select("doc_id", "stage").collect()
      }
      callMs += (System.nanoTime() - t0) / 1e6
      failed += wrong(rows)
    }
    val cpuNs = Proc.cpuNs - cpu0
    val docsTotal = Docs.toLong * callMs.length
    val docsPerS = docsTotal / (callMs.sum / 1e3)
    val call = Stats.summary(callMs.toSeq)
    val measured = Map(
      "items_per_s" -> Metric(docsPerS, "1/s"),
      "op_p50_ms" -> Metric(call.p50, "ms"),
      "cpu_ms_per_item" -> Metric(cpuNs / 1e6 / docsTotal, "ms"))
    val named = Seq(
      "curate_docs_per_s" -> Report.metric(docsPerS, "1/s"),
      "curate_call_ms" -> call.json,
      "call_ms" -> JArray(callMs.map(Report.num).toList),
      "docs_per_call" -> JInt(Docs),
      "duplicate_share" -> Report.metric(0.8, "ratio"))
    tracer match {
      case None => Outcome(docsTotal, failed, measured, named)
      case Some(t) =>
        // the two dedup steps curateNearDup composes, called directly on the
        // same documents: MinHash-LSH pairs over the exact-dedup survivors,
        // then connected-component clusters over those pairs
        val survivors = docs.filter(col("doc_id") % 5 =!= 1)
        val (pairs, pairsS) = timed(Workload.call(tracer, "Dedup.minhashLshPairs", "pipeline") {
          Dedup.minhashLshPairs(survivors, "text", "doc_id").localCheckpoint()
        })
        val nPairs = pairs.count()
        val (_, ccS) = timed(Workload.call(tracer, "Graph.dupClusters", "pipeline") {
          Graph.dupClusters(survivors.select(col("doc_id")), "doc_id", pairs, "id_a", "id_b").count()
        })
        t.drain()
        val res = t.finish()
        res.write(ctx.work.resolve(s"trace-curate-${ctx.seed}.jsonl"))
        val calls = callMs.length.toDouble
        val c = Tracer.counters(res.jobsUnder(_.name == "Curate.curateNearDup"))
        val cc = Tracer.counters(res.jobsUnder(_.name == "Graph.dupClusters"))
        val layers = Map(
          "pipeline.minhash_pairs_s" -> pairsS,
          "pipeline.pairs" -> nPairs.toDouble,
          "pipeline.dup_clusters_s" -> ccS,
          "pipeline.cc_jobs" -> cc.jobs.toDouble,
          "pipeline.jobs" -> c.jobs / calls,
          "pipeline.shuffle_write_bytes" -> c.shuffleWrite / calls,
          "pipeline.exec_cpu_s" -> c.cpuS / calls)
        Outcome(docsTotal, failed, measured, named, layers)
    }
  }

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = f
    (v, (System.nanoTime() - t0) / 1e9)
  }
}

object CurateWorkload {
  /** Documents per curation call. */
  val Docs = 4000
  /** Seconds per call that set the calls in a window: 2 in 15 s. */
  val NominalCallS = 7.5
}
