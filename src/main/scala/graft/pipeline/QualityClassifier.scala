package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/**
 * Model-based quality filtering: a linear classifier over hashed token
 * features, the "quality classifier" stage of the GPT-3/LLaMA-style curation
 * recipe (Brown et al. 2020 §A "documents classified as high-quality";
 * CCNet's fastText filter) — completing the selection quartet next to the
 * heuristic gates ([[TextAnalysis]] quality scores), the LM-perplexity gate
 * ([[LmScore]]) and importance resampling ([[Dsir]]).
 *
 * The model is a FULL-BATCH INTEGER PERCEPTRON (unit step, bias term):
 * per epoch, every misclassified document contributes `y·x` to the weight
 * update. All arithmetic is in Longs over integer token counts, so the
 * per-epoch gradient is a sum of integers — ORDER-INDEPENDENT, hence
 * bit-stable under any partitioning, retry or speculative re-execution
 * (the same reasoning that makes q58's bit-length surprise and q47's
 * integer transforms replayable). Margins, weights and predictions are
 * exactly reproducible on any cluster size.
 *
 * Spark shape for the 100 TB regime:
 *  - [[featurize]] runs ONCE: one kernel scan folds each document to sparse
 *    (bucket, count) pairs — the narrow cached table the epochs iterate
 *    over. Raw text is never touched again and never shuffles.
 *  - each [[train]] epoch is one pass over the cached features producing a
 *    bounded per-partition partial (B+2 longs); B×P longs reach the driver
 *    per epoch, independent of corpus size; weights broadcast back (B longs,
 *    32 KB at the 2^12 default). No exchange anywhere in training.
 *  - [[score]] is one kernel scan over a broadcast weight array —
 *    embarrassingly parallel, no exchange before the output.
 *
 * The bucket function is CALLER-INJECTABLE (the q40/q47 pattern):
 * production uses [[xxBucket]] (seed-42 xxHash64, the repo-wide digest);
 * oracles may pass an SQL-replayable arithmetic bucket.
 */
object QualityClassifier {

  /** Hashed-unigram bucket count. 2^12 keeps the broadcast weight table at
    * 32 KB while giving the perceptron enough capacity for marker-level
    * vocab (fastText's quality filters use a comparable hashed dim). */
  val DefaultBuckets: Int = 1 << 12

  /** Production bucket fn: xxHash64(token) mod buckets (non-negative). */
  def xxBucket(buckets: Int): String => Int = tok => {
    val h = graft.core.KeyHash.hash64(tok)
    (((h % buckets) + buckets) % buckets).toInt
  }

  /** Whitespace tokens, empties dropped (the q13/q47 tokenizer). */
  private def words(text: String): Array[String] =
    text.split("\\s+").filter(_.nonEmpty)

  /** Sparse hashed features of one document: parallel (bucket, count)
    * arrays, buckets strictly ascending. */
  private def sparse(text: String, buckets: Int, bucket: String => Int)
      : (Array[Int], Array[Int]) = {
    val counts = scala.collection.mutable.TreeMap.empty[Int, Int]
    words(text).foreach { w =>
      val b = bucket(w)
      counts.updateWith(b) { v => Some(v.getOrElse(0) + 1) }
    }
    val idx = new Array[Int](counts.size)
    val cnt = new Array[Int](counts.size)
    var i = 0
    counts.foreach { case (b, c) => idx(i) = b; cnt(i) = c; i += 1 }
    (idx, cnt)
  }

  /** One-time featurization: (label ±1, sparse idx, sparse cnt) per doc.
    * Cache the result — every training epoch re-reads it, never the text. */
  def featurize(df: DataFrame, textCol: String, labelCol: Column,
      buckets: Int = DefaultBuckets,
      bucket: String => Int = xxBucket(DefaultBuckets))
      : Dataset[(Int, Array[Int], Array[Int])] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(labelCol.cast("boolean"), col(textCol).cast("string"))
      .as[(Boolean, String)]
      .mapPartitions { it =>
        it.map { case (y, text) =>
          val (idx, cnt) = sparse(text, buckets, bucket)
          (if (y) 1 else -1, idx, cnt)
        }
      }
  }

  /** Trained model: weights (length buckets, then bias at index `buckets`),
    * epochs actually run, and the error count of the LAST epoch scanned
    * (0 iff the model converged — separable data). */
  final case class Model(weights: Array[Long], epochs: Int, lastErrors: Long)

  /** Full-batch perceptron: epoch t scans the features once under the
    * broadcast weights w_t; every doc with y·(w_t·x + bias) <= 0 adds y·x
    * (and y to the bias) to the update. Stops early at zero errors. */
  def train(feats: Dataset[(Int, Array[Int], Array[Int])], buckets: Int,
      maxEpochs: Int = 10): Model = {
    val spark = feats.sparkSession
    import spark.implicits._
    val w = new Array[Long](buckets + 1) // [buckets] = bias
    var epoch = 0
    var errors = -1L
    while (epoch < maxEpochs && errors != 0L) {
      val wb = spark.sparkContext.broadcast(w.clone())
      // partial = gradient (buckets+1 longs) ++ [error count]
      val partials = feats.mapPartitions { it =>
        val cur = wb.value
        val acc = new Array[Long](buckets + 2)
        it.foreach { case (y, idx, cnt) =>
          var m = cur(buckets) // bias
          var i = 0
          while (i < idx.length) { m += cur(idx(i)) * cnt(i); i += 1 }
          if (y.toLong * m <= 0L) {
            i = 0
            while (i < idx.length) { acc(idx(i)) += y.toLong * cnt(i); i += 1 }
            acc(buckets) += y.toLong
            acc(buckets + 1) += 1L
          }
        }
        Iterator.single(acc)
      }.collect()
      wb.destroy()
      errors = 0L
      partials.foreach { p =>
        var b = 0
        while (b <= buckets) { w(b) += p(b); b += 1 }
        errors += p(buckets + 1)
      }
      epoch += 1
    }
    Model(w, epoch, errors)
  }

  /** Convenience: featurize (cached) + train + unpersist. */
  def trainOnText(df: DataFrame, textCol: String, labelCol: Column,
      buckets: Int = DefaultBuckets,
      bucket: String => Int = xxBucket(DefaultBuckets),
      maxEpochs: Int = 10): Model = {
    val feats = featurize(df, textCol, labelCol, buckets, bucket)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try train(feats, buckets, maxEpochs)
    finally { feats.unpersist(); () }
  }

  /** Score every document under a trained model: exact integer margin and
    * the predicted quality flag (margin > 0 — ties fall to low-quality, the
    * same tie the trainer counts as an error, so a converged model's
    * predictions equal its training labels exactly). One kernel scan,
    * no exchange. Returns (idCol, margin, predicted). */
  def score(df: DataFrame, idCol: String, textCol: String, model: Model,
      bucket: String => Int = xxBucket(DefaultBuckets)): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val buckets = model.weights.length - 1
    val wb = spark.sparkContext.broadcast(model.weights)
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val cur = wb.value
        it.map { case (id, text) =>
          val (idx, cnt) = sparse(text, buckets, bucket)
          var m = cur(buckets)
          var i = 0
          while (i < idx.length) { m += cur(idx(i)) * cnt(i); i += 1 }
          (id, m, m > 0L)
        }
      }
      .toDF(idCol, "margin", "predicted")
  }
}
