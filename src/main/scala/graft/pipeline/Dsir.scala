package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Data selection via hashed-n-gram importance weights (DSIR, Xie et al.
 * 2023, arXiv:2302.03169): featurize every document as hashed-BIGRAM
 * bucket counts, learn per-bucket importance weights from a small target
 * corpus vs the raw pool, then keep the raw documents whose summed weight
 * clears a threshold. The selection pillar of the curation layer —
 * complements the dedup ([[Dedup]]/[[SemDedup]]), quality
 * ([[TextAnalysis]]), contamination ([[Decontaminate]]) and mixing
 * ([[Sampling]]) stages.
 *
 * Spark shape for the 100 TB regime:
 *  - Feature space is a FIXED bucket array (2^14 default), so weight
 *    learning is one kernel scan per corpus with per-partition bucket
 *    count arrays — B×P longs reach the driver, independent of corpus
 *    size, and the weight table broadcasts back as a literal array (128 KB
 *    at 2^14 doubles). No shuffle touches document text at any stage.
 *  - Scoring is a second kernel scan (split, bucket, sum) — embarrassingly
 *    parallel, no exchange before the output.
 *
 * The bucket function is CALLER-INJECTABLE (the q40 sampling pattern):
 * production uses [[xxBucket]] (seed-42 xxHash64 over the bigram's UTF-8
 * bytes, the repo-wide digest); the q47 oracle passes an SQL-replayable
 * arithmetic bucket so DuckDB recomputes the whole featurize→learn→score
 * recurrence exactly.
 */
object Dsir {

  /** Bigram buckets default: large enough that collisions don't blur the
    * importance estimate (the paper uses 10^4; 2^14 keeps the broadcast
    * table at 128 KB). */
  val DefaultBuckets: Int = 1 << 14

  /** Production bucket fn: xxHash64("a b") mod buckets (non-negative). */
  def xxBucket(buckets: Int): (String, String) => Int = (a, b) => {
    val h = graft.core.KeyHash.hash64(a + " " + b)
    (((h % buckets) + buckets) % buckets).toInt
  }

  /** Whitespace tokens, empties dropped — mirrors the oracle's
    * `string_split_regex(text, '\s+')` + nonEmpty filter. */
  private def words(text: String): Array[String] =
    text.split("\\s+").filter(_.nonEmpty)

  /** Total bigram count per bucket over a corpus: one kernel scan, one
    * bounded per-partition array — B×P longs to the driver, no shuffle. */
  def bigramBucketCounts(df: DataFrame, textCol: String, buckets: Int,
      bucket: (String, String) => Int): Array[Long] = {
    val spark = df.sparkSession
    import spark.implicits._
    val partials = df.select(col(textCol).cast("string")).as[String]
      .mapPartitions { it =>
        val acc = new Array[Long](buckets)
        it.foreach { text =>
          val ws = words(text)
          var i = 0
          while (i < ws.length - 1) {
            acc(bucket(ws(i), ws(i + 1))) += 1L
            i += 1
          }
        }
        Iterator.single(acc)
      }.collect()
    val out = new Array[Long](buckets)
    partials.foreach { p =>
      var b = 0
      while (b < buckets) { out(b) += p(b); b += 1 }
    }
    out
  }

  /** The paper's smoothed log-ratio weights: w_b = log((ct_b+1)/(Nt+B)) -
    * log((cr_b+1)/(Nr+B)). Pluggable — the oracle query passes an exact
    * integer transform instead (floats stay deterministic either way; only
    * SQL-replayability needs the integer form). */
  def logRatioWeights(ct: Array[Long], cr: Array[Long]): Array[Double] = {
    require(ct.length == cr.length, "bucket arrays must align")
    val nt = ct.sum.toDouble + ct.length
    val nr = cr.sum.toDouble + cr.length
    Array.tabulate(ct.length)(b =>
      math.log((ct(b) + 1L) / nt) - math.log((cr(b) + 1L) / nr))
  }

  /** Learn weights from a target corpus vs the raw pool (two bounded
    * scans), applying `transform` to the two count arrays. When the target
    * is a membership predicate over the raw pool, prefer
    * [[learnWeightsSubset]] — it pays ONE scan instead of two. */
  def learnWeights(target: DataFrame, raw: DataFrame, textCol: String,
      buckets: Int, bucket: (String, String) => Int,
      transform: (Array[Long], Array[Long]) => Array[Double] = logRatioWeights)
      : Array[Double] =
    transform(bigramBucketCounts(target, textCol, buckets, bucket),
      bigramBucketCounts(raw, textCol, buckets, bucket))

  /** Subset fast path: when the target corpus IS `raw.filter(targetCol)`,
    * one kernel scan yields both bucket-count arrays AND the target doc
    * count (for count-scaled thresholds) — at the 100 TB pool size this
    * halves the learn cost vs [[learnWeights]] and drops the separate
    * count job. Returns (weights, targetDocCount); counts are exactly
    * those the two-scan path produces. */
  def learnWeightsSubset(raw: DataFrame, textCol: String,
      targetCol: org.apache.spark.sql.Column, buckets: Int,
      bucket: (String, String) => Int,
      transform: (Array[Long], Array[Long]) => Array[Double] = logRatioWeights)
      : (Array[Double], Long) = {
    val spark = raw.sparkSession
    import spark.implicits._
    // flat (raw counts ++ target counts ++ [target docs]) per partition
    val partials = raw
      .select(col(textCol).cast("string"), targetCol.cast("boolean"))
      .as[(String, Boolean)]
      .mapPartitions { it =>
        val acc = new Array[Long](2 * buckets + 1)
        it.foreach { case (text, isTarget) =>
          val ws = words(text)
          var i = 0
          while (i < ws.length - 1) {
            val b = bucket(ws(i), ws(i + 1))
            acc(b) += 1L
            if (isTarget) acc(buckets + b) += 1L
            i += 1
          }
          if (isTarget) acc(2 * buckets) += 1L
        }
        Iterator.single(acc)
      }.collect()
    val cr = new Array[Long](buckets)
    val ct = new Array[Long](buckets)
    var nt = 0L
    partials.foreach { p =>
      var b = 0
      while (b < buckets) { cr(b) += p(b); ct(b) += p(buckets + b); b += 1 }
      nt += p(2 * buckets)
    }
    (transform(ct, cr), nt)
  }

  /** Score every document (sum of its bigrams' bucket weights, 0.0 for
    * <2-word docs) and flag `keep = score >= threshold`. One kernel scan
    * over a broadcast weight array; returns (idCol, score, keep). */
  def select(df: DataFrame, textCol: String, idCol: String,
      weights: Array[Double], bucket: (String, String) => Int,
      threshold: Double): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val wb = spark.sparkContext.broadcast(weights)
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val w = wb.value
        it.map { case (id, text) =>
          val ws = words(text)
          var s = 0.0
          var i = 0
          while (i < ws.length - 1) {
            s += w(bucket(ws(i), ws(i + 1)))
            i += 1
          }
          (id, s, s >= threshold)
        }
      }
      .toDF(idCol, "score", "keep")
  }
}
