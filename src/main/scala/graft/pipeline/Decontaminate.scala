package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Benchmark decontamination for training-data pipelines: flag corpus
 * documents that overlap an evaluation set by at least `minHits` distinct
 * word n-grams (the GPT-3/Llama-style 13-gram rule).
 *
 * Scale shape: the benchmark side is tiny versus the corpus (a full eval
 * suite is ~10^5 shingles), so its distinct shingle hashes become the BUILD
 * side of a broadcast join; the 100 TB corpus streams map-side — shingle,
 * hash, probe, partial-count — and only (doc, hits>0) survivors reach the
 * one aggregate exchange. No shuffle of corpus text, ever; the doc side is
 * a single projection inside whole-stage codegen (split/slice/xxhash64
 * Column expressions, no UDF).
 */
object Decontaminate {

  /** Distinct 64-bit hashes of all `n`-word shingles: lowercased,
    * whitespace-tokenized, first-occurrence order, empty below `n` words.
    * A Scala kernel (same digest as the `xxhash64` Column — seed-42
    * xxHash64 over UTF-8): the equivalent higher-order Column pipeline
    * runs INTERPRETED per element, ~3 orders of magnitude slower per doc
    * (the q20 shingle-kernel lesson). One allocation-lean pass. */
  private[pipeline] def shingleHashSetKernel(text: String, n: Int): Array[Long] = {
    if (text == null) return Array.emptyLongArray
    val toks = text.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)
    if (toks.length < n) return Array.emptyLongArray
    val seen = new java.util.HashSet[java.lang.Long]()
    val out = new scala.collection.mutable.ArrayBuilder.ofLong
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= toks.length - n) {
      sb.setLength(0)
      var k = 0
      while (k < n) { if (k > 0) sb.append(' '); sb.append(toks(i + k)); k += 1 }
      val h = graft.core.KeyHash.hash64(sb.toString)
      if (seen.add(h)) out += h
      i += 1
    }
    out.result()
  }

  /** [[shingleHashSetKernel]] as a column (applied to both corpus and
    * eval sides, so the join keys agree by construction). */
  def shingleHashes(textCol: org.apache.spark.sql.Column, n: Int): org.apache.spark.sql.Column = {
    val f = udf((t: String) => shingleHashSetKernel(t, n))
    f(textCol)
  }

  /**
   * Returns (idCol, hits, contaminated) for every document: `hits` =
   * number of DISTINCT benchmark shingles present in the doc,
   * `contaminated` = hits >= minHits.
   */
  def flag(docs: DataFrame, textCol: String, idCol: String,
      bench: DataFrame, benchTextCol: String,
      n: Int = 13, minHits: Int = 2): DataFrame = {
    val benchHashes = bench
      .select(explode(shingleHashes(col(benchTextCol), n)).as("__h"))
      .distinct()
    val docShingles = docs
      .select(col(idCol), explode_outer(shingleHashes(col(textCol), n)).as("__h"))
    // LEFT join against the broadcast bench table so hit-less docs keep a
    // row (hits=0); the aggregate is partial (map-side combine) on idCol
    val hits = docShingles
      .join(broadcast(benchHashes.withColumn("__hit", lit(1))), Seq("__h"), "left")
      .groupBy(col(idCol))
      .agg(coalesce(sum("__hit"), lit(0)).cast("long").as("hits"))
    hits.withColumn("contaminated", col("hits") >= minHits)
  }
}
