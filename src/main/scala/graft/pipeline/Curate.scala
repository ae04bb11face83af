package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * The composed training-data curation pipeline: exact dedup → repetition
 * rules → quality floor → stratified sampling, with per-document
 * attribution of the FIRST stage that dropped it (`stage` column:
 * dup | repetition | quality | sample | kept).
 *
 * Scale shape: the document TEXT never shuffles. Dedup reduces to
 * exchanges of narrow pairs — (content_hash, id) aggregated to
 * min-id-per-hash, then (id, keep_id) joined back on the id key, which is
 * the key the corpus is bucketed/partitioned by at rest, so at 100 TB the
 * doc-side of that join is co-located and shuffle-free. Every other stage
 * rides the same single projection: quality score and sampling hash as
 * codegen'd Column expressions, Gopher repetition as a one-pass Scala
 * kernel UDF ([[TextAnalysis.gopherStatsKernel]]). (A window over the content hash
 * would be one pass but would shuffle the full text; two columnar scans +
 * narrow shuffles are strictly cheaper at corpus scale.) Stage order is
 * fixed and attribution is first-match, so attrition stats per stage are
 * well-defined.
 */
object Curate {

  def curate(docs: DataFrame, textCol: String, idCol: String,
      stratumCol: String, rates: Map[String, Double], qualityMin: Double,
      hashCol: Column): DataFrame =
    curateImpl(docs, textCol, idCol, stratumCol, rates, qualityMin, hashCol,
      nearDup = None)

  /**
   * [[curate]] with a NEAR-duplicate stage between exact dedup and the
   * content gates: MinHash-LSH pairs over the exact-dedup survivors →
   * [[Graph.dupClusters]] → one keeper per near-dup cluster. Attribution
   * gains a `neardup` stage (first-match order: dup | neardup | repetition |
   * quality | sample | kept).
   *
   * Scale shape unchanged: pair generation reads text once inside the
   * signature projection ([[Dedup.minhashLshPairs]] — banded bucket
   * equi-join, O(duplicates) shuffle), clustering reads only id pairs (one
   * union-find task while they fit one, star rounds over id pairs above),
   * and the keep flags rejoin on the id key the corpus is bucketed by.
   * Running pairs on survivors (not the raw corpus) keeps exact-dup mass
   * out of the LSH buckets — a 10^6-copy boilerplate page would otherwise
   * put 10^6 ids in one bucket.
   */
  def curateNearDup(docs: DataFrame, textCol: String, idCol: String,
      stratumCol: String, rates: Map[String, Double], qualityMin: Double,
      hashCol: Column,
      numHashes: Int = 32, bands: Int = 8, shingleSize: Int = 3,
      threshold: Double = 0.7): DataFrame =
    curateImpl(docs, textCol, idCol, stratumCol, rates, qualityMin, hashCol,
      nearDup = Some(NearDupCfg(numHashes, bands, shingleSize, threshold)))

  private final case class NearDupCfg(
      numHashes: Int, bands: Int, shingleSize: Int, threshold: Double)

  /** Shared pipeline body: both public entry points differ ONLY by the
    * optional near-dup stage, so the exact-dedup assignment and the gate
    * chain exist exactly once (a divergence between two copies would
    * silently split the pipelines' stage attribution). With `nearDup`
    * absent the `__nd_keep` guard is a constant `true` Catalyst folds
    * away. */
  private def curateImpl(docs: DataFrame, textCol: String, idCol: String,
      stratumCol: String, rates: Map[String, Double], qualityMin: Double,
      hashCol: Column, nearDup: Option[NearDupCfg]): DataFrame = {
    val hashes = docs.select(col(idCol), md5(lower(col(textCol))).as("__h"))
    val keepTbl = hashes.groupBy("__h").agg(min(col(idCol)).as("__keep_id"))
    val assign = hashes.join(keepTbl, Seq("__h"))
      .select(col(idCol), col("__keep_id"))
    val withExact = docs.join(assign, Seq(idCol))

    val withNd = nearDup match {
      case None => withExact.withColumn("__nd_keep", lit(true))
      case Some(cfg) =>
        val survivors = withExact.filter(col(idCol) === col("__keep_id"))
        val pairs = Dedup.minhashLshPairs(survivors, textCol, idCol,
          cfg.numHashes, cfg.bands, cfg.shingleSize, cfg.threshold)
        val ndKeep = Graph.dupClusters(
            survivors.select(col(idCol)), idCol, pairs, "id_a", "id_b")
          .select(col("id").as(idCol), col("keep").as("__nd_keep"))
        withExact.join(ndKeep, Seq(idCol), "left")
          .withColumn("__nd_keep", coalesce(col("__nd_keep"), lit(true)))
    }

    withNd
      .withColumn("stage",
        when(col(idCol) =!= col("__keep_id"), "dup")
          .when(!col("__nd_keep"), "neardup")
          .when(!TextAnalysis.gopherKeep(col(textCol)), "repetition")
          .when(TextAnalysis.qualityScore(col(textCol)) < qualityMin, "quality")
          .when(hashCol >= Sampling.thresholdCol(col(stratumCol), rates, 0.0), "sample")
          .otherwise("kept"))
      .select(col(idCol), col(stratumCol), col("stage"))
  }

  /** Attrition summary: docs per (stage), the monitoring view a pipeline
    * operator actually watches. */
  def attrition(curated: DataFrame): DataFrame =
    curated.groupBy("stage").agg(count(lit(1)).as("docs")).orderBy("stage")
}
