package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Domain-level reputation curation (the RefinedWeb/C4 "judge the site, not
 * just the page" stage): aggregate a per-document score by its source
 * domain, then gate every document on whether its domain's MEAN score
 * clears the corpus-wide mean. Page-level filters pass SEO spam written to
 * look like prose; a domain whose whole corpus scores low is a stronger
 * prior than any single page. The reference has a static ad-domain
 * blocklist (modeled as P7) but no data-driven domain scoring — this is a
 * training-data extension.
 *
 * Scale shape (100 TB):
 *  - stats = one groupBy(domain) with map-side partial combine — count+sum
 *    collapse per mapper, so a skewed mega-domain (wikipedia.org) costs one
 *    combined row per map task, not a hot reduce partition.
 *  - corpus totals come from re-aggregating the (small) stats frame, never
 *    a second scan of the documents.
 *  - the gate joins stats back on domain (null-safe: docs with a null
 *    domain form their own reputation group and are gated, not dropped):
 *    stats ≪ docs, so AQE picks a broadcast build below the threshold and
 *    a skew-split shuffle join above it; either way the docs side never
 *    moves twice.
 *
 * Exactness: callers pass an INTEGRAL score (e.g. quality in 1/10000ths —
 * see q52). Sums of integers are order-independent, and the mean gate is
 * evaluated as `sum_d * total_docs >= total_sum * docs_d` — exact 64-bit
 * integer cross-multiplication, no float accumulation, no division. The
 * totals action also measures max |domain sum| and max domain size and
 * REJECTS inputs whose cross products could exceed 64 bits (re-scale the
 * score or move to DECIMAL(38) first) — a silent wrap would invert keep
 * decisions.
 */
object DomainStats {

  /** (groupCol, docs, score_sum) per domain. Null scores count as 0
    * (SUM-ignores-NULL would silently shrink a domain's mean instead);
    * null domains group together. */
  def stats(df: DataFrame, groupCol: String, scoreCol: String): DataFrame = {
    Contracts.requireIntegral(df, scoreCol, "DomainStats.stats")
    df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("docs"),
        sum(coalesce(col(scoreCol).cast("long"), lit(0L))).as("score_sum"))
  }

  /** Every input row + (src_docs, src_sum, keep): keep ⇔ the row's domain
    * mean score >= the corpus mean score, both evaluated exactly. */
  def filterDocs(df: DataFrame, groupCol: String, scoreCol: String): DataFrame = {
    val st = stats(df, groupCol, scoreCol)
      .withColumnRenamed(groupCol, "__grp")
      .withColumnRenamed("docs", "src_docs")
      .withColumnRenamed("score_sum", "src_sum")
      .localCheckpoint(eager = false)
    val tot = st.agg(sum(col("src_sum")).as("ts"), sum(col("src_docs")).as("td"),
      max(abs(col("src_sum"))).as("ms"), max(col("src_docs")).as("md")).head()
    // empty input: SUM/MAX over zero groups is NULL; keep is vacuous
    val totSum = if (tot.isNullAt(0)) 0L else tot.getLong(0)
    val totDocs = if (tot.isNullAt(1)) 0L else tot.getLong(1)
    val maxAbsSum = if (tot.isNullAt(2)) 0L else tot.getLong(2)
    val maxDocs = if (tot.isNullAt(3)) 0L else tot.getLong(3)
    try {
      java.lang.Math.multiplyExact(maxAbsSum, totDocs)
      java.lang.Math.multiplyExact(Math.abs(totSum), maxDocs)
    } catch {
      case _: ArithmeticException => throw new IllegalArgumentException(
        "DomainStats.filterDocs: the mean-gate cross products exceed 64 " +
          s"bits (max |domain sum| $maxAbsSum x $totDocs docs) — re-scale " +
          "the score to coarser integer units")
    }
    // st is a lazy local checkpoint: the totals action materializes it and
    // the join below reads the same blocks, so the agg runs once. Its
    // blocks are freed when the frame is GC'd; no session cache entry is
    // left behind.
    df.join(st, col(groupCol) <=> col("__grp"))
      .drop("__grp")
      .withColumn("keep",
        col("src_sum") * lit(totDocs) >= lit(totSum) * col("src_docs"))
  }
}
