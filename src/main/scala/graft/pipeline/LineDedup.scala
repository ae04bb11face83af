package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Corpus-level line deduplication (CCNet-style boilerplate removal; also
 * RefinedWeb's "line-wise corrections"): a line whose trimmed form occurs
 * at least `minCount` times across the whole corpus is boilerplate
 * ("Subscribe to our newsletter", cookie banners, nav menus) and is
 * removed from every document. Lines that are empty after trimming are
 * document structure, not boilerplate: they are never counted and never
 * removed. The reference engine has no corpus-wide pass at all (it scrapes
 * page-at-a-time; `packages/scrape` post-processes single documents) — this
 * is one of the training-data extensions the Spark engine adds on top.
 *
 * Shaped for 100 TB in two stages:
 *
 *  1. FREQUENCY — explode lines, key by `xxhash64(trim(line))` (8-byte
 *     shuffle keys, never line text), `groupBy` with map-side partial
 *     combine so only unique hashes shuffle. The frequent set (count >=
 *     minCount) is bounded above by total_lines / minCount regardless of
 *     corpus size.
 *  2. REWRITE — when the frequent set fits (`maxBroadcastLines`), it is
 *     collected as a sorted long array, broadcast, and every document is
 *     rewritten in ONE kernel pass (binary-search membership per line):
 *     no explode, no reassembly shuffle, output partitioning == input
 *     partitioning. Above the threshold: posexplode + left-anti hash join
 *     on the line hash + groupBy reassembly (array_sort over (pos, line)
 *     structs) — the orthodox shuffled path, whose anti-join build side is
 *     exactly the bounded frequent set (checkpointed, so the probe that
 *     sized it never recomputes the corpus-wide aggregation). Both paths
 *     emit identical rows (LineDedupSpec pins equality on a corpus
 *     straddling the threshold, including tab/CR-edged lines).
 *
 * Trimming uses SQL `trim` semantics — ASCII space (0x20) only, NOT Java
 * String.trim's "everything <= 0x20" — in BOTH stages, so "footer  " and
 * "footer" pool their counts while "footer\r" (CRLF artifact) is a
 * distinct line on every path. Run Normalize first if CRLF should fold.
 * The emitted line keeps its original bytes. Hash collisions conflate two
 * distinct lines' counts with probability ~2^-64 per pair — the same
 * accepted trade as the MinHash/exact-dedup family (Dedup.scala). Null
 * text reads as '' (one empty structural line), identically on both paths.
 */
object LineDedup {

  /** SQL-trim (strip leading/trailing 0x20 only), matching the `trim`
    * Column used by the frequency stage and the join path. */
  private def sqlTrim(s: String): String = {
    var a = 0
    var b = s.length
    while (a < b && s.charAt(a) == ' ') a += 1
    while (b > a && s.charAt(b - 1) == ' ') b -= 1
    if (a == 0 && b == s.length) s else s.substring(a, b)
  }

  /** Seed-42 xxHash64 of the SQL-trimmed line — identical digest to the
    * `xxhash64(trim(line))` Column used by the frequency stage. */
  def lineHash(line: String): Long =
    graft.core.KeyHash.hash64(sqlTrim(line))

  private def trimmedNonEmpty(line: Column): Column =
    length(trim(line)) > 0

  /** (line_hash, cnt) for every trimmed non-empty line occurring at least
    * `minCount` times corpus-wide. Within-document repeats count — a line
    * pasted 50 times in one page is as boilerplate as one pasted once in
    * 50 pages. Null texts contribute nothing. */
  def frequentLines(df: DataFrame, textCol: String, minCount: Long): DataFrame = {
    require(minCount >= 2, s"minCount must be >= 2, got $minCount — " +
      "1 would drop every non-empty line in the corpus")
    val line = explode(split(coalesce(col(textCol), lit("")), "\n", -1)).as("__line")
    df.select(line)
      .filter(trimmedNonEmpty(col("__line")))
      .groupBy(xxhash64(trim(col("__line"))).as("line_hash"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
  }

  /**
   * Remove corpus-frequent lines from every document. Returns one row per
   * input row: (idCol, text_clean, n_lines, kept_lines) — `n_lines` the
   * original line count, `text_clean` the kept lines re-joined with '\n'
   * ('' when every line is dropped). `idCol` must be integral and non-null
   * (same contract as Pack.shardByBudget).
   *
   * `maxBroadcastLines` picks the rewrite strategy (see object doc); tests
   * inject a tiny value to force the join path onto small corpora.
   */
  def clean(df: DataFrame, idCol: String, textCol: String, minCount: Long,
      maxBroadcastLines: Int = 1 << 22): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    Contracts.requireIntegral(df, idCol, "LineDedup.clean")
    // one null rule for both paths: null text == '' (one empty line)
    val src = df.select(col(idCol), coalesce(col(textCol), lit("")).as(textCol))
    // materialized: the sizing probe below and (on the join path) the
    // anti-join build side reuse it — without this the corpus-wide
    // frequency aggregation would run twice. A lazy local checkpoint
    // (blocks freed when the frame is GC'd), not a session cache entry
    // nothing unpersists.
    val freq = frequentLines(src, textCol, minCount).localCheckpoint(eager = false)
    val headRows = freq.select(col("line_hash")).take(maxBroadcastLines + 1)

    if (headRows.length <= maxBroadcastLines) {
      // Kernel path: one pass over the documents, zero further shuffles.
      val hashes = headRows.map(_.getLong(0)).sorted
      val bc = spark.sparkContext.broadcast(hashes)
      val base = src.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      base.map { case (id, text) =>
        val arr = bc.value
        val lines = text.split("\n", -1)
        val sb = new java.lang.StringBuilder
        var kept = 0L
        var i = 0
        while (i < lines.length) {
          val t = sqlTrim(lines(i))
          val drop = t.nonEmpty &&
            java.util.Arrays.binarySearch(arr, lineHash(lines(i))) >= 0
          if (!drop) {
            if (kept > 0) sb.append('\n')
            sb.append(lines(i))
            kept += 1
          }
          i += 1
        }
        (id, sb.toString, lines.length.toLong, kept)
      }.toDF(idCol, "text_clean", "n_lines", "kept_lines")
    } else {
      // Join path: the anti-join's build side is the bounded frequent set.
      val lines = src.select(col(idCol).cast("long").as("__id"),
          posexplode(split(col(textCol), "\n", -1)).as(Seq("__pos", "__line")))
      val kept = lines.join(freq,
        xxhash64(trim(col("__line"))) === col("line_hash")
          && trimmedNonEmpty(col("__line")),
        "left_anti")
      val rebuilt = kept.groupBy(col("__id"))
        .agg(
          concat_ws("\n",
            transform(
              array_sort(collect_list(struct(col("__pos"), col("__line")))),
              s => s.getField("__line"))).as("text_clean"),
          count(lit(1)).as("kept_lines"))
      src.select(col(idCol).cast("long").as("__id"),
          (size(split(col(textCol), "\n", -1))).cast("long").as("n_lines"))
        .join(rebuilt, Seq("__id"), "left")
        .select(col("__id").as(idCol),
          coalesce(col("text_clean"), lit("")).as("text_clean"),
          col("n_lines"),
          coalesce(col("kept_lines"), lit(0L)).as("kept_lines"))
    }
  }
}
