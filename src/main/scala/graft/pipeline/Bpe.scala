package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Distributed BPE (byte-pair-encoding) merge learning — tokenizer training
 * as a Spark job, the op that turns a curated corpus into the vocabulary a
 * training run actually consumes (the step after [[Vocab]]'s raw tf/df
 * counts; Sennrich et al. 2016, "Neural Machine Translation of Rare Words
 * with Subword Units").
 *
 * The classic formulation is a greedy loop: count adjacent symbol pairs,
 * merge the most frequent pair everywhere, repeat. The distributed shape
 * that survives 100 TB is the standard word-count factoring:
 *
 *  1. ONE corpus-sized shuffle up front: whitespace-tokenize and reduce to
 *     the UNIQUE-WORD table `(word, count)` with map-side combine — Zipf
 *     makes this table orders of magnitude smaller than the corpus, and it
 *     is the only thing the loop ever touches again.
 *  2. Per merge: explode each word's CURRENT symbol sequence into adjacent
 *     pairs weighted by word count, aggregate (map-side combinable, pair
 *     cardinality is tiny), and take the argmax — a LIMIT-1 point read,
 *     the only driver-side data in the loop (one row per merge).
 *  3. Apply the merge as a per-row kernel over the word table (greedy
 *     left-to-right non-overlapping, the BPE contract), re-rooted through
 *     [[Checkpoints.step]] so the k-th iteration's plan stays constant-size
 *     and each step reads the previous step's cached partitions.
 *
 * The loop is inherently sequential (merge k+1's counts depend on merge k
 * having been applied) — that is the algorithm, not a Spark limitation;
 * what matters at scale is that each iteration is one bounded shuffle over
 * the unique-word table, never the corpus.
 *
 * BATCHED ROUNDS (`batchK > 1`): a 32k-merge vocabulary at one driver
 * round-trip per merge is 32k sequential Spark jobs — days of latency
 * independent of cluster size. The standard remedy is to learn several
 * SYMBOL-DISJOINT merges per round. The acceptance rule here is the
 * local-maxima rule: rank candidates by (count DESC, left, right) and
 * accept candidate p iff NO higher-ranked candidate q conflicts with p,
 * where conflict = sharing a symbol OR a concatenation collision (q's
 * merged string l+r equals a symbol of p, or p's merged string equals a
 * symbol of q) — the collision arm matters when a merged string equals a
 * pre-existing symbol (merging (a,b) mints new "ab" symbols that change
 * the true count of a candidate referencing an older "ab"). Accepted
 * pairs are then capped at `batchK` and the remaining merge budget.
 * Under this rule, applying one accepted pair provably cannot create or
 * destroy occurrences of another, so each accepted pair's round-start
 * count is EXACTLY the count a sequential executor would see at its
 * turn, and applying the batch is order-independent (BpeSpec pins both
 * generatively). What batching does NOT guarantee is the classic greedy
 * SEQUENCE: a merge can mint a brand-new pair whose count outranks the
 * remaining round candidates, and sequential greedy would take that new
 * pair next while the batch has already committed to a round-start
 * candidate (BpeSpec pins a minimal divergence: "cab"x10 + "de"x3 —
 * sequential follows (a,b) with (c,ab); the batch accepts (d,e) in the
 * same round). Batched learning is thus a deterministic,
 * partitioning-independent approximation with exact counts; `batchK = 1`
 * (the default) accepts exactly the rank-1 candidate — the classic
 * sequential algorithm, unchanged. The rule is a pure function of the
 * ranked candidate list — replayable in SQL as a NOT-EXISTS self-join
 * (the q67 oracle does exactly that). Candidates are ranked
 * distributedly and only the top `candTopM` rows reach the driver;
 * acceptance is decided within that window on both sides, so engine and
 * oracle stay bit-equal.
 *
 * Determinism: ties in pair frequency break lexicographically on
 * (left, right) — byte order, partitioning-independent. Symbols are
 * UTF-16 code units at initialization (Scala string chars); the q67
 * fixture is ASCII so the DuckDB oracle's character semantics coincide.
 */
object Bpe {

  /** One learned merge: rank 1 is the first (most frequent) merge. */
  final case class Merge(merge_rank: Int, left: String, right: String, pair_count: Long)

  /** Learn `merges` merge operations from `docs(textCol)`.
    *
    * @return (merge_rank, left, right, pair_count), one row per merge, in
    *         learned order; fewer rows if the corpus runs out of repeated
    *         pairs (`minPairCount`) first.
    */
  def learnMerges(docs: DataFrame, textCol: String, merges: Int,
      minPairCount: Long = 2, batchK: Int = 1, candTopM: Int = 4096): DataFrame =
    learnMergesWithRounds(docs, textCol, merges, minPairCount, batchK, candTopM)._1

  /** [[learnMerges]] plus round telemetry: `_2` is the number of driver
    * round-trips (batched rounds) the loop took — the quantity batching
    * exists to shrink, reported by `ScalingBench bpe` against merges/batchK. */
  def learnMergesWithRounds(docs: DataFrame, textCol: String, merges: Int,
      minPairCount: Long = 2, batchK: Int = 1, candTopM: Int = 4096): (DataFrame, Int) = {
    require(merges >= 1, s"merges must be >= 1, got $merges")
    require(batchK >= 1 && candTopM >= batchK,
      s"need batchK >= 1 and candTopM >= batchK, got $batchK/$candTopM")
    val spark = docs.sparkSession
    val reliable = spark.sparkContext.getCheckpointDir.isDefined

    val wordSchema = StructType(Seq(
      StructField("syms", ArrayType(StringType, containsNull = false), nullable = false),
      StructField("cnt", LongType, nullable = false)))
    val wordEnc = org.apache.spark.sql.Encoders.row(wordSchema)

    // the one corpus-sized shuffle: unique words with counts, as initial
    // single-character symbol sequences
    var words: DataFrame = docs
      .select(explode(split(col(textCol).cast("string"), "\\s+")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .mapPartitions { it =>
        it.map { r =>
          Row(r.getString(0).toCharArray.map(_.toString).toSeq, r.getLong(1))
        }
      }(wordEnc)
      .transform(Checkpoints.step)

    val learned = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var dry = false
    var rounds = 0
    while (learned.length < merges && !dry) {
      rounds += 1
      // adjacent-pair counts, weighted by word count; map-side combinable.
      // Ranked distributedly; only the top-candTopM window (1 row when
      // batchK = 1) ever reaches the driver.
      val window = if (batchK == 1) 1 else candTopM
      val cands: Array[Row] = words
        .select(explode(expr(
          "transform(slice(syms, 1, size(syms) - 1), (s, i) -> struct(s AS l, syms[i + 1] AS r))"))
          .as("p"), col("cnt"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("c"))
        .where(col("c") >= minPairCount)
        .orderBy(col("c").desc, col("l"), col("r"))
        .limit(window)
        .collect()

      if (cands.isEmpty) dry = true
      else {
        // local-maxima acceptance within the ranked window (see scaladoc):
        // p is accepted iff no higher-ranked CANDIDATE shares a symbol or
        // collides by concatenation (either merged string equals a symbol
        // of the other) — the collision arms keep round-start counts exact
        // when a merged string equals a pre-existing symbol.
        val budget = math.min(batchK, merges - learned.length)
        val accepted = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        var i = 0
        while (i < cands.length && accepted.length < budget) {
          val p = cands(i)
          val (pl, pr) = (p.getString(0), p.getString(1))
          val pm = pl + pr
          var conflict = false
          var j = 0
          while (j < i && !conflict) {
            val q = cands(j)
            val (ql, qr) = (q.getString(0), q.getString(1))
            val qm = ql + qr
            conflict = ql == pl || ql == pr || qr == pl || qr == pr ||
              qm == pl || qm == pr || pm == ql || pm == qr
            j += 1
          }
          if (!conflict) accepted += ((pl, pr, p.getLong(2)))
          i += 1
        }
        accepted.foreach { case (l, r, c) => learned += Merge(learned.length + 1, l, r, c) }
        val batch = accepted.map { case (l, r, _) => (l, r) }.toArray
        val next = words.mapPartitions { it =>
          it.map { wr =>
            var syms = wr.getSeq[String](0)
            batch.foreach { case (l, r) => syms = applyMerge(syms, l, r) }
            Row(syms, wr.getLong(1))
          }
        }(wordEnc).transform(Checkpoints.step)
        if (reliable) Checkpoints.drop(words)
        words = next
      }
    }
    (spark.createDataFrame(learned.toSeq)
      .select(col("merge_rank"), col("left"), col("right"), col("pair_count")),
      rounds)
  }

  /**
   * ENCODE: apply a learned merge list to a corpus — the tokenizer-apply
   * half of the train/apply pair (learnMerges is train). Returns
   * `(idCol, toks array<string>)`; callers project `size(toks)` for the
   * token counts that [[Pack]]/[[Mixture]] budget against, or keep the
   * sequence for shard assembly.
   *
   * Per-word semantics are the standard BPE encoder loop: repeatedly find
   * the adjacent pair with the LOWEST merge rank present in the word and
   * merge ALL its non-overlapping occurrences (same [[applyMerge]] kernel
   * as training), until no ranked pair remains. The re-scan matters: a
   * later-rank merge can create an earlier-rank pair, which a single
   * in-order sweep would miss (covered in BpeSpec).
   *
   * Scale shape (100 TB): a pure per-row kernel scan — zero shuffles. The
   * merge table (vocab-sized, ~50k rows) ships once per executor as a
   * broadcast rank map, and a per-PARTITION word→tokens cache exploits
   * Zipf (the head of the word distribution encodes once per task, not
   * once per occurrence). Corpus text never moves.
   */
  def encode(docs: DataFrame, textCol: String, idCol: String,
      merges: Seq[(String, String)], wordCacheSize: Int = 1 << 16): DataFrame = {
    val spark = docs.sparkSession
    val ranks = spark.sparkContext.broadcast(
      merges.zipWithIndex.map { case ((l, r), i) => (l, r) -> i }.toMap)
    val inSchema = docs.select(col(idCol), col(textCol).cast("string")).schema
    val outSchema = StructType(Seq(
      inSchema.head,
      StructField("toks", ArrayType(StringType, containsNull = false), nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    docs.select(col(idCol), col(textCol).cast("string"))
      .mapPartitions { it =>
        val rk = ranks.value
        val cache = new java.util.HashMap[String, Array[String]]()
        it.map { row =>
          val text = if (row.isNullAt(1)) "" else row.getString(1)
          val out = Array.newBuilder[String]
          text.split("\\s+").foreach { w =>
            if (w.nonEmpty) {
              var e = cache.get(w)
              if (e == null) {
                e = encodeWord(w, rk)
                if (cache.size < wordCacheSize) cache.put(w, e)
              }
              out ++= e
            }
          }
          Row(row.get(0), out.result().toSeq)
        }
      }(enc)
  }

  /** One word through the lowest-rank-pair loop (see [[encode]]).
    * Array-backed throughout — the scan indexes every position each round. */
  private[pipeline] def encodeWord(w: String, ranks: Map[(String, String), Int]): Array[String] = {
    var syms: Array[String] = w.toCharArray.map(_.toString)
    var done = syms.length < 2
    while (!done) {
      var bestRank = Int.MaxValue
      var bl: String = null; var br: String = null
      var i = 0
      while (i < syms.length - 1) {
        val r = ranks.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < bestRank) { bestRank = r; bl = syms(i); br = syms(i + 1) }
        i += 1
      }
      if (bl == null) done = true
      else {
        syms = applyMerge(scala.collection.immutable.ArraySeq.unsafeWrapArray(syms), bl, br).toArray
        if (syms.length < 2) done = true
      }
    }
    syms
  }

  /** Greedy left-to-right non-overlapping merge of adjacent (l, r). */
  private[pipeline] def applyMerge(syms: Seq[String], l: String, r: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var i = 0
    val n = syms.length
    while (i < n) {
      if (i + 1 < n && syms(i) == l && syms(i + 1) == r) {
        out += (l + r); i += 2
      } else {
        out += syms(i); i += 1
      }
    }
    out.result()
  }
}
