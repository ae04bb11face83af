package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Similarity search over an embedding column (`array<float>`).
 *
 * - [[bruteForceTopK]] is the exact baseline: one codegen'd pass computing
 *   cosine against a broadcast query vector, then a distributed top-k
 *   (`orderBy.limit` — Spark plans it as TakeOrderedAndProject: per-partition
 *   heaps, no full sort, no single-partition shuffle).
 * - [[lshTopK]] is the scale path: random-hyperplane signatures bucket the
 *   corpus; only buckets within a Hamming probe radius of the query's
 *   signature are scored. Recall measured against brute force in tests.
 *
 * All arithmetic in double precision via `aggregate`/`zip_with` Column
 * expressions — no UDF, stays in whole-stage codegen.
 */
object Similarity {

  /** Cosine similarity of two array<float|double> columns, in double. */
  def cosineCol(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val na = sqrt(aggregate(a, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double")))
    val nb = sqrt(aggregate(b, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double")))
    when(na > 0 && nb > 0, dot / (na * nb)).otherwise(lit(0.0))
  }

  /** Cosine against a constant query vector (broadcast as a literal array —
    * no join, fully codegen'd). */
  def cosineToQuery(vec: Column, query: Seq[Double]): Column =
    cosineCol(vec, array(query.map(lit): _*))

  /** Exact top-k by cosine: returns (idCol, score) ordered desc. */
  def bruteForceTopK(df: DataFrame, vecCol: String, idCol: String,
      query: Seq[Double], k: Int): DataFrame =
    df.select(col(idCol), cosineToQuery(col(vecCol), query).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)

  /** Deterministic pseudo-random hyperplane component for (plane p, dim i). */
  private def planeComponent(seed: Long, p: Int, i: Column): Column = {
    // xxhash64 -> approximately uniform in [-1, 1]
    (xxhash64(lit(seed), lit(p), i).cast("double") / lit(Long.MaxValue.toDouble))
  }

  /** Random-hyperplane LSH signature (SimHash for vectors): `planes`-bit
    * integer, bit p = sign(v · r_p). Pure Column expressions. */
  def hyperplaneSignature(vec: Column, planes: Int, seed: Long): Column = {
    val bits = (0 until planes).map { p =>
      val dot = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (x, i) => x.cast("double") * planeComponent(seed, p, i)),
        lit(0.0), (acc, v) => acc + v)
      when(dot >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** The plane components are loop-INVARIANT — `xxhash64(seed, p, i)`
    * depends on nothing per-row, yet [[hyperplaneSignature]] recomputes
    * planes×dim hashes for every vector (768 hash calls/row at 12×64; the
    * hashing dominates the dot product). This hoists them once into a
    * literal matrix via one bounded Spark job using the IDENTICAL
    * expression (same argument types), so signatures stay bit-equal —
    * asserted by a spec. At 10^9 rows this removes ~10^12 hash calls. */
  def planeMatrix(spark: org.apache.spark.sql.SparkSession,
      planes: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    val rows = spark.range(planes.toLong * dim).select(
      (col("id") / dim).cast("int").as("p"),
      (col("id") % dim).cast("int").as("i"),
      (xxhash64(lit(seed), (col("id") / dim).cast("int"),
          (col("id") % dim).cast("int")).cast("double")
        / lit(Long.MaxValue.toDouble)).as("c"))
      .collect()
    val m = Array.ofDim[Double](planes, dim)
    rows.foreach(r => m(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
    m
  }

  /** [[hyperplaneSignature]] against a precomputed [[planeMatrix]]:
    * bit-identical output, no per-row hashing. Vectors longer than the
    * matrix's dim are NOT supported (matches the caller's fixed-dim
    * corpus contract). */
  def hyperplaneSignatureFast(vec: Column, planeMat: Array[Array[Double]]): Column = {
    val bits = planeMat.indices.map { p =>
      val planeLit = array(planeMat(p).map(lit).toSeq: _*)
      val dot = aggregate(
        zip_with(vec, slice(planeLit, lit(1), size(vec)),
          (x, c) => x.cast("double") * c),
        lit(0.0), (acc, v) => acc + v)
      when(dot >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Dimension of the vector column: the size of its first non-null vector
    * (ANSI `size(null)` is null), 0 when it has none. One bounded point-read. */
  def vecDim(df: DataFrame, vecCol: String): Int =
    df.where(col(vecCol).isNotNull).select(size(col(vecCol))).head(1).headOption.fold(0)(_.getInt(0))

  /** The centroid-selection stride that keeps the driver-collected centroid
    * set bounded at `maxCentroids` REGARDLESS of corpus size: the caller's
    * `centEvery` widened (never narrowed) so that K = (maxId+1)/stride ≤
    * maxCentroids. Deterministic in (maxId, centEvery, maxCentroids) — the
    * same rule an oracle replays — and a pure function, so it is spec-able
    * without materializing a 10^9-row corpus. */
  def boundedCentEvery(maxId: Long, centEvery: Long, maxCentroids: Long): Long = {
    require(centEvery >= 1 && maxCentroids >= 1)
    val need = (maxId + maxCentroids) / maxCentroids // ceil((maxId+1)/maxCentroids)
    math.max(centEvery, need)
  }

  /** Byte-aware centroid cap: the largest count that keeps the DRIVER's
    * collected centroid set under `maxCentroidBytes` at dimension `dim`
    * (8 bytes per double component), composed (min) with the caller's
    * count cap — dimension-aware so "2^20 centroids" cannot silently mean
    * ~6 GB of driver heap at dim 768. dim <= 0 (unknown / empty corpus)
    * falls back to the count cap alone. Pure; spec'd with the stride rule. */
  def centroidCountCap(maxCentroids: Long, maxCentroidBytes: Long, dim: Int): Long = {
    require(maxCentroids >= 1 && maxCentroidBytes >= 1)
    if (dim <= 0) maxCentroids
    else math.min(maxCentroids, math.max(1L, maxCentroidBytes / (dim.toLong * 8)))
  }

  /** IVF (inverted-file) ANN: a bounded centroid table — every
    * `centEvery`-th vector by id, a deterministic rule DuckDB can replay —
    * partitions the corpus into Voronoi lists; a query scores only the
    * `nprobe` lists whose centroids are nearest to it (the Faiss IVF-Flat
    * layout). The centroid set is collected once and broadcast; assignment
    * + scoring run as a dense Scala kernel over the scan — no join, no
    * shuffle; the only exchange is the final top-k reduce
    * (TakeOrderedAndProject).
    *
    * The collect is BOUNDED for any corpus — in BYTES, not just count: one
    * map-side-combinable `max(id), max(size(vec))` aggregate ([[ivfStride]])
    * feeds [[boundedCentEvery]] via [[centroidCountCap]], which widens the
    * stride until the centroid set
    * fits BOTH `maxCentroids` (default 2^20) AND `maxCentroidBytes`
    * (default 256 MB) at the corpus's dimension — so a dim-768 corpus caps
    * at ~43k centroids instead of a silent ~6 GB of driver heap. At 10^9
    * rows with the default stride the original code collected 2×10^7
    * vectors; this caps the collect no matter what the caller passes. At 100 TB the assignment
    * column is precomputed at ingest ([[ivfAssign]]) and the corpus is
    * laid out partitioned by list id, so a query becomes `nprobe`
    * partition-pruned scans ([[ivfTopKAssigned]]) while the centroid table
    * stays a broadcast dimension. A null vector scores 0.0, as in
    * [[bruteForceTopK]], and never becomes a centroid. */
  def ivfTopK(df: DataFrame, vecCol: String, idCol: String,
      query: Seq[Double], k: Int, centEvery: Long = 50, nprobe: Int = 4,
      maxCentroids: Long = 1L << 20, maxCentroidBytes: Long = 256L << 20): DataFrame = {
    val stride = ivfStride(df, vecCol, idCol, centEvery, maxCentroids, maxCentroidBytes)
    val cents: Array[(Long, Array[Double])] = collectCentroids(df, vecCol, idCol, stride)
    require(cents.nonEmpty, s"no centroids: no $idCol divisible by $stride")
    val probeCids: Seq[Long] = probeLists(cents, query, nprobe)
    // assignment + scoring as a broadcast Scala kernel. Catalyst
    // higher-order functions run INTERPRETED (no whole-stage codegen, no
    // constant folding, no CSE across when-branches): the Column version
    // measured ~2 ms/row at 40 centroids x 64 dims — three orders of
    // magnitude off the arithmetic — the same pathology the q20 shingle
    // kernel replaced. Semantics are pinned by the spec (nprobe=K must
    // equal brute force; ties to lowest cid) and the EXACT DuckDB oracle.
    // Argmax ranks by dot/centroidNorm: the doc norm is a positive per-row
    // constant across centroids, so dropping it cannot change the argmax
    // (zero-norm docs give all-zero sims either way).
    val spark = df.sparkSession
    import spark.implicits._
    val centsNorm: Array[(Long, Array[Double], Double)] =
      cents.map { case (cid, cv) => (cid, cv, math.sqrt(cv.map(x => x * x).sum)) }
    val centsB = spark.sparkContext.broadcast(centsNorm)
    val probeB = spark.sparkContext.broadcast(probeCids.toSet)
    val queryB = spark.sparkContext.broadcast(query.toArray)
    df.select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val cs = centsB.value; val probes = probeB.value; val q = queryB.value
        it.flatMap { case (id, v0) =>
          val v = if (v0 == null) Array.emptyDoubleArray else v0
          var bestSim = Double.NegativeInfinity; var bestCid = Long.MaxValue
          cs.foreach { case (cid, cv, cn) =>
            var dot = 0.0; var i = 0
            val n = math.min(v.length, cv.length)
            while (i < n) { dot += v(i) * cv(i); i += 1 }
            val sim = if (cn > 0) dot / cn else 0.0
            if (sim > bestSim) { bestSim = sim; bestCid = cid } // ties keep lowest cid (cs sorted)
          }
          if (!probes(bestCid)) None
          else {
            // bit-equal to cosineToQuery: dot left-to-right, norms apart
            var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
            val n = math.min(v.length, q.length)
            while (i < n) { dot += v(i) * q(i); i += 1 }
            i = 0; while (i < v.length) { na += v(i) * v(i); i += 1 }
            i = 0; while (i < q.length) { nb += q(i) * q(i); i += 1 }
            val score =
              if (na > 0 && nb > 0) dot / (math.sqrt(na) * math.sqrt(nb)) else 0.0
            Some((id, score))
          }
        }
      }
      .toDF(idCol, "score")
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** [[ivfTopK]]'s centroid stride, from ONE aggregate job: the largest id
    * and the LARGEST vector dimension, so the byte budget holds for every
    * centroid whatever row comes first. `max` skips null sizes (ANSI
    * `size(null)` is null; the legacy -1 loses to any real size); a corpus
    * with no vector at all falls back to the count cap. */
  private[pipeline] def ivfStride(df: DataFrame, vecCol: String, idCol: String,
      centEvery: Long, maxCentroids: Long, maxCentroidBytes: Long): Long = {
    val r = df.agg(max(col(idCol).cast("long")), max(size(col(vecCol)))).head()
    val maxId = if (r.isNullAt(0)) 0L else r.getLong(0)
    val dim = if (r.isNullAt(1)) 0 else r.getInt(1)
    boundedCentEvery(maxId, centEvery, centroidCountCap(maxCentroids, maxCentroidBytes, dim))
  }

  /** The bounded centroid collect shared by [[ivfTopK]] / [[ivfAssign]] /
    * [[ivfTopKAssigned]]: callers pass a stride already widened by
    * [[boundedCentEvery]], so the driver never holds more than
    * `maxCentroids` vectors. */
  def collectCentroids(df: DataFrame, vecCol: String, idCol: String,
      stride: Long): Array[(Long, Array[Double])] = df
    .filter(col(idCol) % stride === 0 && col(vecCol).isNotNull)
    .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
    .collect()
    .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    .sortBy(_._1)

  /** Cosine in plain Scala, operand order identical to the driver-side
    * probe selection and the executor kernel (query padded with zeros past
    * the vector's length). */
  private[pipeline] def cosineLocal(a: Array[Double], query: Seq[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      val q = if (i < query.length) query(i) else 0.0
      dot += a(i) * q; na += a(i) * a(i); nb += q * q; i += 1
    }
    if (na > 0 && nb > 0) dot / (math.sqrt(na) * math.sqrt(nb)) else 0.0
  }

  /** Driver-side probe selection over the bounded centroid set:
    * top `nprobe` by (cosine desc, cid asc). */
  private[pipeline] def probeLists(cents: Array[(Long, Array[Double])],
      query: Seq[Double], nprobe: Int): Seq[Long] = cents
    .map { case (cid, cv) => (cid, cosineLocal(cv, query)) }
    .sortBy { case (cid, s) => (-s, cid) }
    .take(nprobe).map(_._1).toSeq

  /** INGEST-TIME list assignment — the documented 100 TB IVF shape. Adds a
    * `list_id` column (the owning centroid's id, ties to lowest cid — the
    * exact argmax rule of [[ivfTopK]]'s in-query kernel) while keeping
    * every input column, so the result can be written
    * `partitionBy("list_id")` once and served by [[ivfTopKAssigned]]'s
    * partition-pruned scans forever after. One corpus scan, zero shuffles;
    * centroids ride a broadcast. The per-row argmax is a Scala closure
    * over the broadcast matrix (a dense numeric kernel — the Column-HOF
    * formulation runs interpreted and was measured three orders of
    * magnitude slower, see [[ivfTopK]]). */
  def ivfAssign(df: DataFrame, vecCol: String, idCol: String,
      cents: Array[(Long, Array[Double])]): DataFrame = {
    require(cents.nonEmpty, "ivfAssign: empty centroid set")
    val sorted = cents.sortBy(_._1).map { case (cid, cv) =>
      (cid, cv, math.sqrt(cv.map(x => x * x).sum))
    }
    val centsB = df.sparkSession.sparkContext.broadcast(sorted)
    val assignUdf = udf { v: Seq[Double] =>
      val cs = centsB.value
      val a = if (v == null) Array.emptyDoubleArray else v.toArray
      var bestSim = Double.NegativeInfinity; var bestCid = Long.MaxValue
      cs.foreach { case (cid, cv, cn) =>
        var dot = 0.0; var i = 0
        val n = math.min(a.length, cv.length)
        while (i < n) { dot += a(i) * cv(i); i += 1 }
        val sim = if (cn > 0) dot / cn else 0.0
        if (sim > bestSim) { bestSim = sim; bestCid = cid }
      }
      bestCid
    }
    df.withColumn("list_id", assignUdf(col(vecCol).cast("array<double>")))
  }

  /** Query half of the ingest-time IVF pair: over a corpus that already
    * carries [[ivfAssign]]'s `list_id` column (ideally written
    * `partitionBy("list_id")`), a query is an `isin` filter over the
    * `nprobe` probe lists — partition-PRUNED at the source when the layout
    * is partitioned, pushed to the scan otherwise — followed by codegen'd
    * cosine scoring and a TakeOrderedAndProject top-k. No assignment work
    * at query time at all; the centroid table never leaves the driver. */
  def ivfTopKAssigned(assigned: DataFrame, vecCol: String, idCol: String,
      query: Seq[Double], k: Int, cents: Array[(Long, Array[Double])],
      nprobe: Int = 4): DataFrame = {
    val probes = probeLists(cents.sortBy(_._1), query, nprobe)
    assigned
      .filter(col("list_id").isin(probes: _*))
      .select(col(idCol), cosineToQuery(col(vecCol), query).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** ANN top-k: score only rows whose signature is within `probeRadius`
    * Hamming bits of the query signature. At 100 TB the signature column is
    * precomputed & partitioned-by, turning a query into a handful of
    * partition-pruned bucket scans. */
  def lshTopK(df: DataFrame, vecCol: String, idCol: String,
      query: Seq[Double], k: Int, planes: Int = 12, probeRadius: Int = 2,
      seed: Long = 7L): DataFrame = {
    val dim = vecDim(df, vecCol)
    val mat = planeMatrix(df.sparkSession, planes, dim, seed)
    // query signature in plain Scala over the same matrix — identical
    // operand order, so bit-equal to the Column expression
    val qsig = (0 until planes).map { p =>
      var dot = 0.0; var i = 0
      val n = math.min(dim, query.length)
      while (i < n) { dot += query(i) * mat(p)(i); i += 1 }
      if (dot >= 0) 1L << p else 0L
    }.sum
    df.select(col(idCol), col(vecCol).as("v"),
        hyperplaneSignatureFast(col(vecCol), mat).as("sig"))
      .filter(bit_count(col("sig").bitwiseXOR(lit(qsig))) <= probeRadius)
      .select(col(idCol), cosineToQuery(col("v"), query).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }
}
