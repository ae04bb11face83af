package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Distributed graph operators for the training-data pipeline:
 *
 *  - [[connectedComponents]]: turn near-duplicate PAIRS (the output of
 *    MinHash-LSH / SimHash / exact-hash adjacency, Dedup.scala) into
 *    duplicate CLUSTERS. Every production dedup pipeline needs this step —
 *    pairs alone under-remove (a 100-doc near-dup clique yields 99 pairs but
 *    must keep exactly 1 doc), and naive transitive closure materializes
 *    O(cluster²) rows. An edge set that fits one task is clustered by a
 *    union-find kernel in ONE executor task; a larger one first runs the
 *    alternating large-star/small-star algorithm (Kiveris et al.,
 *    "Connected Components in MapReduce and Beyond", SoCC 2014), O(log n)
 *    rounds of two hash-shuffles of the CURRENT edge set, until it fits.
 *    Never an all-pairs join, never a driver-side graph. GraphX/GraphFrames
 *    ship the same star algorithm; this is a dependency-free DataFrame
 *    formulation (groupBy-min + equi-join per star step, no collect_set, so
 *    a hot node with 10^8 neighbors never builds a neighbor list).
 *
 *  - [[pageRankFixedPoint]]: link-graph centrality over the crawled corpus
 *    in FIXED-POINT integer arithmetic. Real crawlers order their frontier
 *    by link centrality (OPIC / PageRank — the original use PageRank was
 *    built for); floating-point PageRank is non-deterministic at cluster
 *    scale (per-partition sum order varies run to run), which breaks the
 *    engine's determinism contract (W2: canonical order) if ranks feed
 *    scheduling. Scaled-long arithmetic makes every iteration exactly
 *    reproducible on any partitioning AND exactly recomputable by the
 *    DuckDB oracle: integer division `r div deg` and `(x*85) div 100`
 *    have one answer regardless of summation order.
 *
 * Both operators iterate driver-side over DataFrames (the loop is control
 * flow only — all data stays distributed) and break lineage each round with
 * a lazy checkpoint. By default that is `localCheckpoint` (executor-resident
 * blocks — fastest, but an executor loss mid-run kills the job because the
 * truncated lineage cannot recompute); when the SparkContext has a
 * checkpoint dir configured, [[Checkpoints.step]] uses reliable `checkpoint`
 * instead, so a multi-hour 10^10-edge run survives executor churn. The
 * caller opts in exactly like the engine does: `setCheckpointDir` before
 * calling.
 */
object Graph {

  /** Edge-count ceiling for one executor task: at or below it the whole
    * edge set is clustered by [[unionFindKernel]] in a single task; above
    * it the star rounds' groupBy+join map-side partial aggregation is
    * mandatory (a hot node's neighbor set must never be buffered by one
    * task). 2^21 edges ≈ 80 MB of primitive arrays in the kernel task.
    * Overridable per [[components]] call so tests exercise every path
    * against the same ground truth. */
  private[pipeline] val starWindowMaxEdges = 1L << 21

  /** A [[components]] run: its labels, the star rounds run before them, and
    * whether they came from the union-find task (else from converged stars). */
  private[graft] final case class Components(labels: DataFrame, starRounds: Int, unionFind: Boolean)

  /**
   * Connected components of the undirected graph given by `(srcCol, dstCol)`
   * pairs. Returns `(id: long, component: long)` where `component` is the
   * minimum node id in the component — one row per distinct non-null node
   * appearing in the input (self-loop-only nodes map to themselves; a null
   * endpoint leaves the other endpoint as a lone node).
   */
  def connectedComponents(
      edges0: DataFrame, srcCol: String, dstCol: String,
      maxIterations: Int = 50,
      windowMaxEdges: Long = starWindowMaxEdges): DataFrame =
    components(edges0, srcCol, dstCol, maxIterations, windowMaxEdges).labels

  /**
   * [[connectedComponents]] with its path. The pairs are read ONCE into a
   * checkpointed `(a, b)` frame whose count picks the path. At most
   * `windowMaxEdges` pairs: ONE task runs [[unionFindKernel]] over the raw
   * pairs (self-loops included, so its node set is the output's). Above it:
   * alternating star rounds, each a pure DataFrame pipeline, until a round's
   * edge count fits `windowMaxEdges`; that contracted edge set goes to the
   * same kernel task. Star rounds preserve components and keep every
   * non-isolated node, so the hand-off labels equal the converged ones.
   *  - large-star: for every node a, link each LARGER neighbor b > a to
   *    m(a) = min(Γ(a) ∪ {a}). Computed as groupBy(a).min + join back —
   *    shuffle volume O(E), independent of skew (no neighbor lists).
   *  - small-star: direct each edge big→small, link each smaller neighbor
   *    (and the node itself) to the minimum smaller neighbor.
   * The edge set converges to disjoint stars centered on component minima;
   * convergence is detected in two tiers to keep the per-round job count at
   * two (materialize + one scalar aggregate): an exact-arithmetic
   * fingerprint (count, sum(u), sum(v), xor of xxhash64(u,v)) gates the
   * expensive check, and only a fingerprint MATCH triggers the
   * authoritative one-sided `except` — a fingerprint collision can at worst
   * add one extra (correct) round, never terminate early wrongly.
   */
  private[graft] def components(
      edges0: DataFrame, srcCol: String, dstCol: String,
      maxIterations: Int = 50,
      windowMaxEdges: Long = starWindowMaxEdges): Components = {
    val spark = edges0.sparkSession
    import spark.implicits._

    // all checkpoints below are LAZY in local mode: the Dataset's plan is
    // truncated to a LogicalRDD immediately (so iteration never grows the
    // Catalyst plan), but materialization rides the next action — the
    // count here, each round's fingerprint aggregate below
    val a0 = col(srcCol).cast("long")
    val b0 = col(dstCol).cast("long")
    val pairs = edges0
      .select(coalesce(a0, b0).as("a"), coalesce(b0, a0).as("b"))
      .filter($"a".isNotNull)
      .transform(Checkpoints.step)
    val nPairs = pairs.count()
    if (nPairs <= windowMaxEdges)
      return Components(unionFind(pairs, "a", "b", nPairs), 0, unionFind = true)

    val nodes = pairs.select($"a".as("id"))
      .union(pairs.select($"b".as("id")))
      .distinct()
      .transform(Checkpoints.step)

    // canonical simple undirected edges u < v; self-loops carry no
    // connectivity information
    var e = pairs
      .select(least($"a", $"b").as("u"), greatest($"a", $"b").as("v"))
      .filter($"u" =!= $"v")
      .distinct()
      .transform(Checkpoints.step)

    // exact set-insensitive fingerprint: equal edge sets ALWAYS produce
    // equal fingerprints, so inequality proves progress without a join;
    // equality is only a trigger for the authoritative `except` below.
    // Sums run in decimal(38,0): ids may legitimately span the full 64-bit
    // hash range (MinHash/SimHash pipelines key by xxhash64), where a long
    // SUM overflows — an ArithmeticException under Spark 4's default ANSI
    // mode. bit_xor cannot overflow.
    def fingerprint(df: DataFrame): (Long, java.math.BigDecimal, java.math.BigDecimal, Long) = {
      val zero = java.math.BigDecimal.ZERO
      val r = df.agg(
        count(lit(1)),
        sum($"u".cast("decimal(38,0)")), sum($"v".cast("decimal(38,0)")),
        coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L))).head()
      (r.getLong(0),
        if (r.isNullAt(1)) zero else r.getDecimal(1).stripTrailingZeros(),
        if (r.isNullAt(2)) zero else r.getDecimal(2).stripTrailingZeros(),
        r.getLong(3))
    }
    var eFp = fingerprint(e)

    var converged = eFp._1 == 0L
    var iter = 0
    while (!converged && eFp._1 > windowMaxEdges && iter < maxIterations) {
      val small = starRound(e).transform(Checkpoints.step)
      val smallFp = fingerprint(small)
      converged = smallFp == eFp && small.except(e).isEmpty
      // the superseded round has no consumers left (its fingerprint and the
      // except above both ran, and it is materialized in either mode):
      // free its blocks / delete its reliable files so the run holds O(1)
      // edge-set copies, not O(rounds)
      Checkpoints.drop(e)
      e = small
      eFp = smallFp
      iter += 1
    }
    val handOff = !converged && eFp._1 <= windowMaxEdges
    // labeling a non-fixpoint edge set would return plausible-looking but
    // WRONG components — fail loudly instead of silently corrupting
    if (!converged && !handOff) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIterations rounds " +
        s"(${eFp._1} edges remain); raise maxIterations")

    // converged edge set = disjoint stars (u = component min, v = member);
    // groupBy-min guards the (impossible at fixpoint, cheap to enforce)
    // multi-parent case, and isolated input nodes label themselves
    val labels =
      if (handOff) unionFind(e, "u", "v", eFp._1)
      else e.groupBy($"v".as("id")).agg(min($"u").as("component"))
    Components(
      nodes.join(labels, Seq("id"), "left")
        .select($"id", coalesce($"component", $"id").as("component")),
      iter, handOff)
  }

  /** `(id, component)` for every id in the `(aCol, bCol)` long pairs, from
    * ONE executor task — never a driver-side graph. `expected` is the row
    * count, the kernel's initial buffer size. */
  private def unionFind(edges: DataFrame, aCol: String, bCol: String, expected: Long): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val cap = math.min(math.max(expected, 1L), 1L << 28).toInt
    edges.select(col(aCol), col(bCol)).as[(Long, Long)].coalesce(1)
      .mapPartitions(it => unionFindKernel(it, cap))
      .toDF("id", "component")
  }

  /** Union-find over `(a, b)` pairs on primitive arrays: endpoints buffered
    * in one `long[]`; its sorted, deduplicated copy gives each id a dense
    * index in id order, and roots always link the larger index under the
    * smaller, so every root is its component's minimum id. At most 40
    * bytes per pair. Emits `(id, component)` per distinct id. */
  private[pipeline] def unionFindKernel(
      pairs: Iterator[(Long, Long)], capacity: Int): Iterator[(Long, Long)] = {
    var ends = new Array[Long](2 * capacity)
    var n = 0
    pairs.foreach { case (a, b) =>
      if (n == ends.length) ends = java.util.Arrays.copyOf(ends, 2 * n)
      ends(n) = a; ends(n + 1) = b; n += 2
    }
    val ids = java.util.Arrays.copyOf(ends, n)
    java.util.Arrays.sort(ids)
    var m = 0
    for (i <- 0 until n) if (m == 0 || ids(i) != ids(m - 1)) { ids(m) = ids(i); m += 1 }
    val parent = Array.range(0, m)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    def index(id: Long): Int = java.util.Arrays.binarySearch(ids, 0, m, id)
    for (i <- 0 until n by 2) {
      val (ra, rb) = (find(index(ends(i))), find(index(ends(i + 1))))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    Iterator.range(0, m).map(x => (ids(x), ids(find(x))))
  }

  /** One alternating large-star + small-star round over canonical edges
    * `(u < v)`. Package-visible so the plan-shape spec can pin the exchange
    * count (≤ 6) that the per-round latency argument rests on. */
  private[pipeline] def starRound(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._

    // ---- large-star: link each larger neighbor b > a to
    //      m(a) = min(Γ(a) ∪ {a})
    val dir = e.select($"u".as("a"), $"v".as("b"))
      .union(e.select($"v".as("a"), $"u".as("b")))
    val mins = dir.groupBy($"a")
      .agg(min($"b").as("mn"))
      .select($"a", least($"a", $"mn").as("m"))
    // no intermediate distinct: duplicates stay bounded by |dir| = 2E
    // and the small-star's closing distinct dedups — one less exchange
    val large = dir.join(mins, "a")
      .filter($"b" > $"a")
      .select(least($"b", $"m").as("u"), greatest($"b", $"m").as("v"))
      .filter($"u" =!= $"v")

    // ---- small-star (over the large-star output, per the alternating
    // schedule): direct big -> small, hook everything to the local min.
    // mins2 IS the distinct (a, m) set — unioning it directly avoids
    // re-deriving it from the join output (which would both duplicate the
    // join subtree and need its own distinct exchange)
    val dir2 = large.select($"v".as("a"), $"u".as("b")) // a > b always
    val mins2 = dir2.groupBy($"a").agg(min($"b").as("m"))
    dir2.join(mins2, "a").select($"b".as("x"), $"m")
      .union(mins2.select($"a".as("x"), $"m"))
      .filter($"x" =!= $"m")
      .select(least($"x", $"m").as("u"), greatest($"x", $"m").as("v"))
      .distinct()
  }

  /**
   * Duplicate-cluster resolution: near-dup `pairs` (from any Dedup candidate
   * generator) over `docs` → one row per doc `(id, cluster, keep)` where
   * `cluster` is the min doc id PRESENT IN `docs` of the doc's duplicate
   * cluster (its own id if unpaired) and `keep` marks the cluster canonical
   * (exactly one per cluster). `docs.filter(keep)` is the deduplicated
   * corpus. Pairs may reference ids absent from `docs` (candidates generated
   * before a filter pass): the cluster label is re-anchored to the minimum
   * SURVIVING doc, so every non-empty cluster keeps exactly one doc — a raw
   * component-min label would mark zero keepers in such clusters and
   * `filter(keep)` would silently drop them all.
   */
  def dupClusters(
      docs: DataFrame, idCol: String,
      pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val comp = connectedComponents(pairs, aCol, bCol)
    val labeled = docs.select(col(idCol).cast("long").as("id"))
      .join(comp, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("comp0"))
    val anchors = labeled.groupBy(col("comp0")).agg(min(col("id")).as("cluster"))
    labeled.join(anchors, "comp0")
      .select(
        col("id"),
        col("cluster"),
        (col("cluster") === col("id")).as("keep"))
  }

  /**
   * Fixed-point PageRank: `iterations` synchronous power iterations over
   * the directed graph `(srcCol, dstCol)` with damping `dampNum/dampDen`
   * and total mass `scale` (ranks are longs in units of 1/`scale`).
   * Returns `(id: long, rank_fp: long)`, one row per distinct node.
   *
   * Exact integer recurrence (all divisions are integer `div`, mirrored
   * by `//` in the DuckDB oracle):
   *
   *   r0(v)   = scale div n
   *   base    = (scale div n) * (dampDen - dampNum) div dampDen
   *   r_k(v)  = base + (Σ_{u→v} (r_{k-1}(u) div deg(u))) * dampNum div dampDen
   *
   * Properties at scale: each iteration is ONE shuffle pair (join edges
   * with ranks on src — a broadcast when ranks fit, else a hash join
   * co-partitioned with the edge table — then groupBy dst with map-side
   * partial sums). Division remainders and dangling-node mass are dropped,
   * not redistributed: the loss is deterministic and identical on every
   * partitioning/cluster size, which is the property that lets ranks feed
   * the frontier scheduler without breaking W2 determinism. Rounding error
   * is ≤ iterations * (dampDen + 1) rank units per node — with the default
   * scale that is a 1e-10 relative error, far below any scheduling
   * threshold.
   */
  def pageRankFixedPoint(
      edges0: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 10,
      scale: Long = 1000000000000L,
      dampNum: Long = 85L, dampDen: Long = 100L): DataFrame = {
    val spark = edges0.sparkSession
    import spark.implicits._

    val e = edges0
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .distinct()
      .transform(Checkpoints.step)
    val nodes = e.select($"src".as("id"))
      .union(e.select($"dst".as("id")))
      .distinct()
      .transform(Checkpoints.step)
    val n = nodes.count()
    require(n > 0, "pageRankFixedPoint: empty graph")

    // out-degree folded into the edge table ONCE, so the per-iteration plan
    // is a single equi-join with the rank frame + one partial-aggregated
    // groupBy — not a second join against a degree dimension every
    // iteration. groupBy + join: map-side combine, no per-node buffering.
    val ed = e.join(e.groupBy($"src").agg(count(lit(1)).as("deg")), "src")
      .transform(Checkpoints.step)
    val init = scale / n
    val base = scale / n * (dampDen - dampNum) / dampDen

    // Local mode: every checkpoint is LAZY — the plan is re-rooted at a
    // LogicalRDD each iteration (constant-size Catalyst plan) but NO
    // per-iteration action runs; the caller's single action computes the
    // whole k-step chain, persisting each step's RDD along the way
    // (iteration k+1 reads k's cached partitions, not its lineage).
    // Reliable mode: each iteration is eagerly checkpointed (Checkpoints.step)
    // and the SUPERSEDED rank frame's files/blocks are dropped — an
    // unpersist would corrupt a merely-*marked* lazy local checkpoint, so
    // rotation only runs in the mode where frames are materialized.
    val reliable = spark.sparkContext.getCheckpointDir.isDefined
    var r = nodes.select($"id", lit(init).as("r")).transform(Checkpoints.step)
    var k = 0
    while (k < iterations) {
      val sums = ed
        .join(r, ed("src") === r("id"))
        .select($"dst", expr("r div deg").as("c"))
        .groupBy($"dst").agg(sum($"c").as("s"))
      val rNext = nodes.join(sums, nodes("id") === sums("dst"), "left")
        .select($"id",
          expr(s"$base + (coalesce(s, 0) * $dampNum) div $dampDen").as("r"))
        .transform(Checkpoints.step)
      if (reliable) Checkpoints.drop(r)
      r = rNext
      k += 1
    }
    r.select($"id", $"r".as("rank_fp"))
  }

  /**
   * HITS hubs & authorities (Kleinberg 1999) as an integer fixed point —
   * the link-graph twin of [[pageRankFixedPoint]]: authorities score what
   * good hubs point AT (content worth keeping), hubs score what points at
   * good authorities (index/portal pages a curation pass usually drops) —
   * a useful per-page prior for corpus filtering that PageRank alone
   * doesn't give (a link-farm hub earns hub mass but no authority).
   *
   * Exact integer recurrence (all divisions integer `div`, mirrored by
   * `//` in the DuckDB oracle; h0 = scale div n for every node, the
   * PageRank-style init that keeps the first round's sums bounded by
   * mass·avgdeg rather than scale·|E|):
   *
   *   araw_k(v) = Σ_{u→v} h_{k-1}(u)
   *   a_k(v)    = araw_k(v) div max(Σ araw_k div scale, 1)
   *   hraw_k(u) = Σ_{u→v} a_k(v)
   *   h_k(u)    = hraw_k(u) div max(Σ hraw_k div scale, 1)
   *
   * The sum-normalization replaces the classic L2 norm: it keeps the
   * total mass ≈ scale while preserving the ranking, and integer sums
   * make every round bit-identical under any partitioning/retry.
   *
   * 64-bit bound: after normalization every score ≤ mass ≈ scale, so a
   * node's raw next-round value is ≤ its degree · scale and the global
   * sum is ≤ maxdeg · scale. That product is CHECKED up front (one cheap
   * degree aggregate): graphs whose maximum in/out degree exceeds
   * 2^61 / scale are rejected loudly with instructions to lower `scale`
   * (at scale = 1e9 the guard admits hub degrees to ~2.3e9) — a silent
   * wrap would invert rankings.
   *
   * Scale shape: each half-round is ONE join+partial-agg shuffle over the
   * edge table (the PageRank shape); the normalizer is a 1-row aggregate
   * frame crossJoined back in — part of the lazy plan, never a per-round
   * driver action. Rounds are re-rooted via [[Checkpoints.step]] so the
   * Catalyst plan stays constant-size over any iteration count.
   */
  def hitsFixedPoint(
      edges0: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 5,
      scale: Long = 1000000000000L): DataFrame = {
    val spark = edges0.sparkSession
    import spark.implicits._

    val e = edges0
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .distinct()
      .transform(Checkpoints.step)
    val nodes = e.select($"src".as("id"))
      .union(e.select($"dst".as("id")))
      .distinct()
      .transform(Checkpoints.step)
    val n = nodes.count()
    require(n > 0, "hitsFixedPoint: empty graph")
    require(iterations >= 1, s"hitsFixedPoint: iterations must be >= 1, got $iterations")
    // overflow guard (see scaladoc): raw sums are bounded by maxdeg * scale
    val maxDeg = e.select($"src".as("id")).union(e.select($"dst".as("id")))
      .groupBy($"id").agg(count(lit(1)).as("d"))
      .agg(max($"d")).head().getLong(0)
    require(maxDeg <= (Long.MaxValue >> 2) / scale,
      s"hitsFixedPoint: max degree $maxDeg * scale $scale risks 64-bit overflow — " +
        "lower `scale` (e.g. 1e9) for extreme-skew graphs")

    val reliable = spark.sparkContext.getCheckpointDir.isDefined
    def normalize(raw: DataFrame, outCol: String): DataFrame = {
      val tot = raw.agg(sum($"raw").as("tot"))
      raw.crossJoin(tot)
        .select($"id", expr(s"raw div greatest(tot div $scale, 1)").as(outCol))
        .transform(Checkpoints.step)
    }
    def halfRound(score: DataFrame, scoreCol: String,
        from: String, to: String, outCol: String): DataFrame = {
      val raw = e.join(score, e(from) === score("id"))
        .select(col(to).as("nid"), col(scoreCol))
        .groupBy($"nid").agg(sum(col(scoreCol)).as("s"))
      normalize(
        nodes.join(raw, nodes("id") === raw("nid"), "left")
          .select($"id", coalesce($"s", lit(0L)).as("raw")),
        outCol)
    }

    var h = nodes.select($"id", lit(scale / n).as("h")).transform(Checkpoints.step)
    var a: DataFrame = null
    var k = 0
    while (k < iterations) {
      val aNext = halfRound(h, "h", "src", "dst", "a")
      if (reliable && a != null) Checkpoints.drop(a)
      a = aNext
      val hNext = halfRound(a, "a", "dst", "src", "h")
      if (reliable) Checkpoints.drop(h)
      h = hNext
      k += 1
    }
    a.join(h, "id").select($"id", $"a".as("auth_fp"), $"h".as("hub_fp"))
  }
}
