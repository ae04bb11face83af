package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Ground-truth verification for the graph operators:
 *  - connectedComponents vs an in-test union-find over the same edges
 *    (random sparse graphs + adversarial shapes: long paths, cycles, hot
 *    stars, disjoint cliques, self-loops, full 64-bit ids) on all three
 *    paths: one union-find task, star rounds, and star rounds handed off
 *  - pageRankFixedPoint vs a sequential single-threaded evaluation of the
 *    identical integer recurrence, plus a partitioning-invariance check
 *    (the property the fixed-point design exists for)
 */
class GraphSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graph-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // ------------------------------------------------------------ union-find
  /** min member per component, for every node of `edges` */
  private def unionFindLabels(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(x => x -> find(x)).toMap
  }

  private def ccCheck(edges: Seq[(Long, Long)], clue: String): Unit = {
    import spark.implicits._
    val expected = unionFindLabels(edges)
    // every path must agree with the ground truth: the single union-find
    // task (default bound), star rounds only (bound 0 — the path real
    // 10^9-edge graphs start on), and star rounds handed off to the kernel
    // (a bound between the converged star count and the pair count: rounds
    // run while above it, and the count reaches it before convergence is seen)
    val converged = expected.count { case (id, c) => id != c }.toLong
    val simple = edges.exists { case (a, b) => a != b }
    for ((thr, path, kernel) <- Seq(
        (Graph.starWindowMaxEdges, "union-find", true),
        (0L, "star rounds", false),
        (converged, "hand-off", simple || edges.size <= converged))) {
      val run = Graph.components(edges.toDF("a", "b"), "a", "b", windowMaxEdges = thr)
      val got = run.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"$clue [$path path, ${run.starRounds} rounds]")
      assert(run.unionFind == kernel, s"$clue [$path path took the wrong exit]")
    }
  }

  test("connectedComponents: random sparse graphs match union-find") {
    val n = 300
    for (seed <- Seq(1L, 7L, 42L)) {
      val rnd = new scala.util.Random(seed)
      val edges = Seq.fill(260)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      ccCheck(edges, s"random graph seed=$seed")
    }
  }

  test("connectedComponents: adversarial shapes (path, cycle, cliques, hot star)") {
    // 200-node path: diameter 199 — breaks label propagation without the
    // O(log n) star contraction
    ccCheck((0L until 199L).map(i => (i, i + 1)), "path-200")
    // cycle
    ccCheck((0L until 100L).map(i => (i, (i + 1) % 100)), "cycle-100")
    // two disjoint cliques + an isolated pair
    val cliqueA = for (i <- 0 until 12; j <- i + 1 until 12) yield (i.toLong, j.toLong)
    val cliqueB = for (i <- 20 until 30; j <- i + 1 until 30) yield (i.toLong, j.toLong)
    ccCheck(cliqueA ++ cliqueB ++ Seq((40L, 41L)), "cliques")
    // hot star: 5000 spokes on one center — the no-neighbor-list claim
    ccCheck((1L to 5000L).map(i => (0L, i)), "star-5000")
    // self-loops only: every node its own component
    ccCheck(Seq((3L, 3L), (5L, 5L)), "self-loops")
  }

  test("dupClusters: planted duplicate groups resolve to one keeper per cluster") {
    import spark.implicits._
    // docs 0..29; groups {0,10,20}, {1,11}, rest singletons; pairs given as
    // a CHAIN (0-10, 10-20), not a clique — the transitive case pairs alone
    // cannot dedup
    val docs = (0L until 30L).toDF("doc_id")
    val pairs = Seq((0L, 10L), (10L, 20L), (1L, 11L)).toDF("a", "b")
    val out = Graph.dupClusters(docs, "doc_id", pairs, "a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val expected = (0L until 30L).map { id =>
      val cluster = if (id == 10L || id == 20L) 0L else if (id == 11L) 1L else id
      (id, cluster, cluster == id)
    }.toSet
    assert(out == expected)
    // exactly one keeper per cluster
    assert(out.count(_._3) == 30 - 3)
  }

  test("dupClusters: pairs referencing ids absent from docs still keep one doc per cluster") {
    import spark.implicits._
    // cluster {5, 9, 13} chained — but docs 5 and 13 were filtered out of the
    // corpus (pairs generated pre-filter). The cluster label must re-anchor
    // to the min SURVIVING id (9) so filter(keep) keeps doc 9 rather than
    // silently dropping the whole cluster; a raw component-min label (5)
    // would mark zero keepers.
    val docs = Seq(1L, 2L, 9L).toDF("doc_id")
    val pairs = Seq((5L, 9L), (9L, 13L), (1L, 2L)).toDF("a", "b")
    val out = Graph.dupClusters(docs, "doc_id", pairs, "a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(out == Set((1L, 1L, true), (2L, 1L, false), (9L, 9L, true)))
  }

  test("connectedComponents: fails loudly when maxIterations is exhausted") {
    import spark.implicits._
    val path = (0L until 60L).map(i => (i, i + 1)).toDF("a", "b")
    // bound 0: the 60-edge path would otherwise fit the union-find task
    val ex = intercept[IllegalStateException] {
      Graph.connectedComponents(path, "a", "b", maxIterations = 1, windowMaxEdges = 0L).collect()
    }
    assert(ex.getMessage.contains("did not converge"))
  }

  test("connectedComponents: ids spanning the full 64-bit hash range (ANSI-safe fingerprint)") {
    import spark.implicits._
    // sums of raw ids overflow Long here — the decimal fingerprint must not
    // raise under Spark's default ANSI mode, and labels must still be exact
    val big = Long.MaxValue - 2L
    val neg = Long.MinValue + 5L
    val edges = Seq((big, big - 1L), (big - 1L, neg), (7L, big), (100L, 101L))
    val expected = Map(
      big -> neg, (big - 1L) -> neg, neg -> neg, 7L -> neg,
      100L -> 100L, 101L -> 100L)
    assert(unionFindLabels(edges) == expected)
    ccCheck(edges, "full 64-bit range")
  }

  test("unionFindKernel: grows past its capacity hint, labels every id with its component min") {
    val pairs = Seq((5L, 3L), (3L, 9L), (7L, 7L), (-2L, 12L), (12L, 11L), (9L, 3L))
    assert(Graph.unionFindKernel(pairs.iterator, capacity = 1).toMap ==
      Map(3L -> 3L, 5L -> 3L, 9L -> 3L, 7L -> 7L, -2L -> -2L, 11L -> -2L, 12L -> -2L))
    assert(Graph.unionFindKernel(Iterator.empty, capacity = 1).isEmpty)
  }

  test("dupClusters: a 4,800-pair graph (800 disjoint 4-cliques) runs at most 12 Spark jobs") {
    import spark.implicits._
    val sc = spark.sparkContext
    // the perfbench curate shape: 800 groups of 4 surviving near-duplicates
    val pairs = for (g <- 0L until 800L; i <- 0 until 4; j <- i + 1 until 4)
      yield (4 * g + i, 4 * g + j)
    assert(pairs.size == 4800)
    val docs = (0L until 3200L).toDF("doc_id")
    val pairsDf = pairs.toDF("a", "b")
    // jobs are counted by a listener; a sentinel job marks the end, since
    // listener events arrive in order but after the action returns
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    @volatile var sentinel = false
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graph.spec.sentinel") != null)) sentinel = true
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    val out = try {
      val rows = Graph.dupClusters(docs, "doc_id", pairsDf, "a", "b").collect()
      sc.setLocalProperty("graph.spec.sentinel", "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("graph.spec.sentinel", null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!sentinel && System.nanoTime() < deadline) Thread.sleep(2)
      rows
    } finally sc.removeSparkListener(listener)
    assert(sentinel, "listener never saw the sentinel job")
    assert(out.length == 3200 && out.count(_.getBoolean(2)) == 800)
    assert(out.forall(r => r.getLong(1) == r.getLong(0) / 4 * 4))
    assert(jobs.get <= 12, s"dupClusters ran ${jobs.get} jobs")
  }

  test("reliable checkpoint mode (checkpoint dir set) produces identical results") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graph-ckpt").toString
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (7L, 8L), (5L, 5L))
    val prEdges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 1L))
    val ccLocal = Graph.connectedComponents(edges.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val prLocal = Graph.pageRankFixedPoint(prEdges.toDF("s", "d"), "s", "d", 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val ccRel = Graph.connectedComponents(edges.toDF("a", "b"), "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val prRel = Graph.pageRankFixedPoint(prEdges.toDF("s", "d"), "s", "d", 6)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(ccRel == ccLocal)
      assert(prRel == prLocal)
      // the reliable path actually wrote checkpoint data
      val wrote = scala.util.Using.resource(
          java.nio.file.Files.walk(java.nio.file.Paths.get(dir))) { st =>
        st.filter(p => java.nio.file.Files.isRegularFile(p)).count()
      }
      assert(wrote > 0, "reliable mode must persist checkpoint files")
    } finally {
      spark.sparkContext.setCheckpointDir(null)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("starRound plan shape: at most 6 exchanges per round") {
    import spark.implicits._
    val e = Seq((0L, 1L), (1L, 2L), (2L, 5L), (3L, 5L)).toDF("u", "v")
    val plan = Graph.starRound(e).queryExecution.executedPlan.toString
    val exchanges = plan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") || l.contains("Exchange rangepartitioning"))
    // the per-round latency claim in the scaladoc/BENCH.md rests on this
    assert(exchanges <= 6, "groupBy+join round must stay within its documented bound")
  }

  // ---------------------------------------------------------------- pagerank
  /** Sequential evaluation of the exact integer recurrence in the scaladoc. */
  private def seqPageRank(edges: Seq[(Long, Long)], iterations: Int,
      scale: Long = 1000000000000L, dampNum: Long = 85L, dampDen: Long = 100L): Map[Long, Long] = {
    val e = edges.distinct
    val nodes = e.flatMap(x => Seq(x._1, x._2)).distinct.sorted
    val n = nodes.size.toLong
    val deg = e.groupBy(_._1).map { case (s, xs) => s -> xs.size.toLong }
    val init = scale / n
    val base = scale / n * (dampDen - dampNum) / dampDen
    var r = nodes.map(_ -> init).toMap
    (1 to iterations).foreach { _ =>
      val sums = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      e.foreach { case (s, d) => sums(d) += r(s) / deg(s) }
      r = nodes.map(v => v -> (base + sums(v) * dampNum / dampDen)).toMap
    }
    r
  }

  private def seqHits(edges: Seq[(Long, Long)], iterations: Int,
      scale: Long = 1000000000000L): Map[Long, (Long, Long)] = {
    val e = edges.distinct
    val nodes = e.flatMap(x => Seq(x._1, x._2)).distinct.sorted
    var h = nodes.map(_ -> scale / nodes.size).toMap
    var a = Map.empty[Long, Long]
    def norm(raw: Map[Long, Long]): Map[Long, Long] = {
      val d = math.max(raw.values.sum / scale, 1L)
      raw.map { case (k, v) => k -> v / d }
    }
    (1 to iterations).foreach { _ =>
      val araw = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      e.foreach { case (s, d) => araw(d) += h(s) }
      a = norm(nodes.map(v => v -> araw(v)).toMap)
      val hraw = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      e.foreach { case (s, d) => hraw(s) += a(d) }
      h = norm(nodes.map(v => v -> hraw(v)).toMap)
    }
    nodes.map(v => v -> ((a(v), h(v)))).toMap
  }

  test("hitsFixedPoint matches the sequential recurrence exactly") {
    import spark.implicits._
    for (seed <- Seq(3L, 11L)) {
      val rnd = new scala.util.Random(seed)
      val edges = (Seq.fill(400)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong)) ++
        (0L until 80L).map(i => (i, (i * 5 + 2) % 80))).distinct
      val expected = seqHits(edges, 5)
      val got = Graph.hitsFixedPoint(edges.toDF("s", "d"), "s", "d", iterations = 5)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(got == expected, s"seed=$seed")
    }
  }

  test("hitsFixedPoint: partitioning invariance and hub/authority separation") {
    import spark.implicits._
    // bipartite hub->authority fan: hubs 1..5 each link authorities 11..13
    val edges = for (h <- 1L to 5L; t <- 11L to 13L) yield (h, t)
    val base = Graph.hitsFixedPoint(edges.toDF("s", "d"), "s", "d", 5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val repart = Graph.hitsFixedPoint(edges.toDF("s", "d").repartition(7), "s", "d", 5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(base == repart, "bit-identical under repartitioning")
    // authorities earn authority mass and zero hub mass; hubs the reverse
    assert((11L to 13L).forall(t => base(t)._1 > 0 && base(t)._2 == 0))
    assert((1L to 5L).forall(h => base(h)._1 == 0 && base(h)._2 > 0))
  }

  test("pageRankFixedPoint matches the sequential recurrence exactly") {
    import spark.implicits._
    for (seed <- Seq(2L, 9L)) {
      val rnd = new scala.util.Random(seed)
      val edges = (Seq.fill(400)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong)) ++
        (0L until 80L).map(i => (i, (i * 3 + 1) % 80))).distinct // no dangling sinks unless random
      val expected = seqPageRank(edges, 10)
      val got = Graph.pageRankFixedPoint(edges.toDF("s", "d"), "s", "d", iterations = 10)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"seed=$seed")
    }
  }

  test("pageRankFixedPoint: exact partitioning invariance (the fixed-point property)") {
    import spark.implicits._
    val rnd = new scala.util.Random(5L)
    val edges = Seq.fill(500)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong)).distinct
    val df = edges.toDF("s", "d")
    val a = Graph.pageRankFixedPoint(df.repartition(1), "s", "d", 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Graph.pageRankFixedPoint(df.repartition(16, col("d")), "s", "d", 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b, "ranks must be bit-identical under any partitioning")
  }

  test("pageRankFixedPoint: rank mass and ordering sanity on a known shape") {
    import spark.implicits._
    // star: all spokes point at the hub; hub points at spoke 1
    val edges = (1L to 50L).map(i => (i, 0L)) :+ (0L, 1L)
    val r = Graph.pageRankFixedPoint(edges.toDF("s", "d"), "s", "d", 10)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    // NOTE: hub vs spoke-1 oscillates with period 2 (the hub hands its whole
    // mass to spoke 1 each synchronous step — genuine power-iteration
    // behavior on a near-periodic graph), so only oscillation-stable
    // orderings are asserted: both in-linked nodes beat the unlinked spokes.
    assert(r(0L) > r(2L), "hub (50 in-links) outranks unlinked spokes")
    assert(r(1L) > r(2L), "linked spoke outranks unlinked spokes")
    val total = r.values.sum
    assert(total <= 1000000000000L && total > 600000000000L,
      s"mass conserved up to deterministic truncation loss, got $total")
  }
}
