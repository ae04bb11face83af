package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.pipeline.{Dedup, Similarity, TextAnalysis, Multimodal, Decontaminate}
import graft.core.UrlOps
import graft.engine.{CrawlEngine, CrawlConfig}
import graft.serp.SerpTransforms

/**
 * Driver contract (SURVEY.md §7): one `queries` entry per implemented
 * operator family, each with a DuckDB `oracleSql` — ALL 50 queries are
 * oracled. Where the kernel itself is not SQL-expressible (LSH/minhash
 * sketches, the BSP crawl fixpoint, multimodal decode), the fixture is
 * constructed so the EXPECTED OUTPUT is closed-form in the generator seed
 * and DuckDB recomputes it independently (q24's oracle re-derives the whole
 * crawl as a depth-unrolled SQL BFS); ScalaTest suites additionally pin the
 * kernels against sequential oracles, brute-force ground truths and goldens
 * at configs the SQL forms don't reach.
 *
 * Every oracled query ends in a deterministic ORDER BY mirrored in the SQL,
 * aggregates avoid order-dependent float accumulation (integral-valued
 * doubles, counts, min/max, or round()ed derived values), and every computed
 * column is aliased identically on both sides.
 */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Full-width SERP projection shared by q78/q79: every SerpRow column
    * including the optionals, snake_cased for DuckDB parity, ints widened
    * to long (DuckDB int64). */
  private def serpFullDf(s: SparkSession,
      pages: org.apache.spark.sql.Dataset[SerpTransforms.SerpPage]): DataFrame =
    SerpTransforms.parseAll(s, pages).toDF()
      .select(col("query"), col("page").cast("long").as("page"),
        col("position").cast("long").as("position"), col("category"),
        col("title"), col("url"), col("description"), col("source"),
        col("imageUrl").as("image_url"),
        col("imageWidth").cast("long").as("image_width"),
        col("imageHeight").cast("long").as("image_height"),
        col("snippet"), col("date").as("pub_date"))
      .orderBy(col("query"), col("page"), col("position"), col("url"))

  /** sf factor parsed from the dir name ("…/sf0.01" -> 0.01); sizes the
    * synthetic crawl/serp/media corpora so bench scales with sf. */
  private def sfOf(dir: String): Double = {
    val m = """sf([0-9.]+)""".r.findFirstMatchIn(dir)
    m.map(_.group(1).toDouble).getOrElse(0.01)
  }

  // ------------------------------------------------------------- flagship
  /** Flagship: the BSP crawl engine over a synthetic 300-page multi-host
    * corpus — frontier scheduling, politeness, exact seen-set dedup, extraction —
    * returning the canonical crawl trace. Driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = crawlTrace(spark, 300, 6, limit = 200)

  // crawl-fixture workdirs alive in this JVM (see cleanup note in crawlTrace)
  private val liveCrawlWorkDirs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private lazy val crawlWorkDirHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => reapCrawlWorkDirs()))
  private def reapCrawlWorkDirs(): Unit = {
    crawlWorkDirHook
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
    }
    var d = liveCrawlWorkDirs.poll()
    while (d != null) { rm(new java.io.File(d)); d = liveCrawlWorkDirs.poll() }
  }

  /** Fresh crawl workdir on the RAM-backed fs when present, registered for
    * reaping (see cleanup note in [[crawlTrace]]). */
  private def freshCrawlWorkDir(): String = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val work =
      (if (java.nio.file.Files.isWritable(shm))
         java.nio.file.Files.createTempDirectory(shm, "graft-crawl")
       else java.nio.file.Files.createTempDirectory("graft-crawl")).toString
    reapCrawlWorkDirs()
    liveCrawlWorkDirs.add(work)
    work
  }

  private def crawlTrace(spark: SparkSession, pages: Int, hosts: Int, limit: Int): DataFrame = {
    // corpus generated EXECUTOR-side (the 100 TB shape: pages come off a
    // distributed table, never through the driver)
    val pagesDf = graft.fixtures.SiteGen.corpusFrame(spark, 42L, pages, hosts)
    // checkpoints on the RAM-backed fs when present: a single local disk is
    // not the analog of a cluster's DFS (BENCH.md "disk floor"); correctness
    // paths and tests keep exercising the regular tmp filesystem.
    // tmpfs is RAM and survives JVM exit: without cleanup every Bench/Verify
    // invocation would permanently leak a full crawl checkpoint into /dev/shm
    // (the exact host-contention noise BENCH.md documents). The returned
    // trace() reads the workdir parquet lazily, so the CURRENT workdir must
    // outlive this call — each invocation instead reaps all PREVIOUS
    // invocations' workdirs (Bench/Verify consume each trace before asking
    // for the next), and one static shutdown hook reaps the last.
    val work = freshCrawlWorkDir()
    val eng = new CrawlEngine(spark, pagesDf, work,
      robotsBodies = graft.fixtures.SiteGen.robotsRows(hosts).toMap,
      settings = CrawlEngine.Settings())
    eng.run(Seq(CrawlConfig(
      jobId = "flagship", seeds = Seq(graft.fixtures.SiteGen.pageUrl(0, 0)),
      strategy = "all", maxDepth = 12, limit = limit,
      // politeness epoch = 256/host/wave; 8 waves batched per committed
      // superstep (commit cadence decoupled from politeness cadence —
      // CrawlConfig.politenessWaves). The machinery runs every superstep but
      // the budget never BINDS at either verify-able shape: per-host
      // per-depth frontiers stay <= 256 at sf0.01 AND sf0.1 — the hot
      // host's depth-8 level at sf0.1 is EXACTLY 256, and wave = rank/budget
      // keeps rank 255 in wave 0, so the margin is ZERO. That is what keeps
      // the DuckDB oracle a plain depth-unrolled BFS at both scales — at
      // budget 64 the sf0.1 trace split host waves at depths 7-9 and left
      // plain-BFS order. If the corpus ever grows a (host, depth) level past
      // 256, the schedule flips to wave-split order and the oracle must
      // follow (raise the budget or model waves in the SQL).
      // Budget-BINDING schedules (waves splitting, deferral across
      // supersteps) are trace-oracled in CrawlEngineSpec (hot-host test,
      // scheduler fuzz, canonical fixture).
      hostBudgetPerStep = 256, politenessWaves = 8, respectRobots = true)))
    eng.trace()
  }

  // ---------------------------------------------------------- query matrix
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- relational core (J1-J5, A1-A6, W1-W4, U1, P1) over TPC-H-ish data
    "q01_pricing_summary" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("cnt"),
          date_format(min(col("l_shipdate")), "yyyy-MM-dd").as("min_ship"),
          date_format(max(col("l_shipdate")), "yyyy-MM-dd").as("max_ship"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    "q02_region_orders" -> ((s, dir) => {
      // dims are tiny -> broadcast joins, no shuffle of the orders fact
      val o = t(s, dir, "orders"); val c = t(s, dir, "customer")
      val n = t(s, dir, "nation"); val r = t(s, dir, "region")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(
          count(lit(1)).as("order_cnt"),
          countDistinct(col("o_custkey")).as("customer_cnt"),
          max(col("o_totalprice")).as("max_price"))
        .orderBy(col("r_name"))
    }),

    "q03_topk_per_segment" -> ((s, dir) => {
      val o = t(s, dir, "orders"); val c = t(s, dir, "customer")
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select(col("c_mktsegment"), col("rn"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("c_mktsegment"), col("rn"))
    }),

    "q04_customers_no_orders" -> ((s, dir) => {
      // anti-join (J2 seen-set shape): customers with no large order
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_totalprice") > 300000).select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    "q05_parts_ordered" -> ((s, dir) => {
      t(s, dir, "part")
        .join(t(s, dir, "lineitem").select(col("l_partkey")),
          col("p_partkey") === col("l_partkey"), "left_semi")
        .select(col("p_partkey"), col("p_brand"))
        .orderBy(col("p_partkey"))
    }),

    "q06_union_distinct" -> ((s, dir) => {
      t(s, dir, "orders").select(col("o_custkey").as("custkey"))
        .union(t(s, dir, "customer").filter(col("c_acctbal") < 0)
          .select(col("c_custkey").as("custkey")))
        .distinct()
        .orderBy(col("custkey"))
    }),

    "q07_status_classify" -> ((s, dir) => {
      // P1 status-classifier shape: CASE WHEN routing, Catalyst-foldable
      t(s, dir, "events")
        .withColumn("bucket",
          when(col("value") < 10, "low")
            .when(col("value") < 100, "mid")
            .otherwise("high"))
        .groupBy(col("event_type"), col("bucket"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("event_type"), col("bucket"))
    }),

    "q08_hourly_events" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"))
        .agg(count(lit(1)).as("cnt"), countDistinct(col("user_id")).as("users"))
        .orderBy(col("hour"))
    }),

    "q09_politeness_topk" -> ((s, dir) => {
      // the politeness/limit scheduling shape (W1/C2): top-2 per key by time
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 2)
        .select(col("user_id"), col("rn"), col("event_id"))
        .orderBy(col("user_id"), col("rn"))
    }),

    "q10_sessionize" -> ((s, dir) => {
      // session = gap > 30 min (lag window; exact interval arithmetic)
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
      t(s, dir, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev_ts").isNull || col("ts") > col("prev_ts") + expr("INTERVAL 30 MINUTES"), 1L)
            .otherwise(0L))
        .groupBy(col("user_id"))
        .agg(sum(col("new_sess")).as("sessions"), count(lit(1)).as("events"))
        .orderBy(col("user_id"))
    }),

    // ---- training-data pipeline: dedup / text analysis / fingerprints
    "q11_dedup_exact" -> ((s, dir) => {
      // exact hash-groupBy dedup; corpus UNION shifted-id copy plants one
      // duplicate per doc so cluster semantics are exercised at every sf
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val doubled = docs.unionByName(
        docs.select((col("doc_id") + 100000).as("doc_id"), col("text")))
      Dedup.exactClusters(doubled, "text", "doc_id")
        .select(col("content_md5"), col("cluster_size"), col("keep_id"))
        .orderBy(col("content_md5"))
    }),

    // benchmark decontamination (13-gram overlap vs an eval set): planted
    // by construction — every doc_id % 50 == 3 doc gets one 15-word bench
    // sentence appended, so its distinct-shingle hit count is exactly
    // 15-13+1 = 3 and everything else is 0 (bench tokens are synthetic and
    // cannot occur in the corpus). The REAL kernel (shingle/hash/broadcast
    // join) runs; DuckDB recomputes expected rows from doc_id arithmetic.
    "q38_decontaminate" -> ((s, dir) => {
      val s2 = s
      import s2.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val benchLits = array(benchSentences.map(lit): _*)
      val planted = docs.withColumn("text",
        when(col("doc_id") % 50 === 3,
          concat(col("text"), lit(" "),
            element_at(benchLits, (col("doc_id") % 5 + 1).cast("int"))))
          .otherwise(col("text")))
      val bench = benchSentences.toDF("text")
      Decontaminate.flag(planted, "text", "doc_id", bench, "text",
          n = 13, minHits = 2)
        .orderBy(col("doc_id"))
    }),

    // Gopher/MassiveText repetition rules. TRUE independent oracle: Spark
    // computes the per-doc bigram mode with a sort+run-length aggregate()
    // fold (no shuffle); DuckDB recomputes it the orthodox way (unnest +
    // GROUP BY + max/sum) over the same planted text. Line duplication is
    // planted (doc_id % 40 == 7 gets 2-4 identical appended lines) since
    // the synthetic corpus has no newlines of its own.
    "q39_gopher_repetition" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val planted = docs.withColumn("text",
        when(col("doc_id") % 40 === 7,
          concat(col("text"), array_join(array_repeat(
            lit("\ndup line marker row"),
            (col("doc_id") % 3 + 2).cast("int")), "")))
          .otherwise(col("text")))
      planted.select(col("doc_id"),
          round(TextAnalysis.dupLineFrac(col("text")), 4).as("dup_line_frac"),
          round(TextAnalysis.topBigramFrac(col("text")), 4).as("top_bigram_frac"),
          TextAnalysis.gopherKeep(col("text")).as("keep"))
        .orderBy(col("doc_id"))
    }),

    // deterministic stratified sampling (data mixing): membership = a pure
    // function of doc_id, so the oracle replays it exactly. The production
    // hash (xxhash64) is injectable; here a multiplicative spread DuckDB
    // can recompute stands in — the selection kernel is identical.
    "q40_stratified_sample" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      val rates = Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.1,
        "es" -> 0.75, "zh" -> 0.0)
      val hashCol = pmod(col("doc_id") * 7919, lit(graft.pipeline.Sampling.Denominator))
      graft.pipeline.Sampling.stratifiedSample(docs, "lang", rates, hashCol)
        .orderBy("doc_id")
    }),

    // PII scrub (C4-style hygiene pass): PII is planted by construction
    // (the corpus itself has no digits/@), so counts are closed-form in
    // doc_id and DuckDB replays the scrub with literal replace() of the
    // planted tokens while Spark runs the REAL regex kernel.
    "q41_pii_scrub" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val planted = docs.withColumn("text", concat(col("text"),
        when(col("doc_id") % 30 === 5, lit(" reach user@example.org now"))
          .when(col("doc_id") % 30 === 11, lit(" dial +44 123 456 7890 today"))
          .when(col("doc_id") % 30 === 23, lit(" ping 10.0.0.1 and 192.168.1.1 please"))
          .otherwise(lit(""))))
      import graft.pipeline.Redact
      planted.select(col("doc_id"),
          Redact.emailCount(col("text")).as("emails"),
          Redact.phoneCount(col("text")).as("phones"),
          Redact.ipv4Count(col("text")).as("ips"),
          length(Redact.scrub(col("text"))).as("scrubbed_len"))
        .orderBy(col("doc_id"))
    }),

    // the COMPOSED curation pipeline (dedup -> repetition -> quality ->
    // sample) with first-drop-stage attribution; doc text never shuffles
    // (dedup exchanges only (hash,id) pairs, joined back on the at-rest
    // id key), everything else rides a single codegen pass. Oracle
    // recomputes every stage independently (window dedup, unnest bigram
    // mode, the quality formula, the sampling rule) and the same
    // first-match CASE chain.
    "q42_curate" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"), col("lang"))
      val doubled = docs.unionByName(docs.select(
        (col("doc_id") + 100000).as("doc_id"), col("text"), col("lang")))
      val rates = Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.1,
        "es" -> 0.75, "zh" -> 0.0)
      val hashCol = pmod(col("doc_id") * 7919, lit(graft.pipeline.Sampling.Denominator))
      graft.pipeline.Curate.curate(doubled, "text", "doc_id", "lang",
          rates, qualityMin = 0.5, hashCol)
        .orderBy("doc_id")
    }),

    // duplicate-CLUSTER resolution (pairs -> connected components -> one
    // keeper per cluster): the step after MinHash/SimHash pair generation
    // that pair lists alone cannot do. Edges are DuckDB-recomputable by
    // construction: (a) exact-dup adjacency CHAINS — consecutive doc ids
    // within each md5(lower(text)) group of the q11-style doubled corpus;
    // (b) closed-form chain edges (doc_id-37 -> doc_id when 37 | doc_id and
    // both ids exist), giving multi-hop components of diameter ~14 at
    // sf0.01 / ~135 at sf0.1 — the transitive case that genuinely needs
    // the O(log n)-round star contraction. DuckDB resolves the same graph
    // with a recursive-CTE transitive closure (exact on these small
    // components; the Spark side never materializes a closure).
    "q43_dup_clusters" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val docs2 = d.unionByName(
        d.select((col("doc_id") + 100000).as("doc_id"), col("text")))
      val w = Window.partitionBy(md5(lower(col("text")))).orderBy(col("doc_id"))
      val dupEdges = docs2
        .select(lag(col("doc_id"), 1).over(w).as("a"), col("doc_id").as("b"))
        .filter(col("a").isNotNull)
      val ids = docs2.select(col("doc_id"))
      val chainEdges = ids.filter(col("doc_id") % 37 === 0)
        .select((col("doc_id") - 37).as("a"), col("doc_id").as("b"))
        .join(ids.withColumnRenamed("doc_id", "a"), Seq("a"), "left_semi")
      val pairs = dupEdges.unionByName(chainEdges)
      graft.pipeline.Graph.dupClusters(docs2, "doc_id", pairs, "a", "b")
        .select(col("id").as("doc_id"), col("cluster"), col("keep"))
        .orderBy(col("doc_id"))
    }),

    // link-graph PageRank for frontier prioritization (OPIC-style crawl
    // ordering), in FIXED-POINT integer arithmetic so ranks are exactly
    // reproducible on any partitioning and exactly recomputable by SQL.
    // The real extraction kernel runs (parse + a[href] resolve + normalize
    // over every page, same path q24's green oracle pins to the generator's
    // edge rule); DuckDB re-derives the identical edge set closed-form and
    // replays the identical integer recurrence, 10 unrolled iterations.
    "q44_link_pagerank" -> ((s, dir) => {
      graft.pipeline.Graph.pageRankFixedPoint(siteGenEdges(s, dir), "src", "dst",
          iterations = q44Iters)
        .select(expr("id div 100000").cast("int").as("host"),
          expr("id % 100000").as("page"), col("rank_fp"))
        .orderBy(col("rank_fp").desc, col("host"), col("page"))
    }),

    // HITS hubs/authorities over the SAME extracted link graph as q44
    // (Graph.hitsFixedPoint — integer sum-normalized fixed point, 5
    // rounds); DuckDB re-derives the edge set closed-form and replays the
    // identical recurrence, unrolled, with `//` division.
    "q74_link_hits" -> ((s, dir) => {
      graft.pipeline.Graph.hitsFixedPoint(siteGenEdges(s, dir), "src", "dst",
          iterations = q74Iters)
        .select(expr("id div 100000").cast("int").as("host"),
          expr("id % 100000").as("page"), col("auth_fp"), col("hub_fp"))
        .orderBy(col("auth_fp").desc, col("host"), col("page"))
    }),

    // the composed curation pipeline WITH the near-dup cluster stage
    // (exact dup -> MinHash-LSH pairs over survivors -> CC clusters -> one
    // keeper). By-construction corpus, closed-form in doc_id: groups of 5
    // consecutive ids share a 60-word deterministic base text; member 1
    // repeats the leader byte-exactly (exact-dup stage), members 2-4 append
    // two id-keyed words (Jaccard ~0.94 — near-dup stage), leaders survive.
    // The minhash/CC kernels aren't SQL-expressible, but the EXPECTED stage
    // per doc is: kept/dup/neardup by doc_id % 5 (the q38 oracle pattern);
    // content gates are configured open (qualityMin=-1, rate 1.0, single
    // line, all-distinct words) so only the dedup stages can fire.
    "q45_curate_neardup" -> ((s, dir) => {
      val grpStr = expr("CAST(doc_id div 5 AS STRING)")
      val baseWords = (1 to 60).map(i =>
        substring(md5(concat(grpStr, lit("_" + i))), 1, 8))
      val sfx = Seq("_s1", "_s2").map(k =>
        substring(md5(concat(col("doc_id").cast("string"), lit(k))), 1, 8))
      // materialize once (lazy local checkpoint): the text is a 60-md5
      // expression — without materialization, ProjectCollapsing inlines it
      // into every downstream consumer (exact hash, shingles, gopher
      // kernel, quality score), recomputing the whole wordbank per use (the
      // q18 signature-cache lesson). localCheckpoint, NOT cache: cache
      // registers a catalog entry per invocation that nothing unpersists
      // (Bench calls each query lambda N times per JVM), while checkpoint
      // blocks are reference-tracked and freed on GC
      val docs = t(s, dir, "documents").select(
        col("doc_id"),
        when(col("doc_id") % 5 >= 2, concat_ws(" ", (baseWords ++ sfx): _*))
          .otherwise(concat_ws(" ", baseWords: _*)).as("text"),
        lit("all").as("stratum"))
        .localCheckpoint(false)
      graft.pipeline.Curate.curateNearDup(docs, "text", "doc_id", "stratum",
          Map("all" -> 1.0), qualityMin = -1.0, hashCol = lit(0L))
        .orderBy("doc_id")
    }),

    // semantic dedup (SemDeDup, arXiv:2303.09540): k-means over embeddings,
    // then pairwise-cosine pruning WITHIN clusters only. EXACT-RECOMPUTE
    // oracle: embeddings are planted closed-form in doc_id with exactly-
    // representable integer components (cluster axis 2*(id%4) = 100, jitter
    // axis = 10*((id div 4)%7), shared epsilon dim = (id div 28)%3), so the
    // one Lloyd round's centroid means are EXACT doubles on both sides and
    // DuckDB replays the full recurrence: assign vs one-hot seeds ->
    // element-wise mean -> reassign -> typicality cosine -> within-cluster
    // pairwise >= tau. Decision margins are engineered (same-class cosine
    // >= 0.9998 vs tau 0.999 vs cross-jitter <= 0.9971), so every
    // cluster/keep decision is float-robust; typicality follows the
    // q17/q21 round-to-4 convention.
    "q46_semdedup" -> ((s, dir) => {
      val tc = pmod(col("doc_id"), lit(4)).cast("int")
      val jit = (pmod(expr("doc_id div 4"), lit(7)) * 10).cast("double")
      val eps = pmod(expr("doc_id div 28"), lit(3)).cast("double")
      val emb = array((0 until 9).map { i =>
        if (i == 8) eps
        else if (i % 2 == 0) when(tc === i / 2, lit(100.0)).otherwise(lit(0.0))
        else when(tc === i / 2, jit).otherwise(lit(0.0))
      }: _*)
      // materialize once (q45 rationale): the 9-branch array expression is
      // consumed by the partial-sum scan, the assignment scan, and both
      // sides of the pairwise self-join
      val docs = t(s, dir, "documents").select(col("doc_id"), emb.as("emb"))
        .localCheckpoint(false)
      graft.pipeline.SemDedup.semDedup(docs, "emb", "doc_id",
          init = Array.tabulate(4, 9)((c, i) => if (i == 2 * c) 1.0 else 0.0),
          iters = 1, tau = 0.999)
        .select(col("doc_id"), col("cluster"),
          round(col("typicality"), 4).as("typicality"), col("keep"))
        .orderBy("doc_id")
    }),

    // DSIR-style data selection (arXiv:2302.03169): hashed-bigram
    // importance weights learned target-vs-raw, then a per-doc weighted
    // score gates selection. INJECTABLE-DETERMINISM oracle (the q40
    // pattern): the bucket fn is an SQL-replayable arithmetic over word
    // lengths/first chars (production default is xxHash64 — covered by
    // DsirSpec), and the weight transform is the exact integer
    // 3*ct - cr, so every count, weight and score is an exact-integer
    // double DuckDB recomputes bit-for-bit. Target membership is planted:
    // doc_id % 3 == 0 docs carry 10 repetitions of a marker bigram, giving
    // them a score mass of >= 720x the target count while non-members only
    // collect distributional noise (< 270x) — the 500x threshold sits
    // between the two bands at both verify scales (measured at the
    // q47ThresholdPerTarget doc; the oracle is exact regardless of where
    // the threshold falls).
    "q47_dsir_select" -> ((s, dir) => {
      val bucketFn = (a: String, b: String) =>
        (a.length * 31 + b.length * 17 + a.charAt(0).toInt * 7 + b.charAt(0).toInt) % 64
      // planted marker: feeds three kernel scans (target counts, raw
      // counts, scoring) -> materialize once (q45 rationale)
      val docs = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" dsira dsirb" * 10)))
          .otherwise(col("text")).as("text"))
        .localCheckpoint(false)
      val diffWeights = (ct: Array[Long], cr: Array[Long]) =>
        Array.tabulate(ct.length)(b => (3L * ct(b) - cr(b)).toDouble)
      // subset fast path: ONE learn scan yields target counts, raw counts
      // and the target doc count together
      val (w, nt) = graft.pipeline.Dsir.learnWeightsSubset(docs, "text",
        targetCol = col("doc_id") % 3 === 0,
        buckets = 64, bucket = bucketFn, transform = diffWeights)
      graft.pipeline.Dsir.select(docs, "text", "doc_id", w, bucketFn,
          threshold = q47ThresholdPerTarget * nt)
        .orderBy("doc_id")
    }),

    // incremental-recrawl delta (snapshot diffing + adaptive revisit
    // intervals, Cho & Garcia-Molina 2003): BY-CONSTRUCTION oracle — both
    // snapshots are synthesized closed-form in doc_id (gone = id%7==3,
    // changed = id%5==1 via a different md5 preimage, new = id%6==0 under
    // a +100000 shift, carried intervals = 7200*(id%4+1)), so DuckDB
    // re-derives the same two tables and replays the same full-outer join
    // + when-chain policy. The REAL operator runs: one url-keyed
    // full-outer join carrying only (url, hash, ts, interval).
    "q48_recrawl_delta" -> ((s, dir) => {
      def urlOf(idc: org.apache.spark.sql.Column) =
        concat(lit("https://host"), pmod(idc, lit(40)), lit(".example.test/p"), idc)
      val ids = t(s, dir, "documents").select(col("doc_id"))
      val prev = ids.select(
        urlOf(col("doc_id")).as("url"),
        md5(concat(lit("h"), col("doc_id"))).as("content_hash"),
        (col("doc_id") + 1000000L).as("fetch_ts"),
        (lit(7200L) * (pmod(col("doc_id"), lit(4)) + 1)).as("interval_secs"))
      val curr = ids.filter(pmod(col("doc_id"), lit(7)) =!= 3)
        .select(
          urlOf(col("doc_id")).as("url"),
          when(pmod(col("doc_id"), lit(5)) === 1,
            md5(concat(lit("x"), col("doc_id"))))
            .otherwise(md5(concat(lit("h"), col("doc_id")))).as("content_hash"),
          (col("doc_id") + 2000000L).as("fetch_ts"))
        .unionByName(ids.filter(pmod(col("doc_id"), lit(6)) === 0).select(
          urlOf(col("doc_id") + 100000).as("url"),
          md5(concat(lit("h"), col("doc_id") + 100000)).as("content_hash"),
          (col("doc_id") + 2100000L).as("fetch_ts")))
      graft.pipeline.Recrawl.delta(prev, curr, "url", "content_hash",
          "fetch_ts", intervalCol = Some("interval_secs"))
        .orderBy("url")
    }),

    // media dedup over the GMB1 binary column: modality-aware keys
    // (image aHash, video first-frame aHash, audio exact bytes) feed the
    // q11 exact-cluster layout. BY-CONSTRUCTION oracle: the only colliding
    // keys are the planted byte-identical +100000 copies (id % 4 == 1) —
    // natural collisions are ~2^-64 per pair — so cluster sizes and
    // keepers are closed-form in id while the REAL decode + aHash kernels
    // run on every payload.
    "q49_media_dedup" -> ((s, dir) => {
      val s2 = s
      import s2.implicits._
      val n = t(s, dir, "documents").count().toInt
      val base = Multimodal.syntheticMedia(s, n)
      val planted = base.union(base.filter(_.media_id % 4 == 1)
        .map(r => r.copy(media_id = r.media_id + 100000)))
      Multimodal.dedupClusters(planted)
        .orderBy("media_id")
    }),

    // training-shard assembly (token-budget packing): EXACT-RECOMPUTE
    // oracle — the q13 whitespace token count feeds a deterministic global
    // prefix sum; DuckDB recomputes it with an ordered window while the
    // Spark side runs the WINDOWLESS two-phase partition-offset pattern
    // (a single-partition window is the 100 TB anti-pattern; PackSpec pins
    // the plan). shard = floor(prefix_before / budget): a straddling doc
    // belongs to the shard it starts in.
    "q50_pack_shards" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.tokenCountWs(col("text")).cast("long").as("tokens"))
      graft.pipeline.Pack.shardByBudget(docs, "doc_id", "tokens", budget = 4096L)
        .orderBy("doc_id")
    }),

    // corpus-level line dedup (CCNet-style boilerplate removal):
    // BY-CONSTRUCTION oracle — docs are synthesized closed-form in doc_id
    // (6 lines each: unique md5-stamped lines, a cookie banner on id%2==0,
    // a newsletter plea on id%3==0, a within-doc repeat on id%10==7, and a
    // trailing empty structural line), so DuckDB regenerates the same
    // corpus and replays split + frequency + anti-filter + ordered
    // reassembly in SQL. The REAL operator runs both stages (hash-keyed
    // frequency agg + broadcast kernel rewrite); the count-scaled
    // threshold n/20 keeps planted families far from the boundary at any
    // sf. Lines match by trimmed text in SQL vs trimmed xxhash64 in the
    // engine — identical absent ~2^-64 collisions.
    "q51_line_dedup" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val n = d.count()
      val id = col("doc_id")
      def u(tag: String) = concat(lit("u"), id, lit(tag))
      val l1 = concat(lit("u"), id, lit("a-"), md5(concat(lit("a"), id)))
      val l2 = when(pmod(id, lit(2)) === 0,
        lit("Accept all cookies to continue")).otherwise(u("b"))
      val l4 = when(pmod(id, lit(3)) === 0,
        lit("Subscribe to our newsletter")).otherwise(u("d"))
      val l5 = when(pmod(id, lit(10)) === 7, l1).otherwise(u("e"))
      val docs = d.select(id,
        concat_ws("\n", l1, l2, u("c"), l4, l5, lit("")).as("text"))
      graft.pipeline.LineDedup.clean(docs, "doc_id", "text",
          minCount = math.max(2L, n / 20))
        .orderBy("doc_id")
    }),

    // domain-reputation gate (RefinedWeb-style "judge the site"): per-doc
    // quality (the q15 scorer, already hash-exact vs DuckDB) is re-scaled
    // to integer 1/10000ths so every sum is order-independent; the keep
    // decision is exact 64-bit cross-multiplication (domain mean >= corpus
    // mean), so the oracle is an EXACT RECOMPUTE with zero float
    // accumulation anywhere.
    "q52_domain_filter" -> ((s, dir) => {
      val qm = round(round(TextAnalysis.qualityScore(col("text")), 4)
        * 10000, 0).cast("long")
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), qm.as("qmilli"))
      graft.pipeline.DomainStats.filterDocs(docs, "source", "qmilli")
        .orderBy("doc_id")
    }),

    // text normalization (NFC + control strip + space folding + collapse):
    // BY-CONSTRUCTION oracle — docs carry planted mojibake chosen per
    // id%6 (combining acute, BEL/CRLF, NBSP+ZWSP, tab runs, combining
    // ring, and a clean control group), all stable codepoints both
    // engines' Unicode tables agree on; DuckDB replays the four rules as
    // nfc_normalize + three RE2 class replaces.
    "q53_normalize_text" -> ((s, dir) => {
      val id = col("doc_id")
      val seg = pmod(id, lit(6))
      val segCol = when(seg === 0, lit("cafe\u0301 brulee"))
        .when(seg === 1, lit("x\u0007y\r\nz"))
        .when(seg === 2, lit("a\u00A0b\u200Bc"))
        .when(seg === 3, lit("tab\t\t  end"))
        .when(seg === 4, lit("A\u030A ring"))
        .otherwise(lit("plain clean"))
      val docs = t(s, dir, "documents")
        .select(id, concat(lit("u"), id, lit(": "), segCol).as("text"))
      graft.pipeline.Normalize.normalizeDocs(docs, "doc_id", "text")
        .orderBy("doc_id")
    }),

    // corpus vocabulary (tokenizer-training stats): EXACT-RECOMPUTE oracle
    // — integer tf/df with a total (tf desc, token asc) order, so DuckDB's
    // unnest+GROUP BY replays the kernel's per-doc pre-aggregation
    // bit-for-bit. k=100 exercises the TakeOrdered cut.
    "q54_vocab_topk" -> ((s, dir) =>
      graft.pipeline.Vocab.topK(t(s, dir, "documents"), "text", 100)),

    // WARC source (Common Crawl container): BY-CONSTRUCTION oracle — the
    // query synthesizes four archive files (two plain, two per-record-gzip)
    // whose records are closed-form in doc_id, runs the REAL streaming
    // parser (version line, header block, Content-Length framing, HTTP
    // split, multi-member gzip) through Warc.read, and projects columns
    // DuckDB recomputes from the same closed forms.
    "q55_warc_read" -> ((s, dir) => {
      val n = t(s, dir, "documents").count().toInt
      val tmp = java.nio.file.Files.createTempDirectory("graft-warc").toFile
      tmp.deleteOnExit()
      val files = 4
      val streams = Array.fill(files)(new java.io.ByteArrayOutputStream())
      (0 until n).foreach { i =>
        val one = new java.io.ByteArrayOutputStream()
        val status = if (i % 7 == 3) 404 else 200
        graft.sources.Warc.writeResponse(one,
          s"https://host${i % 40}.example.test/p$i",
          java.time.Instant.ofEpochSecond(1700000000L + i), status,
          s"<html><body>page $i</body></html>".getBytes("UTF-8"))
        val f = i % files
        if (f % 2 == 1)
          streams(f).write(graft.sources.Warc.gzipMember(one.toByteArray))
        else streams(f).write(one.toByteArray)
      }
      streams.zipWithIndex.foreach { case (b, f) =>
        val name = if (f % 2 == 1) s"part-$f.warc.gz" else s"part-$f.warc"
        val file = new java.io.File(tmp, name)
        java.nio.file.Files.write(file.toPath, b.toByteArray)
        // deleteOnExit runs in REVERSE registration order: the dir was
        // registered first (above), so files delete before it — without
        // this, the non-empty dir delete silently fails and temp corpora
        // accumulate across runs
        file.deleteOnExit()
      }
      graft.sources.Warc.read(s, tmp.getAbsolutePath + "/*")
        .select(col("url"), col("warc_ts").cast("long").as("ts_epoch"),
          col("status"), length(col("html")).cast("long").as("n_bytes"),
          md5(col("html")).as("payload_md5"))
        .orderBy("url")
    }),

    // inverted index (dictionary + head postings): EXACT-RECOMPUTE oracle —
    // q54's tokenizer contract (ASCII-ws split, UTF8String lowercasing ==
    // SQL lower()), integer df/tf, and a bottom-K posting list that DuckDB
    // replays as list_sort(list(doc_id))[1:cap]. minDf=2 exercises hapax
    // pruning; cap=16 exercises the bounded-buffer cut on stopwords.
    "q56_inverted_index" -> ((s, dir) =>
      graft.pipeline.Index.postings(t(s, dir, "documents"), "doc_id", "text",
        minDf = 2, cap = 16)),

    // anchor-text aggregation (per-target inlink terms): BY-CONSTRUCTION
    // oracle — each doc_id becomes a page whose anchors are closed-form
    // (one absolute link to page 2d+1 — malformed-scheme variant every 3rd
    // page to exercise repair — plus one root-relative /home.html link,
    // plus fragment/javascript noise the extractor must skip); the REAL
    // html parse + URL resolution + tokenize + combiner pipeline runs, and
    // DuckDB regenerates the (target, term) multiset arithmetically.
    "q57_anchor_topk" -> ((s, dir) => {
      import s.implicits._
      val pages = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { d =>
          val n = 2 * d + 1
          val srcHost = s"h${d % 10}.example.test"
          val tgtHost = s"h${n % 10}.example.test"
          val hrefA =
            if (d % 3 == 0) s"https:/$tgtHost/p$n.html" // malformed, repaired
            else s"https://$tgtHost/p$n.html"
          val html =
            s"""<html><body><a href="#top">skip me</a>
               |<a href="javascript:void(0)">nope</a>
               |<a href="$hrefA">alpha b${n % 5}</a>
               |<a href="/home.html">home h${d % 4}</a></body></html>""".stripMargin
          (s"https://$srcHost/p$d.html", html)
        }.toDF("url", "html")
      graft.pipeline.Anchors.topTerms(pages, "url", "html", k = 3)
    }),

    // LM fluency filter (CCNet-style perplexity gate): EXACT-RECOMPUTE
    // oracle — the add-one bigram model trains on the lang='en' slice with
    // deterministic (count desc, key asc) pruning, and the surprise score is
    // quantized to integer BITS (bitLen = floor(log2)+1), so every per-doc
    // sum is order-independent and DuckDB replays train + prune + score with
    // length(bin(n)) arithmetic. Caps 24/512 make pruning bite at sf0.01;
    // threshold 5000 milli-bits/bigram sits at the corpus median (en docs
    // score ~4.8 bits, other langs ~5.15 — the gate discriminates).
    "q58_lm_fluency" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val model = graft.pipeline.LmScore.train(
        docs.filter(col("lang") === "en"), "text",
        maxUnigrams = 24, maxBigrams = 512)
      graft.pipeline.LmScore.score(docs, "doc_id", "text", model,
        maxBitsPerBigramMilli = 5000L)
    }),

    // data-mixture planner: EXACT-RECOMPUTE oracle — weights are closed-form
    // in the source name (w = suffix%4 + 1), token totals are the q13 ws
    // count, and the feasibility math (N* = min floor(T*W/w), takes, rates)
    // is pure integer arithmetic DuckDB replays with // division.
    "q59_mixture_plan" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      import s.implicits._
      val sources = docs.select(col("source").cast("string")).distinct()
        .as[String].collect()
      val weights = sources.map { src =>
        src -> (src.stripPrefix("src").toLong % 4 + 1)
      }.toMap
      graft.pipeline.Mixture.plan(docs, "source",
        TextAnalysis.tokenCountWs(col("text")), weights)
    }),

    // CDX capture index (web-archive lookup rows): BY-CONSTRUCTION oracle —
    // two plain .warc archives are synthesized with closed-form record ids,
    // making every record's byte extent pure string-length arithmetic in
    // doc_id; the REAL indexer runs (streaming scan, byte accounting, SURT
    // keys, ts14, md5 digests) and DuckDB replays length closed-form and
    // offset as a window prefix-sum within each file. Compressed-member
    // extents (.warc.gz) are not SQL-replayable — CdxSpec pins them with
    // slice-and-reparse tests (gunzip exactly [offset, offset+length) and
    // get the record back).
    "q60_cdx_index" -> ((s, dir) => {
      val n = t(s, dir, "documents").count().toInt
      val tmp = java.nio.file.Files.createTempDirectory("graft-cdx").toFile
      tmp.deleteOnExit()
      val files = 2
      val streams = Array.fill(files)(new java.io.ByteArrayOutputStream())
      (0 until n).foreach { i =>
        val status = if (i % 7 == 3) 404 else 200
        graft.sources.Warc.writeResponse(streams(i % files),
          s"https://host${i % 40}.example.test/p$i",
          java.time.Instant.ofEpochSecond(1700000000L + i), status,
          s"<html><body>page $i</body></html>".getBytes("UTF-8"),
          recordId = s"urn:graft:rec$i")
      }
      streams.zipWithIndex.foreach { case (b, f) =>
        val file = new java.io.File(tmp, s"part-$f.warc")
        java.nio.file.Files.write(file.toPath, b.toByteArray)
        // deleteOnExit runs in REVERSE registration order: dir registered
        // first, so files delete before it (same pattern as q55)
        file.deleteOnExit()
      }
      graft.sources.Cdx.index(s, tmp.getAbsolutePath + "/*").orderBy("url")
    }),

    // sitemap reader (sitemaps.org discovery channel): BY-CONSTRUCTION
    // oracle — every doc_id becomes one sitemap body closed-form in doc_id
    // (d%5==0: a <sitemapindex> with two members; d%7==2: a plain-text list;
    // else a 3-url <urlset> planting XML entities, a relative loc that must
    // resolve against the sitemap's own URL, full-instant and date-only
    // lastmods, an invalid changefreq each 8th slot, and exact-decimal
    // priorities); the REAL tag walker + W3C-datetime + BigDecimal parsing
    // runs, and DuckDB regenerates every row arithmetically.
    "q61_sitemap_entries" -> ((s, dir) => {
      import s.implicits._
      val freqs = Array("always", "hourly", "daily", "weekly", "monthly",
        "yearly", "never", "often") // index 7 is invalid -> null
      val pages = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { d =>
          val host = s"s${d % 40}.example.test"
          val body =
            if (d % 5 == 0) {
              val lm = java.time.Instant.parse("2024-03-01T08:00:00Z")
                .plusSeconds(d)
              s"""<?xml version="1.0" encoding="UTF-8"?>
                 |<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
                 |<sitemap><loc>https://$host/sm/$d/a.xml</loc><lastmod>$lm</lastmod></sitemap>
                 |<sitemap><loc>https://$host/sm/$d/b.xml</loc></sitemap>
                 |</sitemapindex>""".stripMargin
            } else if (d % 7 == 2) {
              s"https://$host/t$d/0\nhttps://$host/t$d/1\n"
            } else {
              val lastmod =
                if (d % 2 == 0)
                  java.time.Instant.parse("2024-03-01T08:00:00Z")
                    .plusSeconds(d).toString
                else f"2024-01-${1 + d % 28}%02d"
              val urls = (0 until 3).map { j =>
                val loc = j match {
                  case 0 => s"https://$host/p$d/0"
                  case 1 => s"https://$host/p$d/1?a=1&amp;b=2"
                  case _ => s"/p$d/2-rel"
                }
                val pr = ((d + j) % 11).toInt
                s"<url><loc>$loc</loc><lastmod>$lastmod</lastmod>" +
                  s"<changefreq>${freqs(((d + j) % 8).toInt)}</changefreq>" +
                  s"<priority>${pr / 10}.${pr % 10}</priority></url>"
              }.mkString
              "<?xml version=\"1.0\"?><urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">" +
                urls + "</urlset>"
            }
          (s"https://$host/sitemap$d.xml", body)
        }.toDF("url", "html")
      graft.sources.Sitemap.entries(pages, "url", "html")
        .select(col("sitemap_url"), col("kind"), col("url"),
          col("lastmod_ts").cast("long").as("lastmod_epoch"),
          col("changefreq"), col("priority_milli"))
        .orderBy("sitemap_url", "url")
    }),

    // exact repeated-passage dedup (Lee et al. ExactSubstr, Spark shape):
    // EXACT-RECOMPUTE oracle via the injectable window key — the query
    // passes rawKey (the joined window string), so DuckDB replays
    // tokenize -> slide -> group -> min-rank verbatim; production defaults
    // to xxh64Key (8-byte shuffle rows), equivalence pinned in
    // PassageDedupSpec. A shared 12-token tail is planted on every 5th doc
    // (stride 1, window 8 -> 12-8+1 = 5 guaranteed shared windows per doc
    // pair) so cross-doc duplicated spans exist by construction; natural
    // repeats count identically on both sides.
    "q62_passage_dedup" -> ((s, dir) => {
      import s.implicits._
      val corpus = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" all rights reserved by the original " +
            "author of this work and contributors")))
          .otherwise(col("text")).as("text"))
      graft.pipeline.PassageDedup.verdicts(corpus, "doc_id", "text",
        window = 8, stride = 1, keyOf = graft.pipeline.PassageDedup.rawKey)
    }),

    // crawler-trap template detection (frontier hygiene): EXACT-RECOMPUTE
    // oracle — frontier URLs are constructed closed-form in doc_id (one
    // exploding calendar family on trap.example.test, six diverse families
    // spread over h0-h6, with planted query strings, fragments, and a
    // hex-id path), and DuckDB replays the SAME host/template regexes plus
    // the integer share math. Moduli are PAIRWISE COPRIME (trap 5, host 7,
    // branch 6), so every (host, branch) family is populated and each
    // diverse host holds all six at ~166 milli — below the 300-milli bar —
    // while the trap host's single family holds 1000: both verdict
    // polarities are exercised by construction.
    "q63_trap_templates" -> ((s, dir) => {
      val d = col("doc_id")
      val urls = t(s, dir, "documents").select(
        when(d % 5 === 1,
          concat(lit("https://trap.example.test/cal/"), lit(2000) + d % 30,
            lit("/"), d % 12))
          .otherwise(concat(lit("https://h"), d % 7, lit(".example.test"),
            when(d % 6 === 0, concat(lit("/item/"), d))
              .when(d % 6 === 1, concat(lit("/about?page="), d))
              .when(d % 6 === 2, concat(lit("/s/deadbeef"), d))
              .when(d % 6 === 3, lit("/tag/news"))
              .when(d % 6 === 4, concat(lit("/p"), d % 7, lit("/view")))
              .otherwise(concat(lit("/faq#sec"), d))))
          .as("url"))
      graft.frontier.Traps.detect(urls, "url",
        minUrls = 10, minShareMilli = 300)
    }),

    // redirect-chain collapse (pointer doubling, log2(maxHops) self-joins):
    // the edge set is closed-form in doc_id — a 2-cycle every 97 ids
    // (d%97=4 <-> d%97=5, with chains d%10 in 1..3 feeding into it as rho
    // tails around d%970), plain 1-3 hop chains elsewhere — so DuckDB
    // re-walks the same functional graph with a recursive CTE while the
    // engine resolves it in 7 doubling rounds.
    "q64_redirect_resolve" -> ((s, dir) => {
      val d = col("doc_id")
      val edges = t(s, dir, "documents")
        .where(pmod(d, lit(97)).isin(4, 5) || pmod(d, lit(10)).isin(1, 2, 3))
        .select(
          concat(lit("https://r.example.test/u"), d).as("src"),
          concat(lit("https://r.example.test/u"),
            when(pmod(d, lit(97)) === 4, d + 1).otherwise(d - 1)).as("dst"))
      graft.frontier.Redirects.resolve(edges, "src", "dst", maxHops = 32)
        .orderBy(col("src"))
    }),

    // canonical-URL alias clustering: pages are tiny synthesized HTML whose
    // <link rel=canonical> target is closed-form in doc_id (self / root-
    // relative to d-1 / absolute to d-2 / external cdn pairs sharing d//8).
    // The REAL Html parse + UrlOps resolve/normalize kernel runs; DuckDB
    // regenerates the expected (url, canonical) pairs and re-aggregates.
    "q65_canonical_clusters" -> ((s, dir) => {
      val d = col("doc_id")
      val pages = t(s, dir, "documents").select(
        concat(lit("https://c.example.test/p"), d).as("url"),
        concat(lit("<html><head>"),
          when(pmod(d, lit(4)) === 1,
            concat(lit("<link rel=\"canonical\" href=\"/p"), d - 1, lit("\">")))
            .when(pmod(d, lit(4)) === 2,
              concat(lit("<link rel=\"CANONICAL\" href=\"https://c.example.test/p"),
                d - 2, lit("\">")))
            .when(pmod(d, lit(4)) === 3,
              concat(lit("<link rel=\"canonical\" href=\"https://cdn.example.test/x"),
                expr("doc_id div 8"), lit("\">")))
            .otherwise(lit("")),
          lit("</head><body>b</body></html>")).as("html"))
      graft.pipeline.Canonical.clusters(pages, "url", "html")
        .orderBy(col("url"))
    }),

    // charset sniff + decode over a binary html column: bytes are built
    // per-row in four encodings (utf-8 via meta, iso-8859-1 via http-equiv
    // meta, utf-16le via BOM, utf-8 via BOM) around a non-ASCII body that
    // is closed-form in doc_id, so DuckDB recomputes the expected charset
    // and decoded char counts without touching bytes. The REAL
    // CharsetSniff.decode kernel (BOM -> meta-prelude -> default) runs.
    "q66_charset_decode" -> ((s, dir) => {
      val s2 = s
      import s2.implicits._
      t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { d =>
            val meta = (d % 4) match {
              case 0 => "<meta charset=\"utf-8\">"
              case 1 => "<meta http-equiv=\"Content-Type\" content=\"text/html; charset=ISO-8859-1\">"
              case _ => ""
            }
            val html = s"<html><head>$meta</head><body>café-$d</body></html>"
            val bytes = (d % 4) match {
              case 1 => html.getBytes("ISO-8859-1")
              case 2 => Array(0xFF.toByte, 0xFE.toByte) ++ html.getBytes("UTF-16LE")
              case 3 => Array(0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++ html.getBytes("UTF-8")
              case _ => html.getBytes("UTF-8")
            }
            val (charset, text) = graft.core.CharsetSniff.decode(bytes)
            (d, charset, text.length, text.count(_ > 127))
          }
        }.toDF("doc_id", "charset", "chars", "nonascii")
        .orderBy(col("doc_id"))
    }),

    // distributed BPE merge learning, BATCHED rounds (Bpe scaladoc): a
    // 64-merge vocabulary learned at batchK=8 symbol-disjoint merges per
    // driver round — 12 rounds instead of 64 on this corpus, the
    // sublinear-round path a real 32k-merge training run needs. The
    // closed-form corpus is 12 sentences keyed by doc_id%12 (16 distinct
    // words rich enough for 64 merges at every sf); the engine runs the
    // word-count-factored loop with local-maxima batch acceptance; DuckDB
    // replays every ROUND as chained CTEs — candidate ranking, the same
    // NOT-EXISTS local-maxima rule inside the same top-4096 window, the
    // batch/budget caps, then up to 8 chained `replace`s over the padded
    // double-space symbol encoding (identity via a chr(1) sentinel when a
    // slot is empty). Greedy left-to-right non-overlapping application
    // semantics are exactly the single-merge oracle's (see q67BpeSql).
    "q67_bpe_merges" -> ((s, dir) => {
      val d = col("doc_id")
      val sentCase = q67Sentences.zipWithIndex.tail
        .foldLeft(when(pmod(d, lit(12)) === 0, lit(q67Sentences.head))) {
          case (acc, (sent, i)) => acc.when(pmod(d, lit(12)) === i, lit(sent))
        }
      val docs = t(s, dir, "documents").select(sentCase.as("text"))
      graft.pipeline.Bpe.learnMerges(docs, "text", merges = 64, batchK = 8)
        .orderBy(col("merge_rank"))
    }),

    // C4-style heuristic cleaning (Raffel et al. 2020 §2.2; the third gate
    // family next to q39's Gopher rules and q15's quality score). The corpus
    // is single-line word soup, so multi-line bodies are planted by
    // construction — doc_id%6+1 good lines plus one rule-specific special
    // line per doc_id%24 — making every line rule (terminal punctuation,
    // min words, javascript) and page rule (lorem ipsum, brace, bad word,
    // min kept lines) bind somewhere. The oracle recomputes the full report
    // from the same text with DuckDB list ops — no label replay.
    "q68_c4_filters" -> ((s, dir) => {
      val d = col("doc_id")
      val docs = t(s, dir, "documents").select(d, col("text"))
      val special = when(pmod(d, lit(24)) === 1,
          lit("\nplease enable javascript to view this content."))
        .when(pmod(d, lit(24)) === 5,
          lit("\nlorem ipsum dolor sit amet consectetur adipiscing elit."))
        .when(pmod(d, lit(24)) === 9,
          lit("\nfunction render() { return html; }"))
        .when(pmod(d, lit(24)) === 13,
          lit("\nno terminal punctuation on this line at all"))
        .when(pmod(d, lit(24)) === 17, lit("\ntiny line."))
        .when(pmod(d, lit(24)) === 21,
          lit("\nthis sentence quietly mentions xxbadxx today."))
        .otherwise(lit(""))
      val planted = docs.withColumn("text", concat(col("text"),
        array_join(array_repeat(
          lit("\ngood line with plenty of words to pass here."),
          (pmod(d, lit(6)) + 1).cast("int")), ""),
        special))
      graft.pipeline.C4Filter.clean(planted, "doc_id", "text", Seq("xxbadxx"))
        .orderBy(col("doc_id"))
    }),

    // WARC archive EXPORT sink (Warc.write — the reverse of q55's reader):
    // a closed-form pages table is written through the distributed sink
    // (url-hash partitions, record-per-member gzip, streaming tasks) and
    // read back with Warc.read; the oracle recomputes the projection
    // closed-form from doc_id, so a green row proves the full write→read
    // round trip preserved every url, timestamp, status, and payload byte.
    "q69_warc_write" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-warcsink").toFile
      tmp.deleteOnExit()
      val d = col("doc_id")
      val pages = t(s, dir, "documents").select(
        concat(lit("https://host"), pmod(d, lit(40)),
          lit(".example.test/e"), d).as("url"),
        (lit(1700000000L) + d).cast("timestamp").as("warc_ts"),
        when(pmod(d, lit(7)) === 3, 404).otherwise(200)
          .cast("int").as("status"),
        concat(lit("<html><body>export page "), d,
          lit("</body></html>")).cast("binary").as("html"))
      val manifest =
        graft.sources.Warc.write(pages, tmp.getAbsolutePath, partitions = 4)
      val written = manifest.agg(sum(col("records"))).collect()(0).getLong(0)
      require(written > 0, "warc export wrote no records")
      tmp.listFiles().foreach(_.deleteOnExit())
      graft.sources.Warc.read(s, tmp.getAbsolutePath + "/part-*.warc.gz")
        .select(col("url"), col("warc_ts").cast("long").as("ts_epoch"),
          col("status"),
          length(col("html")).cast("long").as("n_bytes"),
          md5(col("html")).as("payload_md5"))
        .orderBy(col("url"))
    }),

    // model-based quality filter (the GPT-3/LLaMA linear classifier stage):
    // EXACT-RECOMPUTE oracle of the full featurize -> train -> score
    // recurrence. The integer full-batch perceptron starts at w=0, so epoch
    // 1 misclassifies EVERY doc (y*0 <= 0) and its update is the plain
    // label-weighted feature sum — and the construction (disjoint class
    // markers w1/w2 repeated 3+id%4 times vs +-1-noise filler buckets)
    // makes those epoch-1 weights already separate the classes (marker mass
    // >= 3*sum(m) vs filler noise bounded by class imbalance), so epoch 2
    // finds zero errors and the final weights EQUAL the epoch-1 aggregate.
    // DuckDB replays that aggregate and every margin bit-for-bit (all-Long
    // math, order-independent sums). The injected last-digit bucket fn is
    // collision-free over the planted vocab (q47 pattern; production
    // xxBucket + overlapping-vocab training are covered by
    // QualityClassifierSpec).
    "q70_quality_classifier" -> ((s, dir) => {
      val d = col("doc_id")
      val label = pmod(d, lit(2)) === 0
      val docs = t(s, dir, "documents").select(d,
        label.as("label"),
        concat(
          expr("repeat(concat(CASE WHEN doc_id % 2 = 0 THEN 'w1' ELSE 'w2' END, ' '), " +
            "CAST(3 + doc_id % 4 AS INT))"),
          lit("f"), (pmod(d, lit(6)) + 3)).as("qtext"))
        .localCheckpoint(false) // feeds train (2 scans) + score (1 scan)
      val bucketFn: String => Int = tok => tok.charAt(tok.length - 1) - '0'
      val model = graft.pipeline.QualityClassifier.trainOnText(
        docs, "qtext", col("label"), buckets = 16, bucket = bucketFn)
      require(model.lastErrors == 0L, "planted classes must be separable")
      graft.pipeline.QualityClassifier.score(docs, "doc_id", "qtext", model, bucketFn)
        .orderBy("doc_id")
    }),

    // registrable-domain (eTLD+1) extraction via the full publicsuffix.org
    // algorithm (core/Psl.scala): planted hosts exercise every rule class —
    // default 1-label, exact multi-label (co.uk), wildcard (*.ck),
    // exception (!www.ck), private registries (github.io, blogspot.com,
    // s3.amazonaws.com), IPs and bare labels — and the expected PLD/suffix
    // are closed-form in doc_id, so DuckDB recomputes them without running
    // the matcher. Scale shape: a pure per-row kernel projection (hash-set
    // probes, no regex, no shuffle) — the "same-domain" scope key and the
    // q52 domain-reputation group key at 10^10 rows.
    "q71_registrable_domain" -> ((s, dir) => {
      val d = col("doc_id")
      val m = pmod(d, lit(10))
      val i = pmod(d, lit(40))
      val url = concat(lit("https://"),
        when(m === 0, concat(lit("WWW.Site"), i, lit(".COM")))
          .when(m === 1, concat(lit("news.blog"), i, lit(".co.uk")))
          .when(m === 2, concat(lit("user"), i, lit(".github.io")))
          .when(m === 3, concat(lit("a.b.site"), i, lit(".org")))
          .when(m === 4, concat(lit("x.stuff"), i, lit(".ck")))
          .when(m === 5, lit("sub.www.ck"))
          .when(m === 6, concat(lit("203.0.113."), pmod(d, lit(250))))
          .when(m === 7, lit("localhost"))
          .when(m === 8, concat(lit("shop"), i, lit(".blogspot.com")))
          .otherwise(concat(lit("cdn.bucket"), i, lit(".s3.amazonaws.com"))),
        lit("/p"), pmod(d, lit(7)))
      val hostUdf = udf((u: String) => UrlOps.host(u))
      val pldUdf = udf((h: String) => graft.core.Psl.snapshot.registrable(h))
      val sufUdf = udf((h: String) => graft.core.Psl.snapshot.publicSuffix(h))
      t(s, dir, "documents").select(d, url.as("url"))
        .select(d.as("doc_id"), hostUdf(col("url")).as("host"))
        .select(col("doc_id"), col("host"),
          pldUdf(col("host")).as("pld"), sufUdf(col("host")).as("suffix"))
        .orderBy(col("doc_id"))
    }),

    // PLD-level link graph: collapse a page-level edge list to registrable
    // domains (Psl kernel on both endpoints) and aggregate edge weights —
    // the site-graph a reputation/spam pass actually consumes (page graphs
    // are too granular at 10^10 nodes). Planted endpoints are closed-form
    // in doc_id over 4 PSL rule classes. Scale shape: PLD projection is a
    // pure kernel; the aggregate is ONE groupBy with map-side combine
    // (count + two-phase distinct-host count); page URLs never shuffle.
    "q75_domain_graph" -> ((s, dir) => {
      val d = col("doc_id")
      def hostOf(cls: Column, idx: Column): Column =
        when(cls === 0, concat(lit("www.site"), idx, lit(".com")))
          .when(cls === 1, concat(lit("news.blog"), idx, lit(".co.uk")))
          .when(cls === 2, concat(lit("user"), idx, lit(".github.io")))
          .otherwise(concat(lit("shop"), idx, lit(".blogspot.com")))
      val src = hostOf(pmod(d, lit(4)), pmod(d, lit(40)))
      val dst = hostOf(pmod(d + 1, lit(4)), pmod(d * 7 + 3, lit(40)))
      val pldUdf = udf((h: String) => graft.core.Psl.snapshot.registrable(h))
      t(s, dir, "documents")
        .select(pldUdf(src).as("src_pld"), pldUdf(dst).as("dst_pld"),
          src.as("src_host"))
        .groupBy(col("src_pld"), col("dst_pld"))
        .agg(count(lit(1)).as("links"),
          countDistinct(col("src_host")).as("src_hosts"))
        .orderBy(col("src_pld"), col("dst_pld"))
    }),

    // CCNet-style head/middle/tail split by EXACT global rank over a total
    // order (score, doc_id) — Pack.globalRank's windowless range-partition
    // prefix machinery, never a single-partition window. Planted integer
    // scores make the rank (and therefore the tertile) closed-form enough
    // for DuckDB to replay with a window function (fine at oracle scale;
    // the Spark side is the scale-safe path).
    "q76_rank_buckets" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), pmod(col("doc_id") * 37, lit(101)).as("score"))
      // total rides out of globalRank's own counts pass — no second scan
      graft.pipeline.Pack.globalRank(docs, Seq("score", "doc_id"),
          totalCol = Some("n"))
        .withColumn("bucket", // pure integer comparisons — no float division
          when(col("rank") * 3 < col("n"), "head")
            .when(col("rank") * 3 < col("n") * 2, "middle")
            .otherwise("tail"))
        .select(col("doc_id"), col("score"), col("rank"), col("bucket"))
        .orderBy(col("doc_id"))
    }),

    // URL-quality gate (RefinedWeb-style curation by ADDRESS — and the
    // frontier prune a crawler applies before fetching): blocklist hits,
    // host digit-density, hyphen stuffing, path depth and query fan as one
    // integer score from a zero-shuffle kernel (pipeline/UrlQuality). Six
    // planted URL shapes make every signal CASE arithmetic in doc_id (the
    // only variable piece is the decimal length of doc_id%40, which SQL
    // gets from length(CAST(... AS VARCHAR))).
    "q77_url_quality" -> ((s, dir) => {
      // shapes 6/7 are regression armor for the WORD-level blocklist rule
      // (UrlQuality scaladoc): "essexxx{i}" and "viagra{i}falls"/"porny"
      // embed blocklist words inside longer tokens — the old substring
      // matcher would hard-gate them, the token matcher must NOT.
      val d = col("doc_id")
      val i = pmod(d, lit(40))
      val url = when(pmod(d, lit(8)) === 0,
          concat(lit("https://news.site"), i, lit(".com/articles/politics/story"), i))
        .when(pmod(d, lit(8)) === 1,
          concat(lit("https://win-casino-"), i, lit(".bet/free-spins")))
        .when(pmod(d, lit(8)) === 2,
          concat(lit("https://a1b2c3"), i, lit(".xyz/p?a=1&b=2&c=3")))
        .when(pmod(d, lit(8)) === 3,
          concat(lit("https://shop.site"), i, lit(".com/p/x/y/z/deep/path/item"), i))
        .when(pmod(d, lit(8)) === 4,
          concat(lit("https://xxx-movies"), i, lit(".com/")))
        .when(pmod(d, lit(8)) === 5,
          concat(lit("https://blog.site"), i, lit(".org/post-"), i,
            lit("-title-with-many-hyphens")))
        .when(pmod(d, lit(8)) === 6,
          concat(lit("https://essexxx"), i, lit(".example/essex-history")))
        .otherwise(
          concat(lit("https://viagra"), i, lit("falls.example/guide-porny?x=1&y=2")))
      val scoreUdf = udf((u: String) => graft.pipeline.UrlQuality.score(u))
      t(s, dir, "documents").select(d, url.as("url"))
        .select(d.as("doc_id"), scoreUdf(col("url")).as("s"))
        .select(col("doc_id"),
          col("s.pathDepth").cast("long").as("path_depth"),
          col("s.hostDigits").cast("long").as("host_digits"),
          col("s.hyphens").cast("long").as("hyphens"),
          col("s.queryParams").cast("long").as("params"),
          col("s.badwordHits").cast("long").as("badword_hits"),
          col("s.blocked").as("blocked"),
          col("s.score").as("score"))
        .orderBy(col("doc_id"))
    }),

    // SearXNG JSON SERP parse (F13, previously ScalaTest-only): the REAL
    // json4s parser runs over closed-form payloads (SerpGen scaladoc lists
    // the guards: url-less skip + renumber, category/engine defaults,
    // content→snippet fallback, both resolution spellings, news
    // publishedDate→pubdate + thumbnail mapping) while DuckDB regenerates
    // the expected rows from (doc_id, k) arithmetic.
    "q78_serp_searxng" -> ((s, dir) => {
      val s2 = s
      import s2.implicits._
      val pages = t(s, dir, "documents").select(col("doc_id")).as[Long].map { i =>
        SerpTransforms.SerpPage("searxng", s"query ${i % 7}", (i % 3 + 1).toInt,
          graft.fixtures.SerpGen.closedFormSearxngJson(i))
      }
      serpFullDf(s, pages)
    }),

    // AC-Engine JSON SERP parse (F13's sibling backend): same construction
    // as q78; guards = url-less skip with ordinal renumbering, explicit
    // `position` only on even k, source default, description→snippet
    // fallback, image/news optionals keyed to even doc_id.
    "q79_serp_ac" -> ((s, dir) => {
      val s2 = s
      import s2.implicits._
      val pages = t(s, dir, "documents").select(col("doc_id")).as[Long].map { i =>
        SerpTransforms.SerpPage("ac-engine", s"query ${i % 7}", (i % 3 + 1).toInt,
          graft.fixtures.SerpGen.closedFormAcJson(i))
      }
      serpFullDf(s, pages)
    }),

    // Template URL/query rendering (F14, previously FilterSpec-only): one
    // render per doc with every semantic branch live — path/query/host
    // filters, raw default, missing-variable passthrough, unknown-filter
    // no-match, escaped `\{{`, and the renderText variant with inert
    // filters. Expected strings are pure doc_id concatenations.
    "q80_url_template" -> ((s, dir) => {
      val s2 = s
      import s2.implicits._
      val urlT = "https://api.example.org/{{p|path}}/item?q={{q|query}}&h={{h|host}}" +
        "&r={{r}}&m={{miss}}&u={{q|upper}}&e=\\{{esc}}"
      val textT = "t={{q|query}} h={{h|host}} r={{r}} m={{miss}}"
      t(s, dir, "documents").select(col("doc_id")).as[Long].map { i =>
        val vars = Map(
          "p" -> s"a b/c$i", "q" -> s"x y&$i", "h" -> s"EX-$i.Org!", "r" -> s"v$i")
        (i, graft.core.UrlTemplate.render(urlT, vars),
          graft.core.UrlTemplate.renderText(textT, vars))
      }.toDF("doc_id", "rendered_url", "rendered_text")
        .orderBy(col("doc_id"))
    }),

    // KV-store key scheme (F10, previously KvStoreSpec-only): the
    // base64 (standard alphabet, +/ and padding — Base.ts:443) crawl-data
    // key and the md5-prefix screenshot key (fullPage
    // variant every 4th doc) — DuckDB recomputes both with its own
    // base64/md5 builtins, so the hash/encoding contract is checked against
    // an independent implementation, not replayed.
    "q81_kv_keys" -> ((s, dir) => {
      val crawlKeyUdf = udf((jobId: String, url: String) =>
        graft.engine.KvStore.crawlDataKey(jobId, url))
      val shotKeyUdf = udf((jobId: String, uniqueKey: String, full: Boolean) =>
        graft.engine.KvStore.screenshotKey(jobId, uniqueKey, full))
      val d = col("doc_id")
      t(s, dir, "documents").select(d,
          concat(lit("job"), pmod(d, lit(5))).as("job_id"),
          concat(lit("https://h"), d, lit(".example.org/p/"), d).as("url"),
          (pmod(d, lit(4)) === 0).as("full_page"))
        .select(d.as("doc_id"),
          crawlKeyUdf(col("job_id"), col("url")).as("crawl_key"),
          shotKeyUdf(col("job_id"), col("url"), col("full_page")).as("shot_key"))
        .orderBy(col("doc_id"))
    }),

    // Nofollow link hygiene (C9, previously NofollowSpec-only): the REAL
    // HTML parser + LinkExtractor run over closed-form pages; honoring
    // nofollow drops rel-tagged anchors (case-insensitive, comma or space
    // separated tokens) and empties pages whose meta robots carries
    // nofollow/none, while the default path keeps them all. Fragment and
    // mailto hrefs never count. Expected counts/joins are doc_id CASEs.
    "q82_nofollow_links" -> ((s, dir) => {
      val s2 = s
      import s2.implicits._
      t(s, dir, "documents").select(col("doc_id")).as[Long].map { i =>
        val base = s"https://h$i.example.org/p"
        val meta =
          if (i % 5 == 0) """<meta name="robots" content="nofollow">"""
          else if (i % 5 == 1) """<meta name="ROBOTS" content="none">"""
          else if (i % 7 == 0) """<meta name="robots" content="noindex, follow">"""
          else ""
        val html = s"""<html><head>$meta</head><body>
          |<a href="/a">a</a>
          |<a href="/b" rel="nofollow">b</a>
          |<a href="/c" rel="NoFollow, noopener">c</a>
          |<a href="/d" rel="noopener nofollow">d</a>
          |<a href="/e" rel="noopener">e</a>
          |<a href="#frag">f</a>
          |<a href="mailto:x@y.z">g</a>
          |</body></html>""".stripMargin
        val doc = graft.core.Html.parse(html)
        val all = graft.core.LinkExtractor.extract(doc, base)
        val followed = graft.core.LinkExtractor.extract(doc, base, honorNofollow = true)
        (i, all.length.toLong, followed.length.toLong, followed.mkString(","))
      }.toDF("doc_id", "n_links", "n_followed", "followed")
        .orderBy(col("doc_id"))
    }),

    // Budget-BINDING politeness waves + rank-guided priority under the
    // driver's clock (previously spec-only): one host, one seed fanning
    // out to 150 zero-padded children, hostBudgetPerStep=16 with
    // politenessWaves=4 — so one superstep schedules 64 children and the
    // depth-1 level spans THREE generations (64+64+22) — and
    // priorityOf=(i*37)%100 permuting fetch order away from FIFO (ties on
    // the residue fall back to urlNorm; limit=300 so neither the enqueue
    // room nor the fetch cut binds). The oracle replays the schedule
    // closed-form: rank = row_number over (priority, url), seq = rank+1
    // (wave-major, single host), generation = 1 + rank/64.
    "q83_crawl_priority" -> ((s, dir) => {
      val s2 = s
      import s2.implicits._
      val n = 150
      val seedUrl = "https://h0.example.test/p0"
      val pagesDf = s.range(n + 1L).map { idx =>
        if (idx == 0L)
          (seedUrl, ("<html><body>" +
            (0 until n).map(i => f"""<a href="/c$i%03d">c</a>""").mkString +
            "</body></html>").getBytes("UTF-8"))
        else
          (f"https://h0.example.test/c${idx - 1}%03d",
            "<html><body>leaf</body></html>".getBytes("UTF-8"))
      }.toDF("url", "html")
      val work = freshCrawlWorkDir()
      val eng = new CrawlEngine(s, pagesDf, work, robotsBodies = Map.empty,
        settings = CrawlEngine.Settings())
      eng.run(Seq(CrawlConfig(
        jobId = "rankjob", seeds = Seq(seedUrl), strategy = "all",
        maxDepth = 1, limit = 300, hostBudgetPerStep = 16, politenessWaves = 4,
        priorityOf = Some { u =>
          "/c(\\d+)$".r.findFirstMatchIn(u)
            .map(m => (m.group(1).toInt * 37 % 100).toLong).getOrElse(0L)
        })))
      eng.trace()
    }),

    "q12_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.fingerprintMd5(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    }),

    "q13_token_counts" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.tokenCountWs(col("text")).cast("long").as("ws_tokens"),
          TextAnalysis.tokenCountMatches(col("text")).cast("long").as("bpe_tokens"))
        .orderBy(col("doc_id"))
    }),

    "q14_lang_stats" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"),
          sum(col("n_chars")).as("chars"),
          sum(TextAnalysis.tokenCountWs(col("text")).cast("long")).as("tokens"))
        .orderBy(col("lang"))
    }),

    "q15_quality_scores" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), round(TextAnalysis.qualityScore(col("text")), 4).as("quality"))
        .orderBy(col("doc_id"))
    }),

    "q16_url_normalize" -> ((s, dir) => {
      // crawl-dedup URL normalization (F1) over synthesized URLs whose
      // normalized form is known by construction -> SQL-checkable
      val s2 = s
      import s2.implicits._
      val urls = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("https://Host"), pmod(col("doc_id"), lit(40)), lit(".Example.Test:443/Path"),
          pmod(col("doc_id"), lit(7)), lit("/page?b=2&utm_src=x&a=1#frag")).as("url"))
      val normUdf = udf((u: String) => UrlOps.normalize(u))
      val hostUdf = udf((u: String) => UrlOps.host(u))
      urls.select(col("doc_id"), normUdf(col("url")).as("url_norm"), hostUdf(col("url")).as("host"))
        .orderBy(col("doc_id"))
    }),

    // ---- similarity search over embeddings
    "q17_ann_bruteforce" -> ((s, dir) => {
      val df = t(s, dir, "embeddings")
        .select(col("vec_id"),
          round(Similarity.cosineToQuery(col("embedding"), annQuery), 4).as("score"))
      df.orderBy(col("score").desc, col("vec_id").asc).limit(20)
    }),

    // by-construction oracle (DedupGen.minhashText): kept groups plant
    // identical pair texts — identical signatures, so every band matches
    // (recall exactly 1) and est_jaccard is exactly 1.0; all other docs are
    // shingle-disjoint. The REAL banded xxhash LSH kernel runs; DuckDB
    // regenerates the expected pair set from doc_id arithmetic. Partial-
    // overlap estimate behavior stays covered by PipelineSpec ground truth.
    "q18_minhash_lsh_pairs" -> ((s, dir) => {
      val s2 = s
      import s2.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map(i => (i, graft.fixtures.DedupGen.minhashText(i)))
        .toDF("doc_id", "text")
      Dedup.minhashLshPairs(docs, "text", "doc_id",
          numHashes = 32, bands = 8, shingleSize = 3, threshold = 0.5)
        .select(col("id_a"), col("id_b"), round(col("est_jaccard"), 4).as("est_jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // incremental near-dup: delta batch vs the corpus's persisted banded
    // signature index (Dedup.incrementalNearDup — only the delta is
    // shingled/signed; corpus text is never touched). By-construction
    // oracle (DedupGen.incr*Text): delta members id%5==0 are byte copies of
    // their corpus doc (identical signature -> every band matches, est 1.0),
    // id%5==2 members and all corpus docs have per-id-unique tokens (no
    // shared shingles anywhere else), so the match set is pure doc_id
    // arithmetic.
    "q72_incremental_neardup" -> ((s, dir) => {
      val s2 = s
      import s2.implicits._
      val corpus = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map(i => (i, graft.fixtures.DedupGen.incrCorpusText(i)))
        .toDF("doc_id", "text")
      val index = Dedup.lshBands(
        Dedup.minhashSignatures(corpus, "text", "doc_id", numHashes = 32),
        numHashes = 32, bands = 8)
      val delta = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .filter(i => i % 5 == 0 || i % 5 == 2)
        .map(i => (i + graft.fixtures.DedupGen.incrDeltaBase,
          graft.fixtures.DedupGen.incrDeltaText(i)))
        .toDF("doc_id", "text")
      Dedup.incrementalNearDup(index, delta, "text", "doc_id",
          numHashes = 32, bands = 8, threshold = 0.5)
        .select(col("delta_id"), col("index_id"),
          round(col("est_jaccard"), 4).as("est_jaccard"))
        .orderBy(col("delta_id"), col("index_id"))
    }),

    // BPE ENCODE (the apply half of q67's train): a fixed merge list over
    // planted 4-case texts whose standard lowest-rank-loop segmentation is
    // closed-form — "abc abc" fully merges via (a,b) then (ab,c); "abxy"
    // splits at the unranked (b,x); "cab" keeps the leading c; "zq ab"
    // leaves unranked z q intact. Zero-shuffle kernel scan (see Bpe.encode
    // scaladoc); the cross-rank re-scan path is covered in BpeSpec.
    "q73_bpe_encode" -> ((s, dir) => {
      val s2 = s
      import s2.implicits._
      val merges = Seq(("a", "b"), ("ab", "c"), ("x", "y"))
      val docs = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { i =>
          (i, (i % 4) match {
            case 0 => "abc abc"
            case 1 => "abxy"
            case 2 => "cab"
            case _ => "zq ab"
          })
        }
        .toDF("doc_id", "text")
      graft.pipeline.Bpe.encode(docs, "text", "doc_id", merges)
        .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
          array_join(col("toks"), " ").as("encoded"))
        .orderBy(col("doc_id"))
    }),

    // by-construction oracle (DedupGen.simhashText): identical planted pair
    // texts give hamming 0; everything else is a ~uniform 64-bit fingerprint
    // (P[dist<=3] ~ 2.4e-15/pair). The REAL pigeonhole banding + bit_count
    // verify runs; DuckDB regenerates the pair set from doc_id arithmetic.
    // Distance behavior at 1..maxDist stays covered by PipelineSpec's
    // brute-force ground truth.
    "q19_simhash_pairs" -> ((s, dir) => {
      val s2 = s
      import s2.implicits._
      val withSh = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { i => (i, Dedup.simhash64(graft.fixtures.DedupGen.simhashText(i))) }
        .toDF("doc_id", "simhash")
      Dedup.simhashPairs(withSh, "simhash", "doc_id", maxDist = 3)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // by-construction oracle (DedupGen.jaccardText): candidate pairs come
    // from doc_id arithmetic (LSH candidacy is q18's job; this query proves
    // the exact-Jaccard VERIFY kernel), and each pair's shingle-set overlap
    // is closed-form — tier g%5 shares a p = 50-6*tier token prefix, so
    // exact Jaccard = (p-2)/(98-p): 1.0, 42/54, 36/60, 30/66, 24/72.
    "q20_ngram_jaccard" -> ((s, dir) => {
      val s2 = s
      import s2.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map(i => (i, graft.fixtures.DedupGen.jaccardText(i)))
        .toDF("doc_id", "text")
      val cand = docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
        .join(docs.select(col("doc_id").as("id_b")), Seq("id_b"), "left_semi")
      Dedup.ngramJaccard(docs, cand, "text", "doc_id", n = 3)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    "q21_embedding_neardup" -> ((s, dir) => {
      // embedding-cosine near-dup via hyperplane-LSH buckets; corpus UNION
      // shifted-id copy plants cos=1.0 pairs (identical vectors always share
      // every bucket, so LSH recall on the planted set is exactly 1)
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val doubled = e.unionByName(
        e.select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
      Dedup.embeddingCosinePairs(doubled, "embedding", "vec_id",
          threshold = 0.95, planes = 12)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // by-construction oracle (DedupGen.plantedNeighbors): 20 planted vectors
    // with exact cosine 0.999-0.001*j to the query sit within ~11.5° of it,
    // so their hyperplane signatures stay inside the probe radius (expected
    // flips <= 0.77 of the allowed 4; verified on the fixed seed) while the
    // natural corpus tops out at cosine ~0.40 — the REAL bucket-probed scan
    // returns exactly the planted set, which DuckDB regenerates closed-form.
    // Recall vs the exact scan on natural data stays covered by PipelineSpec.
    "q22_ann_lsh" -> ((s, dir) => {
      val s2 = s
      import s2.implicits._
      val base = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val planted = graft.fixtures.DedupGen.plantedNeighbors(annQuery, 20)
        .toDF("vec_id", "embedding")
      Similarity.lshTopK(base.unionByName(planted), "embedding", "vec_id",
          annQuery, k = 20, planes = 12, probeRadius = 4)
        .select(col("vec_id"), round(col("score"), 4).as("score"))
        .orderBy(col("score").desc, col("vec_id"))
    }),

    // IVF-Flat ANN (the second scale path next to q22's LSH): centroids =
    // every 50th vec_id (a rule DuckDB replays), assignment = codegen'd
    // argmax-over-literal-centroids, probe = 4 nearest lists. The oracle is
    // EXACT (not by-construction): DuckDB recomputes assignment + probes +
    // scores with list_cosine_similarity over the same parquet.
    "q37_ann_ivf" -> ((s, dir) => {
      val base = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      Similarity.ivfTopK(base, "embedding", "vec_id", annQuery,
          k = 20, centEvery = 50, nprobe = 4)
        .select(col("vec_id"), round(col("score"), 4).as("score"))
        .orderBy(col("score").desc, col("vec_id"))
    }),

    "q23_serp_parse" -> ((s, dir) => {
      // by-construction oracle: one SERP page per doc_id, fixture fields
      // closed-form in (doc_id, block k) — DuckDB regenerates the expected
      // rows while the REAL parser runs over the HTML (guards exercised:
      // no-h3 decoy block skipped, every 5th block desc-less and skipped,
      // script noise stripped from kept descriptions). Generation is
      // executor-side off the documents table (no driver corpus).
      val s2 = s
      import s2.implicits._
      val pages = t(s, dir, "documents").select(col("doc_id")).as[Long].map { i =>
        SerpTransforms.SerpPage("google", s"query ${i % 7}", (i % 3 + 1).toInt,
          graft.fixtures.SerpGen.closedFormGoogleHtml(i, 8))
      }
      SerpTransforms.parseAll(s, pages).toDF()
        .select(col("query"), col("page").cast("long").as("page"),
          col("position").cast("long").as("position"), col("category"),
          col("title"), col("url"), col("description"), col("source"))
        .orderBy(col("query"), col("page"), col("position"), col("url"))
    }),

    // oracled by construction (q24OracleSql): at sf0.01 the politeness budget
    // never defers, so the whole BSP fixpoint is a depth-unrolled BFS over
    // the closed-form SiteGen graph that DuckDB recomputes independently;
    // ScalaTest additionally pins trace equality vs SequentialOracle (+ the
    // committed canonical fixture) at configs where politeness DOES defer
    "q24_crawl_bsp" -> ((s, dir) => {
      val pages = math.max(200, (sfOf(dir) * 20000).toInt)
      crawlTrace(s, pages, 8, limit = pages / 2)
    }),

    "q25_multimodal_features" -> ((s, dir) => {
      // by-construction oracle: one media row per documents row; GMB1 sizes
      // and frame counts are closed-form in i (syntheticMedia contract), and
      // every 41st payload is corrupted — so decode counts, byte totals,
      // frame totals and the stride-4 sampling are all SQL-recomputable
      // while the REAL binary parse + feature kernels run on every row
      val s2 = s
      import s2.implicits._
      val n = t(s, dir, "documents").count().toInt
      val feats = Multimodal.extractFeatures(
        Multimodal.syntheticMedia(s, n, corruptEvery = 41), dim = 16)
      Multimodal.sampleFrameIndexes(feats.toDF(), "frames", 4)
        .groupBy(col("modality"))
        .agg(count(lit(1)).as("cnt"),
          sum(when(col("decodeOk"), 1L).otherwise(0L)).as("decoded_cnt"),
          sum(col("bytes")).as("total_bytes"),
          sum(col("frames").cast("long")).as("total_frames"),
          sum(size(col("sampled_frames")).cast("long")).as("total_sampled"))
        .orderBy(col("modality"))
    }),

    "q27_serp_url_plan" -> ((s, dir) => {
      // F11 task-URL builder over a query table, swept across 8 locales
      // exercising the full GoogleData tables (exact region, skip-aware
      // fallback, zh-CN -> HK remap, per-country domains); output known by
      // construction -> SQL-checkable
      val locales: IndexedSeq[(Option[String], Option[String])] = IndexedSeq(
        (None, None), (Some("en"), Some("US")), (Some("de"), Some("DE")),
        (Some("fr"), Some("FR")), (Some("ja"), Some("JP")), (Some("pt"), Some("BR")),
        (Some("zh"), Some("CN")), (Some("ru"), None))
      val build = udf((q: String, page: Int, li: Int) => {
        val (l, c) = locales(li)
        graft.serp.GoogleSerp.buildSearchUrl(graft.serp.GoogleSerp.SearchOptions(
          query = q, page = page, limit = 10, lang = l, country = c))
      })
      t(s, dir, "documents")
        .select(col("doc_id"),
          concat(lit("query "), pmod(col("doc_id"), lit(7))).as("query"),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int").as("page"),
          pmod(col("doc_id"), lit(8)).cast("int").as("locale_id"))
        .withColumn("task_url", build(col("query"), col("page"), col("locale_id")))
        .select(col("doc_id"), col("query"), col("page").cast("long").as("page"),
          col("locale_id").cast("long").as("locale_id"), col("task_url"))
        .orderBy(col("doc_id"))
    }),

    "q28_scrape_enrich" -> ((s, dir) => {
      // J5 enrichment kernel (join side of search->scrape merge) with a
      // by-construction oracle: pages synthesized EXECUTOR-side off the
      // documents table whose extractor outputs have closed-form lengths —
      // markdown = title \n\n h1 \n setext-rule \n\n body (3t+5+body chars),
      // text = upper(h1) \n\n wrap(body) (wrapping swaps spaces for
      // newlines, so it is length-preserving: t+2+body chars)
      val s2 = s
      import s2.implicits._
      val pages = t(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
        val body = ("lorem ipsum " * ((id % 13) + 1).toInt).trim
        (s"https://docs.example.test/d$id.html",
          (s"<html><head><title>Doc $id</title></head><body><h1>Doc $id</h1>" +
            s"<p>$body</p></body></html>").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }.toDF("url", "html")
      graft.api.Graft.enrich(s, pages)
        .select(col("url"), length(col("scraped_title")).cast("long").as("title_len"),
          length(col("scraped_markdown")).cast("long").as("md_len"),
          length(col("scraped_text")).cast("long").as("text_len"))
        .orderBy(col("url"))
    }),

    "q29_robots_filter" -> ((s, dir) => {
      // C3/robots gate over synthesized paths; the fixture disallows
      // /p1.html and /p3* for host1 -> allowed is known by construction
      val rules = graft.core.Robots.parse(
        "User-agent: *\nDisallow: /p1.html\nDisallow: /p3*\n")
      val allowed = udf((u: String) => graft.core.Robots.allowedUrl(rules, "graftbot", u))
      t(s, dir, "documents")
        .select(col("doc_id"),
          concat(lit("https://host1.example.test/p"), pmod(col("doc_id"), lit(10)), lit(".html")).as("url"))
        .withColumn("allowed", allowed(col("url")))
        .select(col("doc_id"), col("url"), col("allowed"))
        .orderBy(col("doc_id"))
    }),

    "q26_langid" -> ((s, dir) => {
      // language-ID agreement matrix with a by-construction oracle: planted
      // marker-saturated texts per language (doc_id % 8 picks the language,
      // plantedText guarantees classification) plus digit-only rows
      // (doc_id % 11 == 0) that classify "und" — the REAL indexOf-scoring
      // detector runs on every row; the matrix is closed-form in doc_id
      val langs8 = TextAnalysis.knownLanguages // de,en,es,fr,ja,pt,ru,zh
      val langArr = array(langs8.map(lit): _*)
      val sentArr = array(langs8.map(l => lit(TextAnalysis.plantedText(l))): _*)
      t(s, dir, "documents")
        .select(
          element_at(langArr, (pmod(col("doc_id"), lit(8)) + 1).cast("int")).as("lang"),
          when(pmod(col("doc_id"), lit(11)) === 0, lit("0123456789 42 7"))
            .otherwise(element_at(sentArr, (pmod(col("doc_id"), lit(8)) + 1).cast("int"))).as("text"))
        .select(col("lang"), TextAnalysis.detectLanguageCol(col("text")).as("pred"))
        .groupBy(col("lang"), col("pred"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("lang"), col("pred"))
    }),

    "q30_extract_metadata" -> ((s, dir) => {
      // the extraction kernel (title/metadata/links) over HTML synthesized
      // from doc_id — every output column is a closed-form function of
      // doc_id, so the DuckDB oracle recomputes it without parsing HTML
      val mk = udf((id: Long) => {
        val metas = (0L until id % 4).map(i =>
          s"""<meta name="k$i" content="v${id % 5}">""").mkString
        val links = (0L until id % 3).map(i =>
          s"""<a href="/l$i.html">l$i</a>""").mkString
        s"<html><head><title>Doc $id</title>$metas</head><body><p>intro</p>$links</body></html>"
      })
      val ext = udf((id: Long, html: String) => {
        val ex = graft.core.Extractor.extract(
          s"https://docs.example.test/d$id.html", html,
          graft.core.Extractor.Formats(html = false, markdown = false, text = false))
        (ex.title, ex.metadata.length.toLong, ex.links.length.toLong,
          ex.metadata.map(_.content).distinct.sorted.mkString(","))
      })
      t(s, dir, "documents")
        .select(col("doc_id"), mk(col("doc_id")).as("html"))
        .select(col("doc_id"), ext(col("doc_id"), col("html")).as("x"))
        .select(col("doc_id"), col("x._1").as("title"), col("x._2").as("meta_cnt"),
          col("x._3").as("link_cnt"), col("x._4").as("meta_contents"))
        .orderBy(col("doc_id"))
    }),

    "q32_text_chunks" -> ((s, dir) => {
      // F16 chunker over line-structured docs whose chunk walk is closed-
      // form: every line is 4 tokens / 22 chars, maxTokens 16 (4 lines),
      // overlap 4 tokens (1 line). The reference's startIndex arithmetic,
      // overlap-gluing and empty-line skipping (TextChunker.ts:20-66) are
      // mirrored bug-for-bug, so chunk boundaries / token counts / lengths
      // are simple functions of doc_id a SQL oracle recomputes.
      val docs = t(s, dir, "documents").select(col("doc_id"),
        repeat(lit("alpha beta gamma delta\n"),
          (pmod(col("doc_id"), lit(10)) * 3 + 5).cast("int")).as("text"))
      graft.pipeline.Chunker.chunkDocs(docs, "doc_id", "text", maxTokens = 16, overlapTokens = 4)
        .toDF()
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          col("start_line").cast("long").as("start_line"),
          col("end_line").cast("long").as("end_line"),
          col("tokens").cast("long").as("tokens"),
          length(col("chunk")).cast("long").as("chunk_len"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    "q33_chunk_merge" -> ((s, dir) => {
      // A7/U3 chunk-result merge with a by-construction oracle: per-chunk
      // JSONs are closed-form in (doc_id, chunk_idx) and exercise every
      // merge rule — falsy overwrite (empty title filled by a later chunk),
      // array concat+first-occurrence dedup, shallow object merge with
      // later-chunk wins, first-truthy-scalar kept, null fields skipped
      val s2 = s
      import s2.implicits._
      val chunkRows = t(s, dir, "documents").select(col("doc_id")).as[Long].flatMap { d =>
        val n = (d % 4 + 2).toInt
        (0 until n).map { i =>
          val title = if (i == 0) "" else s"T$d"
          (d, i, s"""{"title":"$title","lang":"en${d % 3}","tags":["t${(d + i) % 4}"],""" +
            s""""meta":{"a":$i,"b":$d},"skip":null}""")
        }
      }.toDF("doc_id", "chunk_idx", "chunk_json")
      graft.pipeline.ChunkMerge.mergeChunkResults(chunkRows, "doc_id", "chunk_idx", "chunk_json")
        .toDF().select(col("doc_id"), col("merged"))
        .orderBy(col("doc_id"))
    }),

    "q34_llm_extract" -> ((s, dir) => {
      // F15 end-to-end minus the model call (LLMExtract.ts:277-414): schema
      // normalize -> field prompt -> chunk (same closed-form text as q32) ->
      // per-chunk extract via a deterministic generateObject stand-in whose
      // output depends only on the chunk content -> ChunkMerge fold. Chunk
      // content lengths are closed-form (91 / 90 x d / 44 chars), so the
      // merged JSON, chunk count, and the two schema-derived constants are
      // all recomputable by the SQL oracle from hand-traced reference
      // semantics (the normalized-schema and field-prompt literals in the
      // oracle were derived from LLMExtract.ts:20-69/176-205 by hand, so
      // DuckDB checks this code against the spec, not against itself).
      import graft.pipeline.LLMExtract
      val docs = t(s, dir, "documents").select(col("doc_id"),
        repeat(lit("alpha beta gamma delta\n"),
          (pmod(col("doc_id"), lit(10)) * 3 + 5).cast("int")).as("text"))
      val norm = LLMExtract.normalizeSchema(
        org.json4s.jackson.JsonMethods.parse(Q34Schema))
      val normStr = org.json4s.jackson.JsonMethods.compact(
        org.json4s.jackson.JsonMethods.render(norm))
      val fieldPrompt = LLMExtract.createFieldPrompt(norm)
      LLMExtract.extractDocs(docs, "doc_id", "text", Q34Schema,
          maxTokensInput = 16, chunkOverlap = 4, userPrompt = None, chunkExtractor = Q34Extractor)
        .toDF()
        .select(col("doc_id"), col("chunks").cast("long").as("chunks"), col("data"),
          lit(normStr).as("schema_norm"), lit(fieldPrompt).as("field_prompt"))
        .orderBy(col("doc_id"))
    }),

    "q35_proxy_plan" -> ((s, dir) => {
      // C5/C6 egress decisions (Proxy.ts:274-327, HttpClient.ts:59-79):
      // per-request 3-attempt proxy schedule with tier stepping, rule-merge
      // rotation for matched hosts (host3), and the 20s timeout
      // classification over a closed-form synthetic latency. rotation index
      // = seq*3 + attempt-1 (canonical-sequence pinning, see ProxySession
      // scaladoc), so every cell is SQL-recomputable.
      import graft.engine.{ProxySession, ProxyRouter}
      val cfg = ProxySession.TieredConfig(
        tiers = IndexedSeq(IndexedSeq("t0a", "t0b"), IndexedSeq("t1a")),
        rules = Seq(ProxyRouter.ProxyRule(domain = Some("host3.example.com"), proxy = "rule-proxy")))
      val planCol = ProxySession.attemptPlanColumn(s, cfg, retries = 2)
      val base = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("https://host"), pmod(col("doc_id"), lit(5)),
          lit(".example.com/p/"), col("doc_id")).as("url"),
        (pmod(col("doc_id") * 7919, lit(30000))).as("latency_ms"))
      base.select(col("doc_id"), col("latency_ms"),
          explode(planCol(col("url"), col("doc_id"))).as("a"))
        .select(col("doc_id"),
          col("a._1").cast("long").as("attempt"),
          col("a._2").cast("long").as("tier"),
          col("a._3").as("proxy"),
          (col("latency_ms") > lit(ProxySession.HttpTimeoutMsDefault)).as("timed_out"))
        .orderBy(col("doc_id"), col("attempt"))
    }),

    // P10 proxy-rule ROUTING table (Proxy.ts:499-563; q35 covers the
    // rotation timeline, this pins the routing decision itself): ordered
    // rules with url/pattern/domain forms over closed-form URL shapes —
    // exact-url matching is case-SENSITIVE string equality while wildcards
    // are case-insensitive (m=0 vs m=1), `*.ads.test` does NOT match the
    // bare apex (anchored `.*\.` needs the dot, m=4), first matching rule
    // wins (m=0 also matches the late catch-all), unmatched and invalid
    // URLs (no parseable host, m=6) route to NULL = default pool.
    "q84_proxy_router" -> ((s, dir) => {
      import graft.engine.ProxyRouter
      val rules = Seq(
        ProxyRouter.ProxyRule(url = Some("https://one.example.com/landing"), proxy = "p-exact"),
        ProxyRouter.ProxyRule(pattern = Some("https://shop.example.com/p/*"), proxy = "p-pattern"),
        ProxyRouter.ProxyRule(domain = Some("*.ads.test"), proxy = "p-ads"),
        ProxyRouter.ProxyRule(domain = Some("ads.test"), proxy = "p-ads-root"),
        ProxyRouter.ProxyRule(pattern = Some("*example.com/landing*"), proxy = "p-late"))
      val d = col("doc_id")
      val url = when(pmod(d, lit(8)) === 0, lit("https://one.example.com/landing"))
        .when(pmod(d, lit(8)) === 1, lit("https://ONE.example.com/landing"))
        .when(pmod(d, lit(8)) === 2, concat(lit("https://shop.example.com/p/"), d))
        .when(pmod(d, lit(8)) === 3, lit("https://sub.ads.test/banner"))
        .when(pmod(d, lit(8)) === 4, lit("https://ads.test/x"))
        .when(pmod(d, lit(8)) === 5, lit("https://shop.example.com/q"))
        .when(pmod(d, lit(8)) === 6, lit("not a url at all"))
        .otherwise(lit("https://SHOP.example.com/P/9"))
      val route = ProxyRouter.proxyColumn(s, rules)
      t(s, dir, "documents").select(d, url.as("url"))
        .select(d.as("doc_id"), col("url"), route(col("url")).as("proxy"))
        .orderBy(col("doc_id"))
    }),

    // C8 Crawl-delay quota composition (VERDICT r4 #6): budgets probed
    // through the SAME politeKey + crawlDelayIndex path the schedule uses
    // (CrawlEngine.politeBudgetColumn), host mode and politenessByDomain
    // side by side. Fixture robots keyed by HOSTNAME sub{j}.site{k}.test:
    // j<2 on k<=3 declares Crawl-delay 1+((3k+j)%7); j=2 has robots with
    // no delay directive; k=4 has no robots at all. DuckDB independently
    // recomputes min(base=8, max(1, floor(epoch=12 / delay))) and the
    // domain group's max-delay (most-conservative member) with its own
    // arithmetic — no closed-form shortcut.
    "q85_crawl_delay_quota" -> ((s, dir) => {
      import graft.engine.{CrawlConfig, CrawlEngine}
      val robots: Map[String, String] =
        (for (k <- 0 to 3; j <- 0 to 2) yield {
          val body =
            if (j == 2) "User-agent: *\nDisallow: /tmp"
            else s"User-agent: *\nCrawl-delay: ${1 + ((3 * k + j) % 7)}"
          s"sub$j.site$k.test" -> body
        }).toMap
      def cfg(id: String, byDomain: Boolean) = CrawlConfig(id, Seq("https://site0.test/"),
        hostBudgetPerStep = 8, crawlDelayEpochSeconds = 12.0, politenessByDomain = byDomain)
      val bHost = CrawlEngine.politeBudgetColumn(cfg("q85h", byDomain = false), robots)
      val bDom = CrawlEngine.politeBudgetColumn(cfg("q85d", byDomain = true), robots)
      val d = col("doc_id")
      val host = concat(lit("sub"), pmod(d, lit(3)), lit(".site"), pmod(d, lit(5)), lit(".test"))
      t(s, dir, "documents").select(d, host.as("host"))
        .select(d.as("doc_id"), col("host"),
          bHost(col("host")).as("budget_host"),
          bDom(col("host")).as("budget_domain"))
        .orderBy(col("doc_id"))
    }),

    // P3/P4/P7 link-filter matrix (Base.ts:327-353): the REAL
    // compilePattern / matchesAny / isAdUrl kernels — minimatch glob
    // (`**` crosses `/`), a `/re/flags` literal with find() semantics and
    // the i flag, the `**/private/**` exclude, and the ad-domain
    // registrable-domain gate — over closed-form URL shapes. DuckDB
    // recomputes every decision with its own LIKE / regexp engine rather
    // than replaying a truth table.
    "q86_link_filters" -> ((s, dir) => {
      import graft.core.UrlOps
      import graft.engine.CrawlConfig
      val include = Seq("https://site.test/docs/**", "/blog\\/[0-9]+/i")
      val exclude = Seq("**/private/**")
      val incC = include.map(UrlOps.compilePattern)
      val excC = exclude.map(UrlOps.compilePattern)
      val decide = udf { (u: String) =>
        val inc = UrlOps.matchesAny(u, incC, include)
        val exc = UrlOps.matchesAny(u, excC, exclude)
        val ad = CrawlConfig.isAdUrl(u)
        (inc, exc, ad, inc && !exc && !ad)
      }
      val d = col("doc_id")
      val url = when(pmod(d, lit(8)) === 0, concat(lit("https://site.test/docs/a/"), d))
        .when(pmod(d, lit(8)) === 1, lit("https://site.test/docs"))
        .when(pmod(d, lit(8)) === 2, concat(lit("https://site.test/BLOG/"), d))
        .when(pmod(d, lit(8)) === 3, concat(lit("https://site.test/docs/private/"), d))
        .when(pmod(d, lit(8)) === 4, lit("https://ads.doubleclick.net/blog/55"))
        .when(pmod(d, lit(8)) === 5, concat(lit("https://site.test/x/"), d))
        .when(pmod(d, lit(8)) === 6, lit("https://site.test/docs/p?q=private"))
        .otherwise(concat(lit("https://site.test/blog/"), d))
      t(s, dir, "documents").select(d, url.as("url"))
        .select(d.as("doc_id"), col("url"), decide(col("url")).as("f"))
        .select(col("doc_id"), col("url"),
          col("f._1").as("included"), col("f._2").as("excluded"),
          col("f._3").as("ad_blocked"), col("f._4").as("followed"))
        .orderBy(col("doc_id"))
    }),

    // VERDICT r4 #7: the SIGNED daily-delta near-dup form across TWO
    // batches against one persisted index — each batch builds its
    // signedFrames, matches, MATERIALIZES, then releases the frames
    // (the unpersist contract an unbounded daily loop relies on;
    // executor-storage boundedness across cycles is pinned in
    // PipelineSpec). Batch a = doc_id%10 in {0,2} (only 0 matches),
    // batch b = doc_id%10 in {5,7} (only 5 matches) — both reuse the
    // q72 corpus construction, delta ids offset per batch.
    "q87_incremental_signed" -> ((s, dir) => {
      val s2 = s
      import s2.implicits._
      val corpus = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map(i => (i, graft.fixtures.DedupGen.incrCorpusText(i)))
        .toDF("doc_id", "text")
      val index = Dedup.lshBands(
        Dedup.minhashSignatures(corpus, "text", "doc_id", numHashes = 32),
        numHashes = 32, bands = 8)
      val batches = Seq(
        ("a", Set(0L, 2L), graft.fixtures.DedupGen.incrDeltaBase),
        ("b", Set(5L, 7L), 2L * graft.fixtures.DedupGen.incrDeltaBase))
      val outs = batches.map { case (label, mods, base) =>
        val delta = t(s, dir, "documents").select(col("doc_id")).as[Long]
          .filter(i => mods.contains(i % 10))
          .map(i => (i + base, graft.fixtures.DedupGen.incrDeltaText(i)))
          .toDF("doc_id", "text")
        val frames = Dedup.signedFrames(delta, "text", "doc_id", numHashes = 32)
        val res = Dedup.incrementalNearDupSigned(index, frames,
            numHashes = 32, bands = 8, threshold = 0.5)
          .select(lit(label).as("batch"), col("delta_id"), col("index_id"),
            round(col("est_jaccard"), 4).as("est_jaccard"))
          .persist()
        res.count() // materialize this batch BEFORE releasing its frames
        frames.unpersist()
        res
      }
      outs.reduce(_ unionByName _)
        .orderBy(col("batch"), col("delta_id"), col("index_id"))
    }),

    "q36_browser_render" -> ((s, dir) => {
      // S2 browser-layer decision model (EngineConfigurator.ts:150-199,
      // 264-461): ad-block interception (substring semantics over the
      // reference's 13-domain table), nav-budget resolution, and the preNav
      // response-capture rule engine, evaluated over a sub-resource log
      // closed-form in doc_id (BrowserRender.syntheticResources): request i
      // of page d is an ad iff (d+i)%3==0 (ads produce no response, so an
      // ad-colliding capture target is never captured) and page d's API
      // target has an empty body iff d%5==4 — every output cell is
      // SQL-recomputable. The render itself (JS execution) is the
      // documented capability gap; pages carry the rendered DOM.
      import graft.engine.BrowserRender
      val docs = t(s, dir, "documents").select(col("doc_id"))
      BrowserRender.renderPlan(BrowserRender.syntheticResources(s, docs),
          Seq(("api", Seq(("glob", "https://api.example.com/**"))),
              ("asset", Seq(("glob", "https://static.example.com/**")))))
        .toDF()
        .select(col("doc_id"),
          col("total_requests").cast("long").as("total_requests"),
          col("blocked_requests").cast("long").as("blocked_requests"),
          col("nav_timeout_ms").cast("long").as("nav_timeout_ms"),
          col("wait_until"),
          array_join(array_sort(col("captured_keys")), ",").as("captured"))
        .orderBy(col("doc_id"))
    }),

    "q31_credit_cost" -> ((s, dir) => {
      // A4 credit-cost accounting shape (Progress.ts:178-255): per-page cost
      // via a when() chain folded into per-account totals
      val e = t(s, dir, "events")
      val cost = when(col("event_type") === "purchase", lit(5L))
        .when(col("event_type") === "click", lit(2L))
        .otherwise(lit(1L))
      e.groupBy(col("user_id"))
        .agg(sum(cost).as("credits_used"), count(lit(1)).as("pages"))
        .orderBy(col("user_id"))
    })
  )

  /** q34's extraction schema: exercises default-stripping, the nested-array
    * wrap quirk, and object-node additionalProperties enforcement. */
  private val Q34Schema: String =
    """{"title":{"type":"string","default":"none","description":"Page title"},""" +
      """"tags":{"type":"array","items":{"type":"string"}},""" +
      """"author":{"type":"object","properties":{"name":{"type":"string"},"age":{"type":"number","default":0}},"required":["name"]}}"""

  /** q34's deterministic `generateObject` stand-in: output is a pure
    * function of the prompt's content section, so the merged result is
    * closed-form in the chunk-length multiset (91 / 90×d / 44). */
  private val Q34Extractor: (String, org.json4s.JValue) => org.json4s.JValue = (p, _) => {
    import org.json4s._
    val c = p.substring(p.indexOf("\n\nContent:\n") + 11)
    JObject(
      "title" -> (if (c.length == 91) JString("") else JString("T" + c.length)),
      "len" -> JInt(c.length),
      "tags" -> JArray(List(JString("L" + c.length % 7))),
      "meta" -> JObject("last" -> JInt(c.length)),
      "nil" -> JNull)
  }

  /** q47 selection threshold per target doc (shared with the oracle SQL
    * verbatim): scores scale ~linearly with corpus size (weights carry the
    * raw counts), so the gate scales by the target count. 500x sits inside
    * the planted/noise gap at both verify scales — measured bands
    * sf0.01: noise <= 27,080 < 500*167 = 83,500 < target >= 120,381;
    * sf0.1: noise <= 446,559 < 500*1,667 = 833,500 < target >= 1,201,064. */
  private val q47ThresholdPerTarget: Double = 500.0

  /** Synthetic eval-set sentences for q38: 5 sentences x 15 unique tokens
    * that cannot occur in the corpus, so 13-gram hits are closed-form. */
  private val benchSentences: Seq[String] =
    (0 until 5).map(k => (0 until 15).map(j => s"evaltok${k}x$j").mkString(" "))

  /** Deterministic ANN query vector (dim 64, values in [-0.9, 0.9]). */
  private val annQuery: Seq[Double] =
    (0 until 64).map(i => ((i * 37) % 19 - 9) / 10.0)

  private val annQuerySqlList: String =
    annQuery.map(d => f"$d%.1f").mkString("[", ", ", "]")

  private val stopwordsSqlList: String =
    TextAnalysis.stopwords.map(w => s"'$w'").mkString("[", ", ", "]")

  /**
   * By-construction DuckDB oracle for q24: the whole BSP crawl fixpoint,
   * re-derived in SQL as a depth-unrolled BFS over the closed-form SiteGen
   * link graph. Validity argument (each step checkable against the engine):
   *
   *  - At sf0.01 the corpus is 200 pages / 8 hosts (`hostSizes(200, 8)`,
   *    embedded below as a VALUES list built from the same function), and
   *    every per-host BFS level is < 64 rows (binary trees; widest host0
   *    level is 29), so the 64/host/wave politeness budget NEVER defers:
   *    every superstep schedules its whole pending set, generation == depth,
   *    and wave-major order degenerates to canonical (depth, priority,
   *    urlNorm) order.
   *  - Edges are SiteGen.outHrefs + the header nav link, in document order
   *    after LinkExtractor's per-page LinkedHashSet dedup: nav '/p0.html'
   *    (idx 0), children 2j+1 / 2j+2 (if < host size), parent backlink
   *    (j-1)/2 — which collides with nav for j in {1,2}, hence the j >= 3
   *    guard — and a cross-host edge to p0 of host (h + j/3) % 8 for
   *    j % 3 == 0, skipped when it self-targets. All href variants resolve
   *    to the same absolute URL, which normalize() maps to itself.
   *  - robots (respectRobots=true, SiteGen.robotsRows): host1 disallows
   *    /p1.html and the /p3* prefix (p3, p30-p39); candidates are pruned at
   *    expansion, seeds (host0) unaffected.
   *  - Per-generation: candidates = links of the level's pages, priority =
   *    min over discovering parents of (parentSeq*4096 + idx) (in-batch
   *    canonical-min dedup — priority is unique per candidate so min() is
   *    the whole tiebreak), minus already-enqueued URLs (seen anti-join),
   *    then the enqueue cap keeps the canonical-order prefix up to
   *    limit=100 total, and seq continues from the cumulative count.
   *  - All fetches hit (every link targets an existing page), so the trace
   *    is exactly the enqueued set: attempt 0, status 200, terminal.
   *
   * MATERIALIZED pins each level CTE to evaluate once (the seen_d chain
   * references each level twice; inlining would expand 2^12 times). The
   * engine side of this equality is additionally pinned by CrawlEngineSpec's
   * SequentialOracle trace equality and the committed canonical fixture.
   */
  private def q24OracleSql: String = {
    // one BFS body per verify-able scale factor, branch-selected at runtime
    // on the documents row count (500 at sf0.01, 5000 at sf0.1) — the Spark
    // side sizes the crawl as max(200, sf*20000), so the oracle must follow;
    // at both shapes the politeness budget (256/host/wave, 8 waves per
    // superstep) never defers — zero margin at sf0.1, see the entry()
    // comment — which is what makes the fixpoint a plain depth-unrolled
    // BFS. Other SFs are not oracle-covered (the driver verifies at
    // sf0.01). The branch guard is pushed into each chain's SEED so the
    // non-matching scale's 12-level anti-join chain evaluates over empty
    // sets instead of being materialized and discarded.
    val a = q24BfsCtes(pages = 200, suffix = "a",
      guard = "(SELECT count(*) FROM documents) = 500")
    val b = q24BfsCtes(pages = 2000, suffix = "b",
      guard = "(SELECT count(*) FROM documents) = 5000")
    s"""WITH ${a._1},
       |${b._1}
       |${q24Select("a", a._2)}
       |UNION ALL
       |${q24Select("b", b._2)}
       |ORDER BY jobId, seq""".stripMargin
  }

  /** One branch's final projection (see [[q24OracleSql]]). */
  private def q24Select(suffix: String, maxDepth: Int): String =
    s"""SELECT 'flagship' AS jobId, seq,
       |  'https://host' || h || '.example.test/p' || j || '.html' AS url,
       |  'https://host' || h || '.example.test/p' || j || '.html' AS urlNorm,
       |  CAST(depth AS INTEGER) AS depth, CAST(0 AS INTEGER) AS attempt,
       |  CAST(200 AS INTEGER) AS status, TRUE AS success, TRUE AS terminal,
       |  CAST(depth AS INTEGER) AS generation
       |FROM seen$maxDepth$suffix""".stripMargin

  /** The depth-unrolled BFS CTE chain for a `pages`-page 8-host SiteGen
    * corpus, all CTE names suffixed so two shapes can share one WITH clause.
    * `guard` is a scalar boolean predicate selecting whether this branch is
    * live for the table under verification; it gates the SEED row, so a
    * non-matching branch's whole chain is a fold over empty sets (the
    * `max(seq)` subquery is NULL on an empty seen, which nulls the limit
    * predicate and keeps every level empty). Returns (cteSql, maxDepth). */
  private def q24BfsCtes(pages: Int, suffix: String, guard: String): (String, Int) = {
    val limit = pages / 2
    val maxDepth = 12
    val sizes = graft.fixtures.SiteGen.hostSizes(pages, 8)
    val sizeValues = sizes.zipWithIndex.map { case (n, h) => s"($h,$n)" }.mkString(",")
    val sb = new StringBuilder
    sb.append(
      s"""pages$suffix AS (
         |  SELECT s.h AS h, CAST(t.j AS BIGINT) AS j, s.n AS n
         |  FROM (VALUES $sizeValues) s(h,n),
         |       LATERAL (SELECT unnest(range(s.n)) AS j) t
         |),
         |e0$suffix AS (
         |  SELECT h, j, dh, dj, CAST(row_number() OVER (PARTITION BY h, j ORDER BY ord) - 1 AS BIGINT) AS idx
         |  FROM (
         |    SELECT h, j, h AS dh, CAST(0 AS BIGINT) AS dj, 0 AS ord FROM pages$suffix
         |    UNION ALL SELECT h, j, h, 2*j+1, 1 FROM pages$suffix WHERE 2*j+1 < n
         |    UNION ALL SELECT h, j, h, 2*j+2, 2 FROM pages$suffix WHERE 2*j+2 < n
         |    UNION ALL SELECT h, j, h, (j-1)//2, 3 FROM pages$suffix WHERE j >= 3
         |    UNION ALL SELECT h, j, (h + j//3) % ${sizes.length}, 0, 4 FROM pages$suffix
         |      WHERE j % 3 = 0 AND j > 0 AND (h + j//3) % ${sizes.length} <> h
         |  )
         |),
         |edges$suffix AS MATERIALIZED (
         |  SELECT * FROM e0$suffix WHERE NOT (dh = 1 AND (dj IN (1, 3) OR dj BETWEEN 30 AND 39))
         |),
         |lvl0$suffix AS (SELECT 0 AS h, CAST(0 AS BIGINT) AS j, CAST(0 AS BIGINT) AS seq, 0 AS depth WHERE $guard),
         |seen0$suffix AS MATERIALIZED (SELECT * FROM lvl0$suffix)""".stripMargin)
    (1 to maxDepth).foreach { d =>
      val p = d - 1
      sb.append(
        s""",
           |lvl$d$suffix AS MATERIALIZED (
           |  SELECT h, j, (SELECT max(seq) FROM seen$p$suffix) + rn AS seq, $d AS depth
           |  FROM (
           |    SELECT h, j, row_number() OVER (ORDER BY prio) AS rn
           |    FROM (
           |      SELECT e.dh AS h, e.dj AS j, min(l.seq * 4096 + e.idx) AS prio
           |      FROM lvl$p$suffix l JOIN edges$suffix e ON e.h = l.h AND e.j = l.j
           |      WHERE NOT EXISTS (SELECT 1 FROM seen$p$suffix s WHERE s.h = e.dh AND s.j = e.dj)
           |      GROUP BY e.dh, e.dj
           |    )
           |  )
           |  WHERE (SELECT max(seq) FROM seen$p$suffix) + rn <= ${limit - 1}
           |),
           |seen$d$suffix AS MATERIALIZED (SELECT * FROM seen$p$suffix UNION ALL SELECT * FROM lvl$d$suffix)""".stripMargin)
    }
    (sb.toString, maxDepth)
  }

  /** The q44/q74 link graph: REAL extraction (parse + a[href] resolve +
    * normalize) over every SiteGen page, mapped to host*100000+page node
    * ids. DuckDB re-derives the identical edge set closed-form from the
    * generator's link rule. */
  private def siteGenEdges(s: SparkSession, dir: String): DataFrame = {
    val s2 = s
    import s2.implicits._
    val pages = math.max(200, (sfOf(dir) * 20000).toInt)
    val sizes = graft.fixtures.SiteGen.hostSizes(pages, 8)
    val total = sizes.map(_.toLong).sum
    val idRe = """https://host(\d+)\.example\.test/p(\d+)\.html""".r
    s.range(total).mapPartitions { it =>
      val formats = graft.core.Extractor.Formats(
        html = false, markdown = false, text = false, links = true)
      it.flatMap { idx =>
        val (h, p) = graft.fixtures.SiteGen.hostPage(sizes, idx)
        val url = graft.fixtures.SiteGen.pageUrl(h, p)
        val html = graft.fixtures.SiteGen.pageHtml(42L, h, p, sizes)
        val src = h.toLong * 100000L + p
        graft.core.Extractor.extract(url, html, formats).links.flatMap { l =>
          UrlOps.normalize(l) match {
            case idRe(dh, dj) => Some((src, dh.toLong * 100000L + dj.toLong))
            case _            => None
          }
        }
      }
    }.toDF("src", "dst")
  }

  /** Single source of truth for q74's iteration count. */
  private val q74Iters = 5

  /** Single source of truth for q44's iteration count — the Spark query,
    * the CTE unrolling, and the final `FROM r<k>` selection all read it. */
  private val q44Iters = 10

  /** q44's oracle: the SiteGen link graph re-derived closed-form (the same
    * edge rule q24's green oracle pins the extractor to, WITHOUT the robots
    * exclusion — PageRank runs over the raw link graph) and the exact
    * integer PageRank recurrence of [[graft.pipeline.Graph.pageRankFixedPoint]]
    * unrolled [[q44Iters]] times. All arithmetic is BIGINT with `//`
    * mirroring Spark's `div`, so the ranks are bit-equal, not approximately
    * equal. Branch-selected per scale factor via a seed guard like
    * [[q24BfsCtes]]. */
  /** The q67 closed-form corpus: 12 sentences keyed by `doc_id % 12` —
    * 16 distinct words whose merge forest supports the full 64-merge
    * budget at every sf (verified by closed-form simulation: 64 merges in
    * 12 batched rounds at 50/500/5000 docs). Shared by the Spark query and
    * the DuckDB oracle builder. */
  private val q67Sentences: Seq[String] = Seq(
    "hugging puddle jungle grumble",
    "bundle sparkle twinkle hugging",
    "puddle muddle fizzle sparkle",
    "jungle bundle crumble fizzle",
    "grumble crumble twinkle muddle",
    "hugging sparkle puddle bundle",
    "whistle thimble jungle fizzle",
    "whistle grumble thimble muddle",
    "quartz oxygen vortex zephyr",
    "magnetic crystal dolphin pyramid",
    "quartz crystal zephyr dolphin",
    "oxygen pyramid vortex magnetic")

  /** q67's oracle: the BATCHED BPE merge loop replayed in SQL as chained
    * CTEs, one block per round.
    *
    * Symbol sequences are encoded as padded strings — single space at each
    * boundary, DOUBLE space between symbols — so DuckDB's plain `replace`
    * (leftmost, non-overlapping, resuming AFTER the replacement) applies a
    * merge with exactly the greedy left-to-right semantics of
    * [[graft.pipeline.Bpe.applyMerge]]: the match ` l  r ` consumes one
    * space from each neighboring separator and the replacement ` lr `
    * restores it, so consecutive disjoint pairs all merge in one pass while
    * overlapping ones don't (` a  a  a ` -> ` aa  a `, verified in DuckDB).
    *
    * Round k replays the engine's batched acceptance bit-for-bit:
    * `cand k` ranks pair counts by (count DESC, left, right) over the same
    * minPairCount >= 2 gate; `acc k` applies the local-maxima rule (accept
    * p iff no higher-ranked candidate shares a symbol or collides by
    * concatenation — either merged string equal to a symbol of the other)
    * inside the same top-4096 window via a NOT-EXISTS self-join; `fin k` caps the batch at
    * batchK = 8 and at the remaining 64-merge budget (`tot k` is the
    * running learned count); `w k` applies the accepted merges in rank
    * order as a fixed chain of 8 replaces, each slot an identity replace
    * of a chr(1) sentinel when empty. Rounds are unrolled 24 deep — the
    * corpus needs 12 at every sf (see [[q67Sentences]]); extra rounds are
    * dry and contribute zero rows, which also pins the early-stop path. */
  private def q67BpeSql: String = {
    val rounds = 24
    val batchK = 8
    val mergeBudget = 64
    val sentCase = q67Sentences.zipWithIndex
      .map { case (s, i) => s"      WHEN $i THEN '$s'" }
      .mkString("\n")
    val sb = new StringBuilder
    sb.append(
      s"""WITH w0 AS MATERIALIZED (
        |  SELECT CAST(count(*) AS BIGINT) AS cnt,
        |    ' ' || array_to_string(
        |      list_transform(range(1, length(w) + 1), i -> w[i:i]), '  ') || ' ' AS s
        |  FROM (
        |    SELECT unnest(string_split(CASE CAST(doc_id % 12 AS INT)
        |$sentCase
        |      END, ' ')) AS w
        |    FROM documents)
        |  GROUP BY w
        |),
        |tot0 AS MATERIALIZED (SELECT 0 AS n)""".stripMargin)
    for (k <- 1 to rounds) {
      val replaceChain = (1 to batchK).foldLeft("w.s") { (prev, i) =>
        s"""replace($prev,
           |      coalesce((SELECT ' ' || l || '  ' || r || ' ' FROM fin$k WHERE arank = $i), chr(1)),
           |      coalesce((SELECT ' ' || l || r || ' ' FROM fin$k WHERE arank = $i), ''))""".stripMargin
      }
      sb.append(s""",
        |cand$k AS MATERIALIZED (
        |  SELECT l, r, c, row_number() OVER (ORDER BY c DESC, l, r) AS rk
        |  FROM (
        |    SELECT z[1] AS l, z[2] AS r, CAST(sum(cnt) AS BIGINT) AS c
        |    FROM (
        |      SELECT cnt, unnest(list_zip(toks, toks[2:])) AS z
        |      FROM (SELECT cnt, string_split(trim(s, ' '), '  ') AS toks FROM w${k - 1}))
        |    WHERE z[2] IS NOT NULL
        |    GROUP BY z[1], z[2] HAVING CAST(sum(cnt) AS BIGINT) >= 2)
        |),
        |acc$k AS MATERIALIZED (
        |  SELECT l, r, c, row_number() OVER (ORDER BY rk) AS arank
        |  FROM cand$k p
        |  WHERE p.rk <= 4096 AND NOT EXISTS (
        |    SELECT 1 FROM cand$k q
        |    WHERE q.rk < p.rk AND q.rk <= 4096
        |      AND (q.l = p.l OR q.l = p.r OR q.r = p.l OR q.r = p.r
        |        OR (q.l || q.r) = p.l OR (q.l || q.r) = p.r
        |        OR (p.l || p.r) = q.l OR (p.l || p.r) = q.r))
        |),
        |fin$k AS MATERIALIZED (
        |  SELECT l, r, c, arank,
        |    (SELECT n FROM tot${k - 1}) + arank AS merge_rank
        |  FROM acc$k
        |  WHERE arank <= $batchK
        |    AND (SELECT n FROM tot${k - 1}) + arank <= $mergeBudget
        |),
        |tot$k AS MATERIALIZED (SELECT (SELECT n FROM tot${k - 1}) + (SELECT count(*) FROM fin$k) AS n),
        |w$k AS MATERIALIZED (
        |  SELECT w.cnt,
        |    $replaceChain AS s
        |  FROM w${k - 1} w
        |)""".stripMargin)
    }
    sb.append("\n")
    sb.append((1 to rounds).map { k =>
      s"SELECT CAST(merge_rank AS INT) AS merge_rank, l AS \"left\", r AS \"right\", c AS pair_count FROM fin$k"
    }.mkString("", "\nUNION ALL\n", "\nORDER BY merge_rank"))
    sb.toString
  }

  private def q44PrSql: String = {
    val a = q44PrCtes(pages = 200, suffix = "pa",
      guard = "(SELECT count(*) FROM documents) = 500")
    val b = q44PrCtes(pages = 2000, suffix = "pb",
      guard = "(SELECT count(*) FROM documents) = 5000")
    val sel = (s: String) =>
      s"""SELECT CAST(id // 100000 AS INTEGER) AS host, id % 100000 AS page,
         |  r AS rank_fp FROM r$q44Iters$s""".stripMargin
    s"""WITH ${a},
       |${b}
       |${sel("pa")}
       |UNION ALL
       |${sel("pb")}
       |ORDER BY rank_fp DESC, host, page""".stripMargin
  }

  /** q74's oracle rounds: the integer HITS recurrence (see
    * Graph.hitsFixedPoint scaladoc) unrolled over the shared graph CTEs —
    * sum-normalizers are scalar subqueries, all division `//`. */
  private def q74HitsCtes(pages: Int, suffix: String, guard: String): String = {
    val scale = 1000000000000L
    val sb = new StringBuilder
    sb.append(siteGraphCtes(pages, suffix, guard))
    sb.append(
      s""",
         |h0$suffix AS (SELECT id,
         |  CAST($scale // (SELECT count(*) FROM nodes$suffix) AS BIGINT) AS h
         |  FROM nodes$suffix)""".stripMargin)
    (1 to q74Iters).foreach { k =>
      val p = k - 1
      sb.append(
        s""",
           |araw$k$suffix AS MATERIALIZED (
           |  SELECT nd.id, CAST(COALESCE(x.s, 0) AS BIGINT) AS raw
           |  FROM nodes$suffix nd LEFT JOIN (
           |    SELECT e.dst AS id, CAST(SUM(h.h) AS BIGINT) AS s
           |    FROM edges$suffix e JOIN h$p$suffix h ON h.id = e.src
           |    GROUP BY e.dst) x ON x.id = nd.id
           |),
           |a$k$suffix AS MATERIALIZED (
           |  SELECT id, CAST(raw // greatest(
           |    CAST((SELECT SUM(raw) FROM araw$k$suffix) AS BIGINT) // $scale, 1)
           |    AS BIGINT) AS a
           |  FROM araw$k$suffix
           |),
           |hraw$k$suffix AS MATERIALIZED (
           |  SELECT nd.id, CAST(COALESCE(x.s, 0) AS BIGINT) AS raw
           |  FROM nodes$suffix nd LEFT JOIN (
           |    SELECT e.src AS id, CAST(SUM(a.a) AS BIGINT) AS s
           |    FROM edges$suffix e JOIN a$k$suffix a ON a.id = e.dst
           |    GROUP BY e.src) x ON x.id = nd.id
           |),
           |h$k$suffix AS MATERIALIZED (
           |  SELECT id, CAST(raw // greatest(
           |    CAST((SELECT SUM(raw) FROM hraw$k$suffix) AS BIGINT) // $scale, 1)
           |    AS BIGINT) AS h
           |  FROM hraw$k$suffix
           |)""".stripMargin)
    }
    sb.toString
  }

  private def q74HitsSql: String = {
    val a = q74HitsCtes(pages = 200, suffix = "ha",
      guard = "(SELECT count(*) FROM documents) = 500")
    val b = q74HitsCtes(pages = 2000, suffix = "hb",
      guard = "(SELECT count(*) FROM documents) = 5000")
    val sel = (s: String) =>
      s"""SELECT CAST(a.id // 100000 AS INTEGER) AS host, a.id % 100000 AS page,
         |  a.a AS auth_fp, h.h AS hub_fp
         |FROM a$q74Iters$s a JOIN h$q74Iters$s h ON h.id = a.id""".stripMargin
    s"""WITH ${a},
       |${b}
       |${sel("ha")}
       |UNION ALL
       |${sel("hb")}
       |ORDER BY auth_fp DESC, host, page""".stripMargin
  }

  /** Shared closed-form SiteGen graph prefix (pages/edges/nodes CTEs) for
    * the q44/q74 oracles — one suffix per scale variant, guarded by the
    * documents row count so one SQL text adapts to the verify sf. */
  private def siteGraphCtes(pages: Int, suffix: String, guard: String): String = {
    val sizes = graft.fixtures.SiteGen.hostSizes(pages, 8)
    val sizeValues = sizes.zipWithIndex.map { case (n, h) => s"($h,$n)" }.mkString(",")
    s"""pages$suffix AS (
       |  SELECT s.h AS h, CAST(t.j AS BIGINT) AS j, s.n AS n
       |  FROM (VALUES $sizeValues) s(h,n),
       |       LATERAL (SELECT unnest(range(s.n)) AS j) t
       |  WHERE $guard
       |),
       |edges$suffix AS MATERIALIZED (
       |  SELECT DISTINCT h*100000 + j AS src, dh*100000 + dj AS dst FROM (
       |    SELECT h, j, h AS dh, CAST(0 AS BIGINT) AS dj FROM pages$suffix
       |    UNION ALL SELECT h, j, h, 2*j+1 FROM pages$suffix WHERE 2*j+1 < n
       |    UNION ALL SELECT h, j, h, 2*j+2 FROM pages$suffix WHERE 2*j+2 < n
       |    UNION ALL SELECT h, j, h, (j-1)//2 FROM pages$suffix WHERE j >= 3
       |    UNION ALL SELECT h, j, (h + j//3) % ${sizes.length}, CAST(0 AS BIGINT)
       |      FROM pages$suffix WHERE j % 3 = 0 AND j > 0 AND (h + j//3) % ${sizes.length} <> h
       |  )
       |),
       |nodes$suffix AS MATERIALIZED (
       |  SELECT DISTINCT id FROM (
       |    SELECT src AS id FROM edges$suffix
       |    UNION ALL SELECT dst FROM edges$suffix)
       |)""".stripMargin
  }

  private def q44PrCtes(pages: Int, suffix: String, guard: String): String = {
    val iters = q44Iters
    val n = pages.toLong
    val scale = 1000000000000L
    val init = scale / n
    val base = scale / n * 15L / 100L
    val sb = new StringBuilder
    sb.append(siteGraphCtes(pages, suffix, guard))
    sb.append(
      s""",
         |deg$suffix AS MATERIALIZED (
         |  SELECT src, count(*) AS deg FROM edges$suffix GROUP BY src
         |),
         |r0$suffix AS (SELECT id, CAST($init AS BIGINT) AS r FROM nodes$suffix)""".stripMargin)
    (1 to iters).foreach { k =>
      val p = k - 1
      sb.append(
        s""",
           |r$k$suffix AS MATERIALIZED (
           |  SELECT nd.id,
           |    CAST($base + (COALESCE(s.s, 0) * 85) // 100 AS BIGINT) AS r
           |  FROM nodes$suffix nd LEFT JOIN (
           |    SELECT e.dst AS id, CAST(SUM(r.r // d.deg) AS BIGINT) AS s
           |    FROM edges$suffix e
           |    JOIN r$p$suffix r ON r.id = e.src
           |    JOIN deg$suffix d ON d.src = e.src
           |    GROUP BY e.dst
           |  ) s ON s.id = nd.id
           |)""".stripMargin)
    }
    sb.toString
  }

  // --------------------------------------------------------------- oracles
  def oracleSql: Map[String, String] = Map(
    "q24_crawl_bsp" -> q24OracleSql,
    "q44_link_pagerank" -> q44PrSql,
    "q74_link_hits" -> q74HitsSql,

    // connected components resolved the orthodox SQL way (recursive-CTE
    // transitive closure to the min reachable id) over the SAME closed-form
    // edge set the Spark side builds: md5-group adjacency chains of the
    // doubled corpus + the mod-37 chain edges. Exact on these components;
    // the Spark side (alternating-star CC) never materializes a closure.
    "q43_dup_clusters" ->
      """WITH RECURSIVE docs2 AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 100000, text FROM documents
        |), dup_edges AS (
        |  SELECT a, b FROM (
        |    SELECT lag(doc_id) OVER (PARTITION BY md5(lower(text))
        |                             ORDER BY doc_id) AS a,
        |           doc_id AS b
        |    FROM docs2) x
        |  WHERE a IS NOT NULL
        |), chain_edges AS (
        |  SELECT d.doc_id - 37 AS a, d.doc_id AS b
        |  FROM docs2 d
        |  WHERE d.doc_id % 37 = 0
        |    AND EXISTS (SELECT 1 FROM docs2 x WHERE x.doc_id = d.doc_id - 37)
        |), undirected AS (
        |  SELECT u, v FROM (
        |    SELECT a AS u, b AS v FROM dup_edges
        |    UNION SELECT a, b FROM chain_edges
        |    UNION SELECT b, a FROM dup_edges
        |    UNION SELECT b, a FROM chain_edges)
        |  WHERE u <> v
        |), reach AS (
        |  SELECT u AS id, v AS m FROM undirected
        |  UNION
        |  SELECT r.id, un.v FROM reach r JOIN undirected un ON un.u = r.m
        |), comp AS (
        |  SELECT id, min(m) AS mn FROM reach GROUP BY id
        |)
        |SELECT d.doc_id,
        |  CAST(COALESCE(LEAST(c.mn, d.doc_id), d.doc_id) AS BIGINT) AS cluster,
        |  COALESCE(LEAST(c.mn, d.doc_id), d.doc_id) = d.doc_id AS keep
        |FROM docs2 d LEFT JOIN comp c ON c.id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // closed-form stage attribution of the planted 5-doc groups (see the
    // query comment): member 1 is a byte-exact dup of the leader, members
    // 2-4 are near-dups clustered by minhash+CC, leaders are kept; all
    // content gates are configured open so no other stage can fire
    "q45_curate_neardup" ->
      """SELECT doc_id, 'all' AS stratum,
        |  CASE WHEN doc_id % 5 = 1 THEN 'dup'
        |       WHEN doc_id % 5 = 0 THEN 'kept'
        |       ELSE 'neardup' END AS stage
        |FROM documents ORDER BY doc_id""".stripMargin,

    // full replay of the one-Lloyd-round SemDedup recurrence (see the q46
    // query comment): planted integer-component embeddings make the
    // centroid means exact, so assignment/typicality/pairwise decisions
    // recompute bit-for-bit; ties in the argmax CASE chains resolve to the
    // lowest cluster index, same as the Spark kernel. ASSUMES all four
    // doc_id % 4 residue classes are populated (true for every sf dir —
    // contiguous ids): an absent class would empty the a2 cross join,
    // where the kernel would keep the seed centroid instead.
    "q46_semdedup" ->
      """WITH emb AS (
        |  SELECT doc_id, [
        |    CASE WHEN doc_id % 4 = 0 THEN 100.0 ELSE 0.0 END,
        |    CASE WHEN doc_id % 4 = 0
        |         THEN CAST(10 * ((doc_id // 4) % 7) AS DOUBLE) ELSE 0.0 END,
        |    CASE WHEN doc_id % 4 = 1 THEN 100.0 ELSE 0.0 END,
        |    CASE WHEN doc_id % 4 = 1
        |         THEN CAST(10 * ((doc_id // 4) % 7) AS DOUBLE) ELSE 0.0 END,
        |    CASE WHEN doc_id % 4 = 2 THEN 100.0 ELSE 0.0 END,
        |    CASE WHEN doc_id % 4 = 2
        |         THEN CAST(10 * ((doc_id // 4) % 7) AS DOUBLE) ELSE 0.0 END,
        |    CASE WHEN doc_id % 4 = 3 THEN 100.0 ELSE 0.0 END,
        |    CASE WHEN doc_id % 4 = 3
        |         THEN CAST(10 * ((doc_id // 4) % 7) AS DOUBLE) ELSE 0.0 END,
        |    CAST((doc_id // 28) % 3 AS DOUBLE)
        |  ] AS v
        |  FROM documents
        |), a1 AS (
        |  SELECT doc_id, v,
        |    CASE WHEN s0 >= s1 AND s0 >= s2 AND s0 >= s3 THEN 0
        |         WHEN s1 >= s2 AND s1 >= s3 THEN 1
        |         WHEN s2 >= s3 THEN 2 ELSE 3 END AS c
        |  FROM (
        |    SELECT doc_id, v,
        |      list_cosine_similarity(v, [1.0,0,0,0,0,0,0,0,0]) AS s0,
        |      list_cosine_similarity(v, [0,0,1.0,0,0,0,0,0,0]) AS s1,
        |      list_cosine_similarity(v, [0,0,0,0,1.0,0,0,0,0]) AS s2,
        |      list_cosine_similarity(v, [0,0,0,0,0,0,1.0,0,0]) AS s3
        |    FROM emb) s
        |), cent AS (
        |  SELECT c, list(m ORDER BY pos) AS cv FROM (
        |    SELECT a1.c, p.pos, avg(v[p.pos]) AS m
        |    FROM a1, (SELECT unnest(range(1, 10)) AS pos) p
        |    GROUP BY a1.c, p.pos) g
        |  GROUP BY c
        |), a2 AS (
        |  SELECT doc_id, v,
        |    CASE WHEN s0 >= s1 AND s0 >= s2 AND s0 >= s3 THEN 0
        |         WHEN s1 >= s2 AND s1 >= s3 THEN 1
        |         WHEN s2 >= s3 THEN 2 ELSE 3 END AS c
        |  FROM (
        |    SELECT e.doc_id, e.v,
        |      list_cosine_similarity(e.v, c0.cv) AS s0,
        |      list_cosine_similarity(e.v, c1.cv) AS s1,
        |      list_cosine_similarity(e.v, c2.cv) AS s2,
        |      list_cosine_similarity(e.v, c3.cv) AS s3
        |    FROM a1 e,
        |      (SELECT cv FROM cent WHERE c = 0) c0,
        |      (SELECT cv FROM cent WHERE c = 1) c1,
        |      (SELECT cv FROM cent WHERE c = 2) c2,
        |      (SELECT cv FROM cent WHERE c = 3) c3) s
        |), dropped AS (
        |  SELECT DISTINCT b.doc_id
        |  FROM a2 a JOIN a2 b ON a.c = b.c AND a.doc_id < b.doc_id
        |  WHERE list_cosine_similarity(a.v, b.v) >= 0.999
        |)
        |SELECT a.doc_id, a.c AS cluster,
        |  round(list_cosine_similarity(a.v, ct.cv), 4) AS typicality,
        |  (d.doc_id IS NULL) AS keep
        |FROM a2 a
        |JOIN cent ct ON ct.c = a.c
        |LEFT JOIN dropped d ON d.doc_id = a.doc_id
        |ORDER BY a.doc_id""".stripMargin,

    // exact replay of the DSIR featurize -> learn -> score recurrence (see
    // the q47 query comment): the injected bucket arithmetic and the
    // integer 3*ct - cr transform keep every intermediate an exact-integer
    // double, so sums are order-independent and bit-equal. Buckets absent
    // from the raw counts carry weight 0 on the Spark side and simply
    // never join here — identical scores either way.
    "q47_dsir_select" ->
      s"""WITH planted AS (
         |  SELECT doc_id, CASE WHEN doc_id % 3 = 0
         |    THEN text || repeat(' dsira dsirb', 10) ELSE text END AS t
         |  FROM documents
         |), wrds AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(t, '\\s+'), x -> len(x) > 0) AS ws
         |  FROM planted
         |), bg AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(1, len(ws)), i ->
         |      (length(ws[i]) * 31 + length(ws[i + 1]) * 17
         |       + ascii(substr(ws[i], 1, 1)) * 7
         |       + ascii(substr(ws[i + 1], 1, 1))) % 64)) AS b
         |  FROM wrds
         |), ct AS (
         |  SELECT b, count(*) AS c FROM bg WHERE doc_id % 3 = 0 GROUP BY b
         |), cr AS (
         |  SELECT b, count(*) AS c FROM bg GROUP BY b
         |), w AS (
         |  SELECT cr.b,
         |    CAST(3 * coalesce(ct.c, 0) - cr.c AS DOUBLE) AS wt
         |  FROM cr LEFT JOIN ct ON ct.b = cr.b
         |), sc AS (
         |  SELECT g.doc_id, CAST(sum(w.wt) AS DOUBLE) AS score
         |  FROM bg g JOIN w ON w.b = g.b GROUP BY g.doc_id
         |), thr AS (
         |  SELECT ${q47ThresholdPerTarget} * count(*) AS v
         |  FROM documents WHERE doc_id % 3 = 0
         |)
         |SELECT p.doc_id, coalesce(s.score, 0.0) AS score,
         |  coalesce(s.score, 0.0) >= thr.v AS keep
         |FROM planted p
         |LEFT JOIN sc s ON s.doc_id = p.doc_id
         |CROSS JOIN thr
         |ORDER BY p.doc_id""".stripMargin,

    // closed-form regeneration of both q48 snapshots plus the identical
    // full-outer-join + interval policy (see the q48 query comment):
    // float division (iv / 2) mirrors Spark's Divide (always double) and
    // stays exact on these power-of-two-scaled interval values
    "q48_recrawl_delta" ->
      """WITH prev AS (
        |  SELECT 'https://host' || (doc_id % 40) || '.example.test/p' || doc_id AS url,
        |    md5('h' || doc_id) AS h,
        |    doc_id + 1000000 AS pts,
        |    7200 * (doc_id % 4 + 1) AS iv
        |  FROM documents
        |), curr AS (
        |  SELECT 'https://host' || (doc_id % 40) || '.example.test/p' || doc_id AS url,
        |    CASE WHEN doc_id % 5 = 1 THEN md5('x' || doc_id)
        |         ELSE md5('h' || doc_id) END AS h,
        |    doc_id + 2000000 AS cts
        |  FROM documents WHERE doc_id % 7 <> 3
        |  UNION ALL
        |  SELECT 'https://host' || ((doc_id + 100000) % 40)
        |      || '.example.test/p' || (doc_id + 100000),
        |    md5('h' || (doc_id + 100000)),
        |    doc_id + 2100000
        |  FROM documents WHERE doc_id % 6 = 0
        |)
        |SELECT coalesce(p.url, c.url) AS url,
        |  CASE WHEN p.url IS NULL THEN 'new'
        |       WHEN c.url IS NULL THEN 'gone'
        |       WHEN p.h = c.h THEN 'unchanged'
        |       ELSE 'changed' END AS status,
        |  p.pts AS prev_ts, c.cts AS curr_ts,
        |  CAST(CASE WHEN p.url IS NULL THEN 86400
        |       WHEN c.url IS NULL THEN p.iv
        |       WHEN p.h = c.h THEN least(p.iv * 2, 2592000)
        |       ELSE greatest(p.iv / 2, 3600) END AS BIGINT) AS next_interval_secs
        |FROM prev p FULL OUTER JOIN curr c ON p.url = c.url
        |ORDER BY url""".stripMargin,

    // closed-form cluster structure of the q49 planted copies: doc_ids are
    // the media ids (contiguous from 0, the repo-wide fixture contract),
    // modality cycles i % 3, and exactly the id % 4 == 1 rows carry a
    // byte-identical +100000 twin — so sizes and keepers need no hash math
    "q49_media_dedup" ->
      """WITH base AS (
        |  SELECT doc_id AS media_id,
        |    CASE (doc_id % 3) WHEN 0 THEN 'image'
        |         WHEN 1 THEN 'audio' ELSE 'video' END AS modality
        |  FROM documents
        |), all_media AS (
        |  SELECT media_id, modality FROM base
        |  UNION ALL
        |  SELECT media_id + 100000, modality FROM base WHERE media_id % 4 = 1
        |)
        |SELECT media_id, modality,
        |  CAST(CASE WHEN (media_id % 100000) % 4 = 1 THEN 2 ELSE 1 END
        |       AS BIGINT) AS cluster_size,
        |  (media_id < 100000) AS keep
        |FROM all_media
        |ORDER BY media_id""".stripMargin,

    // the orthodox SQL recompute of q50's prefix sum (ordered window) vs
    // the Spark side's two-phase partition-offset implementation — exact
    // integer arithmetic throughout
    "q50_pack_shards" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'),
        |                         x -> len(x) > 0)) AS BIGINT) AS tokens
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, tokens,
        |    CAST(COALESCE(SUM(tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS offset_tokens
        |  FROM tok
        |)
        |SELECT doc_id, tokens, offset_tokens,
        |  CAST(offset_tokens // 4096 AS BIGINT) AS shard
        |FROM c ORDER BY doc_id""".stripMargin,
    // replay of q51's by-construction corpus: regenerate the 6-line docs
    // closed-form in doc_id, then split + count trimmed non-empty lines +
    // drop those at/above the count-scaled threshold + ordered reassembly.
    // SQL matches lines by trimmed TEXT where the engine matches trimmed
    // xxhash64 — equivalent absent ~2^-64 collisions.
    "q51_line_dedup" ->
      """WITH th AS (SELECT greatest(2, count(*)//20) AS mc FROM documents),
        |d AS (
        |  SELECT doc_id,
        |    'u' || doc_id || 'a-' || md5('a' || doc_id) AS l1,
        |    CASE WHEN doc_id % 2 = 0 THEN 'Accept all cookies to continue'
        |         ELSE 'u' || doc_id || 'b' END AS l2,
        |    'u' || doc_id || 'c' AS l3,
        |    CASE WHEN doc_id % 3 = 0 THEN 'Subscribe to our newsletter'
        |         ELSE 'u' || doc_id || 'd' END AS l4,
        |    CASE WHEN doc_id % 10 = 7
        |         THEN 'u' || doc_id || 'a-' || md5('a' || doc_id)
        |         ELSE 'u' || doc_id || 'e' END AS l5
        |  FROM documents
        |), docs AS (
        |  SELECT doc_id, concat_ws(chr(10), l1, l2, l3, l4, l5, '') AS text
        |  FROM d
        |), l AS (
        |  SELECT doc_id, pos, ls[pos] AS line
        |  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM docs),
        |       (SELECT unnest(range(1, 7)) AS pos) p
        |), f AS (
        |  SELECT trim(line) AS tl FROM l
        |  WHERE len(trim(line)) > 0
        |  GROUP BY 1 HAVING count(*) >= (SELECT mc FROM th)
        |), agg AS (
        |  SELECT doc_id,
        |    string_agg(line, chr(10) ORDER BY pos) AS text_clean,
        |    CAST(count(*) AS BIGINT) AS kept_lines
        |  FROM l
        |  WHERE len(trim(line)) = 0 OR trim(line) NOT IN (SELECT tl FROM f)
        |  GROUP BY doc_id
        |)
        |SELECT docs.doc_id,
        |  COALESCE(agg.text_clean, '') AS text_clean,
        |  CAST(6 AS BIGINT) AS n_lines,
        |  CAST(COALESCE(agg.kept_lines, 0) AS BIGINT) AS kept_lines
        |FROM docs LEFT JOIN agg ON docs.doc_id = agg.doc_id
        |ORDER BY docs.doc_id""".stripMargin,

    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  count(*) AS cnt,
        |  strftime(min(l_shipdate), '%Y-%m-%d') AS min_ship,
        |  strftime(max(l_shipdate), '%Y-%m-%d') AS max_ship
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q02_region_orders" ->
      """SELECT r_name,
        |  count(*) AS order_cnt,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS customer_cnt,
        |  max(o_totalprice) AS max_price
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,

    "q03_topk_per_segment" ->
      """SELECT c_mktsegment, rn, o_orderkey, o_totalprice FROM (
        |  SELECT c_mktsegment, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders JOIN customer ON o_custkey = c_custkey) x
        |WHERE rn <= 3 ORDER BY c_mktsegment, rn""".stripMargin,

    "q04_customers_no_orders" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin,

    "q05_parts_ordered" ->
      """SELECT p_partkey, p_brand FROM part
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
        |ORDER BY p_partkey""".stripMargin,

    "q06_union_distinct" ->
      """SELECT o_custkey AS custkey FROM orders
        |UNION
        |SELECT c_custkey AS custkey FROM customer WHERE c_acctbal < 0
        |ORDER BY custkey""".stripMargin,

    "q07_status_classify" ->
      """SELECT event_type,
        |  CASE WHEN value < 10 THEN 'low' WHEN value < 100 THEN 'mid' ELSE 'high' END AS bucket,
        |  count(*) AS cnt
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q08_hourly_events" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |  count(*) AS cnt,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS users
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q09_politeness_topk" ->
      """SELECT user_id, rn, event_id FROM (
        |  SELECT user_id, event_id,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS rn
        |  FROM events) x
        |WHERE rn <= 2 ORDER BY user_id, rn""".stripMargin,

    "q10_sessionize" ->
      """SELECT user_id,
        |  CAST(sum(new_sess) AS BIGINT) AS sessions,
        |  count(*) AS events
        |FROM (
        |  SELECT user_id,
        |    CASE WHEN prev_ts IS NULL OR ts > prev_ts + INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM (
        |    SELECT user_id, ts,
        |      lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_ts
        |    FROM events) a) b
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q11_dedup_exact" ->
      """SELECT md5(lower(text)) AS content_md5,
        |  count(*) AS cluster_size,
        |  min(doc_id) AS keep_id
        |FROM (SELECT doc_id, text FROM documents
        |      UNION ALL SELECT doc_id + 100000, text FROM documents)
        |GROUP BY 1 HAVING count(*) > 1 ORDER BY content_md5""".stripMargin,

    // closed-form: only the planted docs hit, and with exactly 15-13+1 = 3
    // distinct 13-gram shingles of their appended bench sentence
    "q38_decontaminate" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 50 = 3 THEN 3 ELSE 0 END AS BIGINT) AS hits,
        |  doc_id % 50 = 3 AS contaminated
        |FROM documents ORDER BY doc_id""".stripMargin,

    // same planted text, recomputed the orthodox way (unnest + GROUP BY)
    // vs Spark's shuffle-free sort+run-length fold; keep uses the unrounded
    // fractions on both sides
    "q39_gopher_repetition" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 40 = 7
        |      THEN text || repeat(chr(10) || 'dup line marker row',
        |                          CAST(doc_id % 3 + 2 AS INT))
        |      ELSE text END AS t
        |  FROM documents
        |), lf AS (
        |  SELECT doc_id,
        |    CASE WHEN len(ls) > 0
        |      THEN 1.0 - CAST(len(list_distinct(ls)) AS DOUBLE)
        |                 / CAST(len(ls) AS DOUBLE)
        |      ELSE 0.0 END AS dlf
        |  FROM (SELECT doc_id,
        |          list_filter(list_transform(string_split(t, chr(10)),
        |                                     x -> trim(x)),
        |                      x -> len(x) > 0) AS ls
        |        FROM base)
        |), wrds AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(t), '\s+'),
        |                x -> len(x) > 0) AS ws
        |  FROM base
        |), bg AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(ws)),
        |                          i -> ws[i] || ' ' || ws[i + 1])) AS g
        |  FROM wrds
        |), cnt AS (
        |  SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2
        |), tb AS (
        |  SELECT doc_id,
        |    CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS tbf
        |  FROM cnt GROUP BY 1
        |)
        |SELECT l.doc_id,
        |  round(l.dlf, 4) AS dup_line_frac,
        |  round(coalesce(t.tbf, 0.0), 4) AS top_bigram_frac,
        |  (l.dlf <= 0.30 AND coalesce(t.tbf, 0.0) <= 0.20) AS keep
        |FROM lf l LEFT JOIN tb t ON l.doc_id = t.doc_id
        |ORDER BY l.doc_id""".stripMargin,

    // exact replay of the selection rule: hash mod 10000 under the
    // per-stratum threshold
    "q40_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE (doc_id * 7919) % 10000 <
        |  CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 2500
        |            WHEN 'fr' THEN 1000 WHEN 'es' THEN 7500
        |            WHEN 'zh' THEN 0 ELSE 0 END
        |ORDER BY doc_id""".stripMargin,

    // literal replay: counts from doc_id arithmetic, scrubbed length via
    // exact replace() of the planted tokens by their placeholders
    "q41_pii_scrub" ->
      """WITH planted AS (
        |  SELECT doc_id,
        |    text || CASE
        |      WHEN doc_id % 30 = 5  THEN ' reach user@example.org now'
        |      WHEN doc_id % 30 = 11 THEN ' dial +44 123 456 7890 today'
        |      WHEN doc_id % 30 = 23 THEN ' ping 10.0.0.1 and 192.168.1.1 please'
        |      ELSE '' END AS t
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 30 = 5  THEN 1 ELSE 0 END AS INT) AS emails,
        |  CAST(CASE WHEN doc_id % 30 = 11 THEN 1 ELSE 0 END AS INT) AS phones,
        |  CAST(CASE WHEN doc_id % 30 = 23 THEN 2 ELSE 0 END AS INT) AS ips,
        |  CAST(len(replace(replace(replace(replace(t,
        |      'user@example.org', '<EMAIL>'),
        |      '+44 123 456 7890', '<PHONE>'),
        |      '10.0.0.1', '<IP>'),
        |      '192.168.1.1', '<IP>')) AS INT) AS scrubbed_len
        |FROM planted ORDER BY doc_id""".stripMargin,

    // every stage independently recomputed, then the identical first-match
    // CASE chain; quality is the UNROUNDED q15 formula (same operation
    // order as TextAnalysis.qualityScore, so the doubles are bit-equal)
    "q42_curate" ->
      s"""WITH doubled AS (
         |  SELECT doc_id, text, lang FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000 AS doc_id, text, lang FROM documents
         |), dk AS (
         |  SELECT doc_id, text, lang,
         |    min(doc_id) OVER (PARTITION BY md5(lower(text))) AS keep_id
         |  FROM doubled
         |), lf AS (
         |  SELECT doc_id,
         |    CASE WHEN len(ls) > 0
         |      THEN 1.0 - CAST(len(list_distinct(ls)) AS DOUBLE)
         |                 / CAST(len(ls) AS DOUBLE)
         |      ELSE 0.0 END AS dlf
         |  FROM (SELECT doc_id,
         |          list_filter(list_transform(string_split(text, chr(10)),
         |                                     x -> trim(x)),
         |                      x -> len(x) > 0) AS ls
         |        FROM doubled)
         |), bgx AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(1, len(ws)),
         |                          i -> ws[i] || ' ' || ws[i + 1])) AS g
         |  FROM (SELECT doc_id,
         |          list_filter(string_split_regex(lower(text), '\\s+'),
         |                      x -> len(x) > 0) AS ws
         |        FROM doubled)
         |), tb AS (
         |  SELECT doc_id, CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS tbf
         |  FROM (SELECT doc_id, g, count(*) AS c FROM bgx GROUP BY 1, 2)
         |  GROUP BY 1
         |), q AS (
         |  SELECT doc_id, least(greatest(
         |      alpha_ratio * 0.4 +
         |      least(stop_ratio * 2.0, 1.0) * 0.3 +
         |      (CASE WHEN punct_ratio BETWEEN 0.005 AND 0.2 THEN 1.0 ELSE 0.0 END) * 0.15 +
         |      (CASE WHEN mean_word_len BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END) * 0.15,
         |    0.0), 1.0) AS quality
         |  FROM (
         |    SELECT doc_id,
         |      CASE WHEN n > 0 THEN alpha / n ELSE 0.0 END AS alpha_ratio,
         |      CASE WHEN n > 0 THEN punct / n ELSE 0.0 END AS punct_ratio,
         |      CASE WHEN n_tok > 0 THEN stop / n_tok ELSE 0.0 END AS stop_ratio,
         |      CASE WHEN n_tok > 0 THEN alpha / n_tok ELSE 0.0 END AS mean_word_len
         |    FROM (
         |      SELECT doc_id,
         |        CAST(length(text) AS DOUBLE) AS n,
         |        CAST(length(regexp_replace(text, '[^\\p{L}]', '', 'g')) AS DOUBLE) AS alpha,
         |        CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) AS punct,
         |        CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
         |                             x -> len(x) > 0)) AS DOUBLE) AS n_tok,
         |        CAST(len(list_filter(list_filter(string_split_regex(lower(text), '\\s+'),
         |                                         x -> len(x) > 0),
         |                 x -> list_contains($stopwordsSqlList, x))) AS DOUBLE) AS stop
         |      FROM doubled) raw) ratios
         |)
         |SELECT d.doc_id, d.lang,
         |  CASE WHEN d.doc_id != d.keep_id THEN 'dup'
         |       WHEN NOT (l.dlf <= 0.30 AND coalesce(t.tbf, 0.0) <= 0.20)
         |         THEN 'repetition'
         |       WHEN q.quality < 0.5 THEN 'quality'
         |       WHEN (d.doc_id * 7919) % 10000 >=
         |         CASE d.lang WHEN 'en' THEN 5000 WHEN 'de' THEN 2500
         |                     WHEN 'fr' THEN 1000 WHEN 'es' THEN 7500
         |                     WHEN 'zh' THEN 0 ELSE 0 END
         |         THEN 'sample'
         |       ELSE 'kept' END AS stage
         |FROM dk d
         |JOIN lf l ON d.doc_id = l.doc_id
         |LEFT JOIN tb t ON d.doc_id = t.doc_id
         |JOIN q ON d.doc_id = q.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    "q12_fingerprint" ->
      """SELECT doc_id,
        |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q13_token_counts" ->
      """SELECT doc_id,
        |  len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS ws_tokens,
        |  len(regexp_extract_all(text, '[\p{L}\p{N}]+|[^\p{L}\p{N}\s]')) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q14_lang_stats" ->
      """SELECT lang, count(*) AS docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars,
        |  CAST(sum(len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0))) AS BIGINT) AS tokens
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q15_quality_scores" ->
      s"""SELECT doc_id, round(least(greatest(
         |    alpha_ratio * 0.4 +
         |    least(stop_ratio * 2.0, 1.0) * 0.3 +
         |    (CASE WHEN punct_ratio BETWEEN 0.005 AND 0.2 THEN 1.0 ELSE 0.0 END) * 0.15 +
         |    (CASE WHEN mean_word_len BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END) * 0.15,
         |  0.0), 1.0), 4) AS quality
         |FROM (
         |  SELECT doc_id,
         |    CASE WHEN n > 0 THEN alpha / n ELSE 0.0 END AS alpha_ratio,
         |    CASE WHEN n > 0 THEN punct / n ELSE 0.0 END AS punct_ratio,
         |    CASE WHEN n_tok > 0 THEN stop / n_tok ELSE 0.0 END AS stop_ratio,
         |    CASE WHEN n_tok > 0 THEN alpha / n_tok ELSE 0.0 END AS mean_word_len
         |  FROM (
         |    SELECT doc_id,
         |      CAST(length(text) AS DOUBLE) AS n,
         |      CAST(length(regexp_replace(text, '[^\\p{L}]', '', 'g')) AS DOUBLE) AS alpha,
         |      CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) AS punct,
         |      CAST(len(list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0)) AS DOUBLE) AS n_tok,
         |      CAST(len(list_filter(list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0),
         |               x -> list_contains($stopwordsSqlList, x))) AS DOUBLE) AS stop
         |    FROM documents) raw) ratios
         |ORDER BY doc_id""".stripMargin,

    // exact recompute of q52: the q15 quality expression carried per-source,
    // re-scaled to integer milli-units; domain gate replayed as the same
    // integer cross-multiplication (no float sums on either side)
    "q52_domain_filter" ->
      s"""WITH m AS (
         |  SELECT doc_id, source,
         |    CAST(round(round(least(greatest(
         |      alpha_ratio * 0.4 +
         |      least(stop_ratio * 2.0, 1.0) * 0.3 +
         |      (CASE WHEN punct_ratio BETWEEN 0.005 AND 0.2 THEN 1.0 ELSE 0.0 END) * 0.15 +
         |      (CASE WHEN mean_word_len BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END) * 0.15,
         |    0.0), 1.0), 4) * 10000, 0) AS BIGINT) AS qmilli
         |  FROM (
         |    SELECT doc_id, source,
         |      CASE WHEN n > 0 THEN alpha / n ELSE 0.0 END AS alpha_ratio,
         |      CASE WHEN n > 0 THEN punct / n ELSE 0.0 END AS punct_ratio,
         |      CASE WHEN n_tok > 0 THEN stop / n_tok ELSE 0.0 END AS stop_ratio,
         |      CASE WHEN n_tok > 0 THEN alpha / n_tok ELSE 0.0 END AS mean_word_len
         |    FROM (
         |      SELECT doc_id, source,
         |        CAST(length(text) AS DOUBLE) AS n,
         |        CAST(length(regexp_replace(text, '[^\\p{L}]', '', 'g')) AS DOUBLE) AS alpha,
         |        CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) AS punct,
         |        CAST(len(list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0)) AS DOUBLE) AS n_tok,
         |        CAST(len(list_filter(list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0),
         |                 x -> list_contains($stopwordsSqlList, x))) AS DOUBLE) AS stop
         |      FROM documents) raw) ratios
         |), st AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS src_docs,
         |    CAST(sum(qmilli) AS BIGINT) AS src_sum
         |  FROM m GROUP BY source
         |), g AS (
         |  SELECT CAST(sum(src_sum) AS BIGINT) AS tot_sum,
         |    CAST(sum(src_docs) AS BIGINT) AS tot_docs
         |  FROM st
         |)
         |SELECT m.doc_id, m.source, m.qmilli, st.src_docs, st.src_sum,
         |  (st.src_sum * g.tot_docs >= g.tot_sum * st.src_docs) AS keep
         |FROM m JOIN st ON m.source = st.source CROSS JOIN g
         |ORDER BY m.doc_id""".stripMargin,

    // replay of q53's planted corpus: same id%6 mojibake via chr(), then
    // the four normalization rules as nfc_normalize + RE2 class replaces
    "q53_normalize_text" ->
      """WITH docs AS (
        |  SELECT doc_id, 'u' || doc_id || ': ' ||
        |    CASE doc_id % 6
        |      WHEN 0 THEN 'cafe' || chr(769) || ' brulee'
        |      WHEN 1 THEN 'x' || chr(7) || 'y' || chr(13) || chr(10) || 'z'
        |      WHEN 2 THEN 'a' || chr(160) || 'b' || chr(8203) || 'c'
        |      WHEN 3 THEN 'tab' || chr(9) || chr(9) || '  end'
        |      WHEN 4 THEN 'A' || chr(778) || ' ring'
        |      ELSE 'plain clean' END AS text
        |  FROM documents
        |)
        |SELECT doc_id, norm AS text_norm, norm <> text AS changed
        |FROM (
        |  SELECT doc_id, text, regexp_replace(regexp_replace(regexp_replace(
        |      nfc_normalize(text),
        |      '[\x{0000}-\x{0008}\x{000B}-\x{001F}\x{007F}-\x{009F}\x{200B}\x{FEFF}]', '', 'g'),
        |      '[\x{00A0}\x{1680}\x{2000}-\x{200A}\x{202F}\x{205F}\x{3000}]', ' ', 'g'),
        |      '[ \t]+', ' ', 'g') AS norm
        |  FROM docs) n
        |ORDER BY doc_id""".stripMargin,

    "q54_vocab_topk" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |                       x -> len(x) > 0)) AS token
        |  FROM documents
        |)
        |SELECT token, CAST(count(*) AS BIGINT) AS tf,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        |FROM tok GROUP BY token
        |ORDER BY tf DESC, token ASC LIMIT 100""".stripMargin,

    // closed-form replay of q55's synthesized archives: url/ts/status/
    // payload are all arithmetic in doc_id, so the parser's output is
    // checkable without DuckDB ever reading WARC
    "q55_warc_read" ->
      """SELECT 'https://host' || (doc_id % 40) || '.example.test/p' || doc_id AS url,
        |  CAST(doc_id + 1700000000 AS BIGINT) AS ts_epoch,
        |  CAST(CASE WHEN doc_id % 7 = 3 THEN 404 ELSE 200 END AS INTEGER) AS status,
        |  CAST(length('<html><body>page ' || doc_id || '</body></html>') AS BIGINT) AS n_bytes,
        |  md5('<html><body>page ' || doc_id || '</body></html>') AS payload_md5
        |FROM documents ORDER BY url""".stripMargin,

    // exact recompute of q56: same tokenizer as q54, per-(token, doc)
    // partials, then df/tf/bottom-16 ids — min-K of a multiset is
    // order-independent, so list_sort+slice equals the Aggregator's
    // bounded buffer exactly
    "q56_inverted_index" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |                       x -> len(x) > 0)) AS token
        |  FROM documents
        |), per AS (
        |  SELECT token, doc_id, CAST(count(*) AS BIGINT) AS c
        |  FROM tok GROUP BY token, doc_id
        |)
        |SELECT token, CAST(count(*) AS BIGINT) AS doc_freq,
        |  CAST(sum(c) AS BIGINT) AS tf,
        |  array_to_string(list_sort(list(doc_id))[1:16], ',') AS postings
        |FROM per GROUP BY token HAVING count(*) >= 2
        |ORDER BY token""".stripMargin,

    // closed-form replay of q57's planted anchors: the (target, term)
    // multiset is pure arithmetic in doc_id (the skip-rule noise links and
    // the malformed-scheme variant contribute nothing / normalize away),
    // so DuckDB aggregates and ranks it without parsing any HTML
    "q57_anchor_topk" ->
      """WITH links AS (
        |  SELECT 'https://h' || ((2*doc_id+1) % 10) || '.example.test/p' || (2*doc_id+1) || '.html' AS target,
        |    unnest(['alpha', 'b' || ((2*doc_id+1) % 5)]) AS term
        |  FROM documents
        |  UNION ALL
        |  SELECT 'https://h' || (doc_id % 10) || '.example.test/home.html' AS target,
        |    unnest(['home', 'h' || (doc_id % 4)]) AS term
        |  FROM documents
        |), agg AS (
        |  SELECT target, term, CAST(count(*) AS BIGINT) AS cnt
        |  FROM links GROUP BY target, term
        |), ranked AS (
        |  SELECT target, term, cnt,
        |    CAST(row_number() OVER (PARTITION BY target ORDER BY cnt DESC, term ASC) AS BIGINT) AS rn
        |  FROM agg
        |)
        |SELECT target, term, cnt, rn FROM ranked WHERE rn <= 3
        |ORDER BY target, rn""".stripMargin,

    // full replay of q58: train (en slice), prune (row_number over the same
    // total order), score (bit-length arithmetic via bin()); zipped unnests
    // keep each bigram aligned with its left token
    "q58_lm_fluency" ->
      """WITH tr AS (
        |  SELECT list_filter(string_split_regex(lower(text), '\s+'),
        |                     x -> len(x) > 0 AND NOT contains(x, chr(1))) AS toks
        |  FROM documents WHERE lang = 'en'
        |), trkey AS (
        |  SELECT unnest(toks) AS key FROM tr
        |  UNION ALL
        |  SELECT unnest(list_transform(range(1, len(toks)), i -> toks[i] || chr(1) || toks[i+1])) AS key FROM tr
        |), cnt AS (
        |  SELECT key, CAST(count(*) AS BIGINT) AS c FROM trkey GROUP BY key
        |), uni AS (
        |  SELECT key, c FROM (
        |    SELECT key, c, row_number() OVER (ORDER BY c DESC, key ASC) AS rn
        |    FROM cnt WHERE NOT contains(key, chr(1))) t WHERE rn <= 24
        |), bi AS (
        |  SELECT key, c FROM (
        |    SELECT key, c, row_number() OVER (ORDER BY c DESC, key ASC) AS rn
        |    FROM cnt WHERE contains(key, chr(1))) t WHERE rn <= 512
        |), v AS (
        |  SELECT CAST(count(*) AS BIGINT) AS vocab FROM cnt WHERE NOT contains(key, chr(1))
        |), doctok AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |                             x -> len(x) > 0 AND NOT contains(x, chr(1))) AS toks
        |  FROM documents
        |), flat AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(toks)), i -> toks[i])) AS w1,
        |    unnest(list_transform(range(1, len(toks)), i -> toks[i] || chr(1) || toks[i+1])) AS bg
        |  FROM doctok
        |), scored AS (
        |  SELECT f.doc_id,
        |    CAST(length(bin(COALESCE(u.c, 0) + v.vocab)) AS BIGINT)
        |      - CAST(length(bin(COALESCE(b.c, 0) + 1)) AS BIGINT) AS sb
        |  FROM flat f CROSS JOIN v
        |  LEFT JOIN uni u ON f.w1 = u.key
        |  LEFT JOIN bi b ON f.bg = b.key
        |), agg AS (
        |  SELECT d.doc_id,
        |    CAST(COALESCE(count(s.sb), 0) AS BIGINT) AS n_bigrams,
        |    CAST(COALESCE(sum(s.sb), 0) AS BIGINT) AS bits
        |  FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
        |  GROUP BY d.doc_id
        |)
        |SELECT doc_id, n_bigrams, bits,
        |  CASE WHEN n_bigrams > 0 THEN bits * 1000 // n_bigrams ELSE 0 END AS bits_per_bigram_milli,
        |  bits * 1000 <= 5000 * n_bigrams AS keep
        |FROM agg ORDER BY doc_id""".stripMargin,

    // integer replay of q59: same totals, same closed-form weights, same
    // floor-division plan math
    "q59_mixture_plan" ->
      """WITH tot AS (
        |  SELECT source,
        |    CAST(sum(len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0))) AS BIGINT) AS tokens_avail
        |  FROM documents GROUP BY source
        |), wts AS (
        |  SELECT source, tokens_avail,
        |    CAST(substr(source, 4) AS BIGINT) % 4 + 1 AS weight
        |  FROM tot
        |), w AS (
        |  SELECT CAST(sum(weight) AS BIGINT) AS tw FROM wts
        |), ns AS (
        |  SELECT CAST(min(tokens_avail * w.tw // weight) AS BIGINT) AS nstar
        |  FROM wts CROSS JOIN w
        |)
        |SELECT source, tokens_avail, weight,
        |  CAST(ns.nstar * weight // w.tw AS BIGINT) AS take_tokens,
        |  CAST(CASE WHEN tokens_avail > 0
        |    THEN (ns.nstar * weight // w.tw) * 1000 // tokens_avail
        |    ELSE 0 END AS BIGINT) AS rate_milli,
        |  CAST(tokens_avail - ns.nstar * weight // w.tw AS BIGINT) AS surplus
        |FROM wts CROSS JOIN w CROSS JOIN ns ORDER BY source""".stripMargin,

    // closed-form replay of q60's synthesized archives: with a closed-form
    // WARC-Record-ID every byte of a record is determined by doc_id, so its
    // extent is string-length arithmetic (block = 59 + digits(status) +
    // digits(plen) + plen; record = 177 + len(rid) + len(url) +
    // digits(block) + block — constants pinned by CdxSpec's tiling tests)
    // and offset is a per-file window prefix-sum. SURT/ts14/digest replay
    // as string ops on the same closed forms.
    "q60_cdx_index" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    'https://host' || (doc_id % 40) || '.example.test/p' || doc_id AS url,
        |    'urn:graft:rec' || doc_id AS rid,
        |    CASE WHEN doc_id % 7 = 3 THEN 404 ELSE 200 END AS status,
        |    '<html><body>page ' || doc_id || '</body></html>' AS payload
        |  FROM documents
        |), rec AS (
        |  SELECT doc_id, url, status, payload,
        |    177 + length(rid) + length(url)
        |      + length(CAST(59 + length(CAST(status AS VARCHAR))
        |          + length(CAST(length(payload) AS VARCHAR)) + length(payload) AS VARCHAR))
        |      + 59 + length(CAST(status AS VARCHAR))
        |      + length(CAST(length(payload) AS VARCHAR)) + length(payload) AS rec_len
        |  FROM base
        |)
        |SELECT
        |  'test,example,host' || (doc_id % 40) || ')/p' || doc_id AS surt,
        |  strftime(TIMESTAMP '2023-11-14 22:13:20' + INTERVAL (doc_id) SECOND, '%Y%m%d%H%M%S') AS ts14,
        |  url,
        |  CAST(status AS INTEGER) AS status,
        |  'text/html' AS mime,
        |  md5(payload) AS digest,
        |  'part-' || (doc_id % 2) || '.warc' AS filename,
        |  CAST(COALESCE(SUM(rec_len) OVER (PARTITION BY doc_id % 2 ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS "offset",
        |  CAST(rec_len AS BIGINT) AS length
        |FROM rec ORDER BY url""".stripMargin,

    // arithmetic replay of q61's planted sitemap bodies: the three body
    // formats regenerate as three UNION branches (index members, text
    // lines, urlset entries with the entity/relative-loc/invalid-freq
    // plants); epochs are integer arithmetic on the planted instants
    // (1709280000 = 2024-03-01T08:00:00Z, 1704067200 = 2024-01-01)
    "q61_sitemap_entries" ->
      """WITH base AS (
        |  SELECT doc_id AS d, 's' || (doc_id % 40) || '.example.test' AS h FROM documents
        |), idx AS (
        |  SELECT 'https://' || h || '/sitemap' || d || '.xml' AS sitemap_url,
        |    'sitemap' AS kind,
        |    'https://' || h || '/sm/' || d || '/a.xml' AS url,
        |    CAST(1709280000 + d AS BIGINT) AS lastmod_epoch,
        |    CAST(NULL AS VARCHAR) AS changefreq,
        |    CAST(NULL AS BIGINT) AS priority_milli
        |  FROM base WHERE d % 5 = 0
        |  UNION ALL
        |  SELECT 'https://' || h || '/sitemap' || d || '.xml', 'sitemap',
        |    'https://' || h || '/sm/' || d || '/b.xml',
        |    CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT)
        |  FROM base WHERE d % 5 = 0
        |), txt AS (
        |  SELECT 'https://' || h || '/sitemap' || d || '.xml' AS sitemap_url, 'url' AS kind,
        |    'https://' || h || '/t' || d || '/' || j AS url,
        |    CAST(NULL AS BIGINT) AS lastmod_epoch, CAST(NULL AS VARCHAR) AS changefreq,
        |    CAST(NULL AS BIGINT) AS priority_milli
        |  FROM base CROSS JOIN (SELECT unnest(range(0, 2)) AS j) js
        |  WHERE d % 5 <> 0 AND d % 7 = 2
        |), xmlu AS (
        |  SELECT 'https://' || h || '/sitemap' || d || '.xml' AS sitemap_url, 'url' AS kind,
        |    CASE j WHEN 0 THEN 'https://' || h || '/p' || d || '/0'
        |           WHEN 1 THEN 'https://' || h || '/p' || d || '/1?a=1&b=2'
        |           ELSE 'https://' || h || '/p' || d || '/2-rel' END AS url,
        |    CAST(CASE WHEN d % 2 = 0 THEN 1709280000 + d
        |              ELSE 1704067200 + (d % 28) * 86400 END AS BIGINT) AS lastmod_epoch,
        |    (['always','hourly','daily','weekly','monthly','yearly','never',NULL])[CAST((d + j) % 8 AS INTEGER) + 1] AS changefreq,
        |    CAST(((d + j) % 11) * 100 AS BIGINT) AS priority_milli
        |  FROM base CROSS JOIN (SELECT unnest(range(0, 3)) AS j) js
        |  WHERE d % 5 <> 0 AND d % 7 <> 2
        |)
        |SELECT * FROM (SELECT * FROM idx UNION ALL SELECT * FROM txt UNION ALL SELECT * FROM xmlu)
        |ORDER BY sitemap_url, url""".stripMargin,

    // exact replay of q62 with the injected rawKey: tokenize (the q58/q13
    // lower + \s+ contract), slide window-8 stride-1 fingerprints (aligned
    // unnests keep pos and key zipped), rank = doc_id * 2^21 + pos, then
    // group/HAVING >= 2 and keep = rank == min(rank)
    "q62_passage_dedup" ->
      """WITH corpus AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN text || ' all rights reserved by the original author of this work and contributors'
        |         ELSE text END AS text
        |  FROM documents
        |), doctok AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
        |  FROM corpus
        |), occ AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(toks) - 6), p -> CAST(p - 1 AS BIGINT))) AS pos,
        |    unnest(list_transform(range(1, len(toks) - 6), p -> array_to_string(list_slice(toks, p, p + 7), chr(31)))) AS key
        |  FROM doctok WHERE len(toks) >= 8
        |), ranked AS (
        |  SELECT doc_id, pos, key, doc_id * 2097152 + pos AS rank FROM occ
        |), stats AS (
        |  SELECT key, CAST(count(*) AS BIGINT) AS copies, min(rank) AS min_rank
        |  FROM ranked GROUP BY key HAVING count(*) >= 2
        |)
        |SELECT r.doc_id, r.pos, s.copies, r.rank = s.min_rank AS keep
        |FROM ranked r JOIN stats s ON r.key = s.key
        |ORDER BY r.doc_id, r.pos""".stripMargin,

    // exact replay of q63: the same closed-form URL construction, the same
    // host/template regexes (hex-run collapse before digit-run), the same
    // integer milli-share and >= cross-multiply verdict
    "q63_trap_templates" ->
      """WITH urls AS (
        |  SELECT CASE WHEN doc_id % 5 = 1
        |    THEN 'https://trap.example.test/cal/' || (2000 + doc_id % 30) || '/' || (doc_id % 12)
        |    ELSE 'https://h' || (doc_id % 7) || '.example.test' ||
        |      CASE doc_id % 6
        |        WHEN 0 THEN '/item/' || doc_id
        |        WHEN 1 THEN '/about?page=' || doc_id
        |        WHEN 2 THEN '/s/deadbeef' || doc_id
        |        WHEN 3 THEN '/tag/news'
        |        WHEN 4 THEN '/p' || (doc_id % 7) || '/view'
        |        ELSE '/faq#sec' || doc_id END
        |    END AS url
        |  FROM documents
        |), parsed AS (
        |  SELECT regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host,
        |    regexp_replace(regexp_replace(
        |      regexp_extract(url, '^[a-z]+://[^/?#]+([^?#]*)', 1),
        |      '[0-9a-fA-F]{8,}', '~x', 'g'), '[0-9]+', '~d', 'g') AS template
        |  FROM urls
        |), agg AS (
        |  SELECT host, template, CAST(count(*) AS BIGINT) AS urls
        |  FROM parsed GROUP BY host, template
        |), tot AS (
        |  SELECT host, template, urls,
        |    CAST(sum(urls) OVER (PARTITION BY host) AS BIGINT) AS host_urls
        |  FROM agg
        |)
        |SELECT host, template, urls, host_urls,
        |  urls * 1000 // host_urls AS share_milli,
        |  urls >= 10 AND urls * 1000 >= 300 * host_urls AS trap
        |FROM tot ORDER BY host, template""".stripMargin,

    // the same closed-form functional graph, resolved the orthodox SQL way:
    // a recursive CTE walks every origin hop by hop (bounded at the same
    // maxHops=32 budget), a source resolves iff some walked row lands on a
    // URL with no outgoing edge within budget. The engine never walks —
    // pointer doubling composes the map with itself in 7 rounds.
    "q64_redirect_resolve" ->
      """WITH RECURSIVE edges AS (
        |  SELECT 'https://r.example.test/u' || doc_id AS src,
        |    'https://r.example.test/u' ||
        |      CASE WHEN doc_id % 97 = 4 THEN doc_id + 1 ELSE doc_id - 1 END AS dst
        |  FROM documents
        |  WHERE doc_id % 97 IN (4, 5) OR doc_id % 10 IN (1, 2, 3)
        |), walk AS (
        |  SELECT src AS origin, dst AS cur, 1 AS hops FROM edges
        |  UNION ALL
        |  SELECT w.origin, e.dst, w.hops + 1
        |  FROM walk w JOIN edges e ON e.src = w.cur
        |  WHERE w.hops <= 32
        |), term AS (
        |  SELECT w.origin, w.cur, w.hops FROM walk w
        |  WHERE w.hops <= 32
        |    AND NOT EXISTS (SELECT 1 FROM edges e WHERE e.src = w.cur)
        |)
        |SELECT e.src AS src, t.cur AS final_url, CAST(t.hops AS INT) AS hops,
        |  t.origin IS NULL AS cycle
        |FROM edges e LEFT JOIN term t ON t.origin = e.src
        |ORDER BY e.src""".stripMargin,

    // expected (url, canonical) pairs regenerated closed-form from doc_id
    // (the real kernel parses HTML and resolves hrefs), then the same
    // cluster aggregation: the canonical page represents its cluster when
    // crawled, else the lexicographically smallest member
    "q65_canonical_clusters" ->
      """WITH pages AS (
        |  SELECT 'https://c.example.test/p' || doc_id AS url,
        |    CASE CAST(doc_id % 4 AS INT)
        |      WHEN 1 THEN 'https://c.example.test/p' || (doc_id - 1)
        |      WHEN 2 THEN 'https://c.example.test/p' || (doc_id - 2)
        |      WHEN 3 THEN 'https://cdn.example.test/x' || (doc_id // 8)
        |      ELSE 'https://c.example.test/p' || doc_id
        |    END AS canonical
        |  FROM documents
        |), agg AS (
        |  SELECT canonical AS c, CAST(count(*) AS BIGINT) AS cluster_size,
        |    min(CASE WHEN url = canonical THEN url END) AS self_rep,
        |    min(url) AS min_url
        |  FROM pages GROUP BY canonical
        |)
        |SELECT p.url, p.canonical, a.cluster_size,
        |  p.url = coalesce(a.self_rep, a.min_url) AS keep
        |FROM pages p JOIN agg a ON a.c = p.canonical
        |ORDER BY p.url""".stripMargin,

    // expected charset + decoded char counts recomputed from doc_id alone:
    // DuckDB builds the same html STRING the kernel encoded to bytes and
    // char-counts it (the kernel's decode must round-trip exactly);
    // nonascii is the single 'é' every body carries
    "q66_charset_decode" ->
      """SELECT doc_id,
        |  CASE CAST(doc_id % 4 AS INT)
        |    WHEN 1 THEN 'iso-8859-1' WHEN 2 THEN 'utf-16le' ELSE 'utf-8'
        |  END AS charset,
        |  CAST(length('<html><head>' ||
        |    CASE CAST(doc_id % 4 AS INT)
        |      WHEN 0 THEN '<meta charset="utf-8">'
        |      WHEN 1 THEN '<meta http-equiv="Content-Type" content="text/html; charset=ISO-8859-1">'
        |      ELSE '' END ||
        |    '</head><body>café-' || doc_id || '</body></html>') AS INT) AS chars,
        |  CAST(1 AS INT) AS nonascii
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q67_bpe_merges" -> q67BpeSql,

    // full independent recompute: the same planting arithmetic, then the
    // line and page rules re-expressed as DuckDB list ops (the q39 pairing
    // of string_split_regex('\s+') with Spark's split("\\s+") is already
    // parity-proven there)
    "q68_c4_filters" ->
      """WITH planted AS (
        |  SELECT doc_id,
        |    text
        |      || repeat(chr(10) || 'good line with plenty of words to pass here.',
        |                CAST(doc_id % 6 + 1 AS INT))
        |      || CASE doc_id % 24
        |           WHEN 1 THEN chr(10) || 'please enable javascript to view this content.'
        |           WHEN 5 THEN chr(10) || 'lorem ipsum dolor sit amet consectetur adipiscing elit.'
        |           WHEN 9 THEN chr(10) || 'function render() { return html; }'
        |           WHEN 13 THEN chr(10) || 'no terminal punctuation on this line at all'
        |           WHEN 17 THEN chr(10) || 'tiny line.'
        |           WHEN 21 THEN chr(10) || 'this sentence quietly mentions xxbadxx today.'
        |           ELSE '' END AS t
        |  FROM documents
        |), ln AS (
        |  SELECT doc_id, t,
        |    list_filter(list_transform(string_split(t, chr(10)), x -> trim(x)),
        |                x -> len(x) > 0) AS ls
        |  FROM planted
        |), kept AS (
        |  SELECT doc_id, t, ls,
        |    list_filter(ls, l ->
        |      (ends_with(l, '.') OR ends_with(l, '!') OR ends_with(l, '?')
        |         OR ends_with(l, '"'))
        |      AND len(list_filter(string_split_regex(l, '\s+'),
        |                          w -> len(w) > 0)) >= 5
        |      AND NOT contains(lower(l), 'javascript')) AS ks
        |  FROM ln
        |)
        |SELECT doc_id,
        |  CAST(len(ls) AS INT) AS total_lines,
        |  CAST(len(ks) AS INT) AS kept_lines,
        |  CAST(len(array_to_string(ks, chr(10))) AS INT) AS clean_len,
        |  CASE WHEN contains(lower(t), 'lorem ipsum') THEN 'lorem_ipsum'
        |       WHEN contains(t, '{') THEN 'brace'
        |       WHEN contains(lower(t), 'xxbadxx') THEN 'bad_word'
        |       WHEN len(ks) < 3 THEN 'too_few_lines'
        |       ELSE 'ok' END AS reason,
        |  (NOT contains(lower(t), 'lorem ipsum') AND NOT contains(t, '{')
        |   AND NOT contains(lower(t), 'xxbadxx') AND len(ks) >= 3) AS keep
        |FROM kept ORDER BY doc_id""".stripMargin,

    // closed-form replay of the exported pages: a green row proves the
    // distributed write→read round trip byte-preserved every field
    "q69_warc_write" ->
      """SELECT
        |  'https://host' || (doc_id % 40) || '.example.test/e' || doc_id AS url,
        |  1700000000 + doc_id AS ts_epoch,
        |  CAST(CASE WHEN doc_id % 7 = 3 THEN 404 ELSE 200 END AS INT) AS status,
        |  CAST(len('<html><body>export page ' || doc_id || '</body></html>')
        |       AS BIGINT) AS n_bytes,
        |  md5('<html><body>export page ' || doc_id || '</body></html>')
        |    AS payload_md5
        |FROM documents ORDER BY url""".stripMargin,

    // exact replay of the perceptron's converged weights (= the epoch-1
    // label-weighted feature sum, see the q70 query comment) and every
    // per-doc integer margin: w1/w2 carry the class marker mass, each
    // filler bucket the class imbalance of its docs, bias the global
    // imbalance; margin = m*w(marker) + w(filler) + bias.
    "q70_quality_classifier" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    (doc_id % 2 = 0) AS y,
        |    3 + (doc_id % 4) AS m,
        |    3 + (doc_id % 6) AS j
        |  FROM documents
        |), wm AS (
        |  SELECT
        |    sum(CASE WHEN y THEN m ELSE 0 END) AS w1,
        |    -sum(CASE WHEN NOT y THEN m ELSE 0 END) AS w2,
        |    sum(CASE WHEN y THEN 1 ELSE -1 END) AS bias
        |  FROM base
        |), wf AS (
        |  SELECT j, sum(CASE WHEN y THEN 1 ELSE -1 END) AS wj
        |  FROM base GROUP BY j
        |)
        |SELECT b.doc_id,
        |  CAST(b.m * (CASE WHEN b.y THEN wm.w1 ELSE wm.w2 END)
        |       + wf.wj + wm.bias AS BIGINT) AS margin,
        |  (b.m * (CASE WHEN b.y THEN wm.w1 ELSE wm.w2 END)
        |   + wf.wj + wm.bias > 0) AS predicted
        |FROM base b, wm
        |JOIN wf ON wf.j = b.j
        |ORDER BY b.doc_id""".stripMargin,

    // closed-form replay of the planted PSL rule classes (see the q71
    // query comment): host, eTLD+1 and public suffix are all CASE
    // expressions in doc_id — DuckDB never runs the matcher.
    "q71_registrable_domain" ->
      """SELECT doc_id,
        |  CASE doc_id % 10
        |    WHEN 0 THEN 'www.site' || (doc_id % 40) || '.com'
        |    WHEN 1 THEN 'news.blog' || (doc_id % 40) || '.co.uk'
        |    WHEN 2 THEN 'user' || (doc_id % 40) || '.github.io'
        |    WHEN 3 THEN 'a.b.site' || (doc_id % 40) || '.org'
        |    WHEN 4 THEN 'x.stuff' || (doc_id % 40) || '.ck'
        |    WHEN 5 THEN 'sub.www.ck'
        |    WHEN 6 THEN '203.0.113.' || (doc_id % 250)
        |    WHEN 7 THEN 'localhost'
        |    WHEN 8 THEN 'shop' || (doc_id % 40) || '.blogspot.com'
        |    ELSE 'cdn.bucket' || (doc_id % 40) || '.s3.amazonaws.com'
        |  END AS host,
        |  CASE doc_id % 10
        |    WHEN 0 THEN 'site' || (doc_id % 40) || '.com'
        |    WHEN 1 THEN 'blog' || (doc_id % 40) || '.co.uk'
        |    WHEN 2 THEN 'user' || (doc_id % 40) || '.github.io'
        |    WHEN 3 THEN 'site' || (doc_id % 40) || '.org'
        |    WHEN 4 THEN 'x.stuff' || (doc_id % 40) || '.ck'
        |    WHEN 5 THEN 'www.ck'
        |    WHEN 6 THEN '203.0.113.' || (doc_id % 250)
        |    WHEN 7 THEN 'localhost'
        |    WHEN 8 THEN 'shop' || (doc_id % 40) || '.blogspot.com'
        |    ELSE 'bucket' || (doc_id % 40) || '.s3.amazonaws.com'
        |  END AS pld,
        |  CASE doc_id % 10
        |    WHEN 0 THEN 'com'
        |    WHEN 1 THEN 'co.uk'
        |    WHEN 2 THEN 'github.io'
        |    WHEN 3 THEN 'org'
        |    WHEN 4 THEN 'stuff' || (doc_id % 40) || '.ck'
        |    WHEN 5 THEN 'ck'
        |    WHEN 6 THEN '203.0.113.' || (doc_id % 250)
        |    WHEN 7 THEN 'localhost'
        |    WHEN 8 THEN 'blogspot.com'
        |    ELSE 's3.amazonaws.com'
        |  END AS suffix
        |FROM documents ORDER BY doc_id""".stripMargin,

    // closed-form PLD collapse (q75 query comment): both endpoints' plds
    // are CASE expressions in doc_id; the aggregate replays in SQL
    "q75_domain_graph" ->
      """WITH e AS (
        |  SELECT
        |    CASE doc_id % 4
        |      WHEN 0 THEN 'site' || (doc_id % 40) || '.com'
        |      WHEN 1 THEN 'blog' || (doc_id % 40) || '.co.uk'
        |      WHEN 2 THEN 'user' || (doc_id % 40) || '.github.io'
        |      ELSE 'shop' || (doc_id % 40) || '.blogspot.com'
        |    END AS src_pld,
        |    CASE (doc_id + 1) % 4
        |      WHEN 0 THEN 'site' || ((doc_id * 7 + 3) % 40) || '.com'
        |      WHEN 1 THEN 'blog' || ((doc_id * 7 + 3) % 40) || '.co.uk'
        |      WHEN 2 THEN 'user' || ((doc_id * 7 + 3) % 40) || '.github.io'
        |      ELSE 'shop' || ((doc_id * 7 + 3) % 40) || '.blogspot.com'
        |    END AS dst_pld,
        |    CASE doc_id % 4
        |      WHEN 0 THEN 'www.site' || (doc_id % 40) || '.com'
        |      WHEN 1 THEN 'news.blog' || (doc_id % 40) || '.co.uk'
        |      WHEN 2 THEN 'user' || (doc_id % 40) || '.github.io'
        |      ELSE 'shop' || (doc_id % 40) || '.blogspot.com'
        |    END AS src_host
        |  FROM documents
        |)
        |SELECT src_pld, dst_pld, CAST(count(*) AS BIGINT) AS links,
        |  CAST(count(DISTINCT src_host) AS BIGINT) AS src_hosts
        |FROM e GROUP BY src_pld, dst_pld
        |ORDER BY src_pld, dst_pld""".stripMargin,

    // exact-rank tertiles (q76 query comment): the oracle may use a window
    // at its scale; rank = row_number()-1 over the same (score, doc_id)
    // total order, bucket by integer comparison
    "q76_rank_buckets" ->
      """WITH scored AS (
        |  SELECT doc_id, (doc_id * 37) % 101 AS score FROM documents
        |), ranked AS (
        |  SELECT doc_id, score,
        |    CAST(row_number() OVER (ORDER BY score, doc_id) - 1 AS BIGINT) AS rank,
        |    (SELECT count(*) FROM scored) AS n
        |  FROM scored
        |)
        |SELECT doc_id, score, rank,
        |  CASE WHEN rank * 3 < n THEN 'head'
        |       WHEN rank * 3 < n * 2 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM ranked ORDER BY doc_id""".stripMargin,

    // closed-form replay of the planted URL shapes (q77 query comment);
    // L = decimal length of doc_id%40 is the only variable signal
    "q77_url_quality" ->
      """WITH v AS (
        |  SELECT doc_id, doc_id % 8 AS c,
        |    length(CAST(doc_id % 40 AS VARCHAR)) AS L
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CAST(CASE c WHEN 0 THEN 3 WHEN 3 THEN 7 WHEN 4 THEN 0
        |    ELSE 1 END AS BIGINT) AS path_depth,
        |  CAST(CASE c WHEN 2 THEN 3 + L ELSE L END AS BIGINT) AS host_digits,
        |  CAST(CASE c WHEN 1 THEN 3 WHEN 4 THEN 1 WHEN 5 THEN 5
        |    WHEN 6 THEN 1 WHEN 7 THEN 1 ELSE 0 END AS BIGINT) AS hyphens,
        |  CAST(CASE c WHEN 2 THEN 3 WHEN 7 THEN 2 ELSE 0 END AS BIGINT) AS params,
        |  CAST(CASE WHEN c IN (1, 4) THEN 1 ELSE 0 END AS BIGINT) AS badword_hits,
        |  c IN (1, 4) AS blocked,
        |  CAST(CASE c
        |    WHEN 0 THEN 30 + 2 * L
        |    WHEN 1 THEN 1025 + 2 * L
        |    WHEN 2 THEN 19 + 2 * L
        |    WHEN 3 THEN 70 + 2 * L
        |    WHEN 4 THEN 1005 + 2 * L
        |    WHEN 6 THEN 15 + 2 * L
        |    WHEN 7 THEN 17 + 2 * L
        |    ELSE 35 + 2 * L
        |  END AS BIGINT) AS score
        |FROM v ORDER BY doc_id""".stripMargin,

    // closed-form regeneration of the SearXNG fixture's expected rows
    // (SerpGen.closedFormSearxngJson): item k=2 url-less -> skipped, kept
    // positions renumber (k+1 below the gap, k above); optionals keyed to
    // (k, doc_id) parity exactly as generated
    "q78_serp_searxng" ->
      """SELECT 'query ' || (i % 7) AS query,
        |  (i % 3) + 1 AS page,
        |  CASE WHEN k < 2 THEN k + 1 ELSE k END AS position,
        |  CASE WHEN k % 3 = 1 THEN 'images' WHEN k % 3 = 2 THEN 'news' ELSE 'web' END AS category,
        |  'T ' || i || ' ' || k AS title,
        |  'https://s' || k || '.example.org/d' || i AS url,
        |  (CASE WHEN k % 2 = 0 THEN 'C ' ELSE 'S ' END) || i || ' ' || k AS description,
        |  'SearXNG (' || (CASE WHEN i % 3 = 0 THEN 'unknown' ELSE 'e' || (i % 3) END) || ')' AS source,
        |  CASE WHEN k % 3 = 1 THEN 'https://im.example.org/' || i || '/' || k
        |       WHEN k % 3 = 2 THEN 'https://th.example.org/' || i END AS image_url,
        |  CAST(CASE WHEN k % 3 = 1 AND i % 2 = 0 THEN 640
        |       WHEN k = 4 AND i % 2 = 1 THEN 800 END AS BIGINT) AS image_width,
        |  CAST(CASE WHEN k % 3 = 1 AND i % 2 = 0 THEN 480
        |       WHEN k = 4 AND i % 2 = 1 THEN 600 END AS BIGINT) AS image_height,
        |  CASE WHEN k % 3 = 2 THEN
        |    (CASE WHEN k % 2 = 0 THEN 'C ' ELSE 'S ' END) || i || ' ' || k END AS snippet,
        |  CASE WHEN k % 3 = 2 THEN
        |    (CASE WHEN i % 2 = 0 THEN '2024-01-02' ELSE '2023-12-31' END) END AS pub_date
        |FROM documents d(i) CROSS JOIN range(6) t(k)
        |WHERE k <> 2
        |ORDER BY query, page, position, url""".stripMargin,

    // closed-form regeneration of the AC-Engine fixture's expected rows
    // (SerpGen.closedFormAcJson): item k=1 url-less -> skipped; explicit
    // position 50+k on even k, the 1-based kept-ordinal (k+1 below the
    // gap, k above = k here since the gap is at 1) on odd k
    "q79_serp_ac" ->
      """SELECT 'query ' || (i % 7) AS query,
        |  (i % 3) + 1 AS page,
        |  CASE WHEN k % 2 = 0 THEN 50 + k
        |       WHEN k < 1 THEN k + 1 ELSE k END AS position,
        |  CASE WHEN k % 3 = 1 THEN 'images' WHEN k % 3 = 2 THEN 'news' ELSE 'web' END AS category,
        |  'T ' || i || ' ' || k AS title,
        |  'https://a' || k || '.example.org/d' || i AS url,
        |  (CASE WHEN k % 2 = 0 THEN 'D ' ELSE 'S ' END) || i || ' ' || k AS description,
        |  CASE WHEN i % 2 = 0 THEN 'src' || i ELSE 'AC-Engine' END AS source,
        |  CASE WHEN k % 3 = 1 AND i % 2 = 0
        |    THEN 'https://im.example.org/' || i || '/' || k END AS image_url,
        |  CAST(CASE WHEN k % 3 = 1 AND i % 2 = 0 THEN 320 END AS BIGINT) AS image_width,
        |  CAST(CASE WHEN k % 3 = 1 AND i % 2 = 0 THEN 240 END AS BIGINT) AS image_height,
        |  CASE WHEN k % 3 = 2 THEN 'S ' || i || ' ' || k END AS snippet,
        |  CASE WHEN k % 3 = 2 AND i % 2 = 0 THEN '2024-02-03' END AS pub_date
        |FROM documents d(i) CROSS JOIN range(6) t(k)
        |WHERE k <> 1
        |ORDER BY query, page, position, url""".stripMargin,

    // every branch of the template renderer is a pure doc_id concatenation:
    // path keeps '/', query encodes space+&, host lowercases and strips
    // '!', raw passes through, {{miss}}/{{q|upper}} stay verbatim, \{{
    // unescapes, and renderText leaves filters inert
    "q80_url_template" ->
      """SELECT doc_id,
        |  'https://api.example.org/a%20b/c' || doc_id || '/item?q=x%20y%26' || doc_id ||
        |    '&h=ex-' || doc_id || '.org&r=v' || doc_id ||
        |    '&m={{miss}}&u={{q|upper}}&e={{esc}}' AS rendered_url,
        |  't=x y&' || doc_id || ' h=EX-' || doc_id || '.Org! r=v' || doc_id ||
        |    ' m={{miss}}' AS rendered_text
        |FROM documents ORDER BY doc_id""".stripMargin,

    // independent recomputation: DuckDB's own base64/md5 builtins must
    // reproduce the JVM key scheme byte-for-byte
    "q81_kv_keys" ->
      """WITH v AS (
        |  SELECT doc_id,
        |    'job' || (doc_id % 5) AS job_id,
        |    'https://h' || doc_id || '.example.org/p/' || doc_id AS url
        |  FROM documents)
        |SELECT doc_id,
        |  'crawl-data-' || job_id || '-' || to_base64(encode(url)) AS crawl_key,
        |  'screenshot' || (CASE WHEN doc_id % 4 = 0 THEN '-fullPage' ELSE '' END) ||
        |    '-' || job_id || '-' || substr(md5(url), 1, 8) || '.jpeg' AS shot_key
        |FROM v ORDER BY doc_id""".stripMargin,

    // 5 http(s) links per page (fragment/mailto never count); honoring
    // nofollow keeps only the untagged a and e anchors, and a meta-robots
    // nofollow/none page (doc_id%5 in 0,1) contributes nothing
    "q82_nofollow_links" ->
      """SELECT doc_id,
        |  CAST(5 AS BIGINT) AS n_links,
        |  CAST(CASE WHEN doc_id % 5 IN (0, 1) THEN 0 ELSE 2 END AS BIGINT) AS n_followed,
        |  CASE WHEN doc_id % 5 IN (0, 1) THEN ''
        |    ELSE 'https://h' || doc_id || '.example.org/a,https://h' || doc_id || '.example.org/e'
        |  END AS followed
        |FROM documents ORDER BY doc_id""".stripMargin,

    // closed-form replay of the wave-split priority schedule (see the q83
    // query comment): canonical order within depth 1 is (priority, urlNorm),
    // seq is wave-major off a single host, generation advances every
    // 64 = waves*budget ranks
    "q83_crawl_priority" ->
      """WITH c AS (
        |  SELECT i, (i * 37) % 100 AS pr,
        |    'https://h0.example.test/c' || lpad(CAST(i AS VARCHAR), 3, '0') AS url
        |  FROM range(150) t(i)),
        |r AS (
        |  SELECT url, row_number() OVER (ORDER BY pr, url) - 1 AS rk FROM c)
        |SELECT 'rankjob' AS jobId, CAST(0 AS BIGINT) AS seq,
        |  'https://h0.example.test/p0' AS url,
        |  'https://h0.example.test/p0' AS urlNorm,
        |  CAST(0 AS INTEGER) AS depth, CAST(0 AS INTEGER) AS attempt,
        |  CAST(200 AS INTEGER) AS status, TRUE AS success, TRUE AS terminal,
        |  CAST(0 AS INTEGER) AS generation
        |UNION ALL
        |SELECT 'rankjob', CAST(rk + 1 AS BIGINT), url, url,
        |  CAST(1 AS INTEGER), CAST(0 AS INTEGER), CAST(200 AS INTEGER),
        |  TRUE, TRUE, CAST(1 + rk // 64 AS INTEGER)
        |FROM r
        |ORDER BY seq""".stripMargin,

    "q16_url_normalize" ->
      """SELECT doc_id,
        |  'https://host' || (doc_id % 40) || '.example.test/Path' || (doc_id % 7) || '/page?a=1&b=2' AS url_norm,
        |  'host' || (doc_id % 40) || '.example.test' AS host
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q17_ann_bruteforce" ->
      s"""SELECT vec_id, round(list_cosine_similarity(
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)),
         |    $annQuerySqlList), 4) AS score
         |FROM embeddings ORDER BY score DESC, vec_id ASC LIMIT 20""".stripMargin,

    // the locale CASE tables mirror GoogleData exactly: locale 6 (zh, CN)
    // remaps to HK (Google.ts:583), locale 7 (ru, no country) falls back to
    // the first file-order ru- region (ru-BY); the md5-derived async arc_id
    // is deterministic by construction on both sides
    "q27_serp_url_plan" ->
      """SELECT doc_id,
        |  'query ' || (doc_id % 7) AS query,
        |  (doc_id % 3) + 1 AS page,
        |  (doc_id % 8) AS locale_id,
        |  'https://' ||
        |  CASE (doc_id % 8) WHEN 2 THEN 'www.google.de' WHEN 3 THEN 'www.google.fr'
        |    WHEN 4 THEN 'www.google.co.jp' WHEN 5 THEN 'www.google.com.br'
        |    WHEN 6 THEN 'www.google.com.hk' WHEN 7 THEN 'www.google.by'
        |    ELSE 'www.google.com' END ||
        |  '/search?q=query+' || (doc_id % 7) ||
        |  '&start=' || ((doc_id % 3) * 10) ||
        |  '&hl=' || CASE (doc_id % 8) WHEN 2 THEN 'de-DE' WHEN 3 THEN 'fr-FR'
        |    WHEN 4 THEN 'ja-JP' WHEN 5 THEN 'pt-BR-BR' WHEN 6 THEN 'zh-CN-HK'
        |    WHEN 7 THEN 'ru-BY' ELSE 'en-US' END ||
        |  '&lr=' || CASE (doc_id % 8) WHEN 0 THEN 'en' WHEN 1 THEN 'lang_en'
        |    WHEN 2 THEN 'lang_de' WHEN 3 THEN 'lang_fr' WHEN 4 THEN 'lang_ja'
        |    WHEN 5 THEN 'lang_pt-BR' WHEN 6 THEN 'lang_zh-CN' ELSE 'lang_ru' END ||
        |  '&cr=country' || CASE (doc_id % 8) WHEN 2 THEN 'DE' WHEN 3 THEN 'FR'
        |    WHEN 4 THEN 'JP' WHEN 5 THEN 'BR' WHEN 6 THEN 'HK' WHEN 7 THEN 'BY'
        |    ELSE 'US' END ||
        |  '&ie=utf8&oe=utf8&filter=0&asearch=arc&async=arc_id%3Asrp_' ||
        |  substr(md5('query ' || (doc_id % 7) || '|' || ((doc_id % 3) * 10)), 1, 23) ||
        |  '_1' || CASE WHEN (doc_id % 3) = 0 THEN '00'
        |    ELSE CAST((doc_id % 3) * 10 AS VARCHAR) END ||
        |  '%2Cuse_ac%3Atrue%2C_fmt%3Aprog&num=10' AS task_url
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q30_extract_metadata" ->
      """SELECT doc_id,
        |  'Doc ' || doc_id AS title,
        |  (doc_id % 4) AS meta_cnt,
        |  (doc_id % 3) AS link_cnt,
        |  CASE WHEN (doc_id % 4) = 0 THEN '' ELSE 'v' || (doc_id % 5) END AS meta_contents
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q31_credit_cost" ->
      """SELECT user_id,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 5
        |    WHEN event_type = 'click' THEN 2 ELSE 1 END) AS BIGINT) AS credits_used,
        |  count(*) AS pages
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q29_robots_filter" ->
      """SELECT doc_id,
        |  'https://host1.example.test/p' || (doc_id % 10) || '.html' AS url,
        |  (doc_id % 10) NOT IN (1, 3) AS allowed
        |FROM documents ORDER BY doc_id""".stripMargin,

    // identical vectors share every LSH bucket, so the LSH candidate pass has
    // recall 1.0 on the planted cos=1 pairs and the brute-force SQL is an
    // exact oracle (no natural pair reaches cosine 0.95 in this corpus)
    "q21_embedding_neardup" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM (SELECT vec_id, embedding FROM embeddings
        |        UNION ALL SELECT vec_id + 100000, embedding FROM embeddings))
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(a.v, b.v), 4) AS cosine
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.95
        |ORDER BY id_a, id_b""".stripMargin,

    // closed-form regeneration of the planted minhash pair set (see the q18
    // query comment): kept groups g%3<>0 plant identical texts -> est 1.0
    "q18_minhash_lsh_pairs" ->
      """SELECT a.doc_id AS id_a, a.doc_id + 1 AS id_b,
        |  CAST(1.0 AS DOUBLE) AS est_jaccard
        |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |WHERE a.doc_id % 2 = 0 AND (a.doc_id // 2) % 3 <> 0
        |ORDER BY id_a, id_b""".stripMargin,

    // planted incremental matches (q72 query comment): copies -> est 1.0
    "q72_incremental_neardup" ->
      """SELECT doc_id + 10000000 AS delta_id, doc_id AS index_id,
        |  CAST(1.0 AS DOUBLE) AS est_jaccard
        |FROM documents WHERE doc_id % 5 = 0
        |ORDER BY delta_id, index_id""".stripMargin,

    // closed-form replay of the planted BPE segmentations (q73 comment)
    "q73_bpe_encode" ->
      """SELECT doc_id,
        |  CAST(CASE doc_id % 4 WHEN 0 THEN 2 WHEN 1 THEN 2 WHEN 2 THEN 2
        |    ELSE 3 END AS BIGINT) AS n_tokens,
        |  CASE doc_id % 4 WHEN 0 THEN 'abc abc' WHEN 1 THEN 'ab xy'
        |    WHEN 2 THEN 'c ab' ELSE 'z q ab' END AS encoded
        |FROM documents ORDER BY doc_id""".stripMargin,

    // planted simhash pairs (q19 query comment): kept groups g%4<>1 are
    // identical texts -> hamming 0
    "q19_simhash_pairs" ->
      """SELECT a.doc_id AS id_a, a.doc_id + 1 AS id_b, CAST(0 AS BIGINT) AS hamming
        |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |WHERE a.doc_id % 2 = 0 AND (a.doc_id // 2) % 4 <> 1
        |ORDER BY id_a, id_b""".stripMargin,

    // tiered shared-prefix pairs (q20 query comment): exact Jaccard is
    // (p-2)/(98-p) for prefix p = 50 - 6*(g%5)
    "q20_ngram_jaccard" ->
      """SELECT a.doc_id AS id_a, a.doc_id + 1 AS id_b,
        |  round(CASE ((a.doc_id // 2) % 5)
        |    WHEN 0 THEN CAST(48 AS DOUBLE) / 48
        |    WHEN 1 THEN CAST(42 AS DOUBLE) / 54
        |    WHEN 2 THEN CAST(36 AS DOUBLE) / 60
        |    WHEN 3 THEN CAST(30 AS DOUBLE) / 66
        |    ELSE CAST(24 AS DOUBLE) / 72 END, 4) AS jaccard
        |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |WHERE a.doc_id % 2 = 0
        |ORDER BY id_a, id_b""".stripMargin,

    // planted ANN neighbors (q22 query comment): top-20 is exactly the
    // planted set with closed-form cosines 0.999 - 0.001*j
    "q22_ann_lsh" ->
      """SELECT CAST(200000 + i AS BIGINT) AS vec_id,
        |  round(CAST(0.999 AS DOUBLE) - CAST(0.001 AS DOUBLE) * i, 4) AS score
        |FROM range(20) t(i)
        |ORDER BY score DESC, vec_id""".stripMargin,

    // exact IVF recomputation: same centroid rule (vec_id % 50 = 0), same
    // argmax assignment (sim desc, cid asc), same 4 probe lists, same
    // cosine — no by-construction shortcut
    "q37_ann_ivf" ->
      s"""WITH cent AS (
         |  SELECT vec_id AS cid,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
         |  FROM embeddings WHERE vec_id % 50 = 0
         |), probes AS (
         |  SELECT cid FROM (
         |    SELECT cid, ROW_NUMBER() OVER (
         |      ORDER BY list_cosine_similarity(cvec, $annQuerySqlList) DESC,
         |               cid ASC) AS rn
         |    FROM cent) WHERE rn <= 4
         |), assign AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT e.vec_id, c.cid, ROW_NUMBER() OVER (
         |      PARTITION BY e.vec_id
         |      ORDER BY list_cosine_similarity(
         |        list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
         |        c.cvec) DESC, c.cid ASC) AS rn
         |    FROM embeddings e CROSS JOIN cent c) WHERE rn = 1
         |)
         |SELECT e.vec_id,
         |  round(list_cosine_similarity(
         |    list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
         |    $annQuerySqlList), 4) AS score
         |FROM embeddings e
         |JOIN assign a ON e.vec_id = a.vec_id
         |JOIN probes p ON a.cid = p.cid
         |ORDER BY score DESC, e.vec_id ASC
         |LIMIT 20""".stripMargin,

    // closed-form regeneration of the SERP fixture's expected rows: kept
    // blocks are k in 0..7 minus the desc-less k=4; position advances only
    // over kept blocks (k+1 below the gap, k above it)
    "q23_serp_parse" ->
      """SELECT 'query ' || (doc_id % 7) AS query,
        |  (doc_id % 3) + 1 AS page,
        |  CASE WHEN k < 4 THEN k + 1 ELSE k END AS position,
        |  'web' AS category,
        |  'Title ' || doc_id || ' ' || k AS title,
        |  'https://site' || k || '.example.org/doc' || doc_id AS url,
        |  'Description ' || doc_id || ' ' || k || '.' AS description,
        |  'Google Search Result' AS source
        |FROM documents CROSS JOIN range(8) t(k)
        |WHERE k % 5 <> 4
        |ORDER BY query, page, position, url""".stripMargin,

    // mirrors syntheticMedia's closed-form GMB1 layout: image 9+w*h bytes,
    // audio 11+2*len, video 11+48*nf; every 41st payload corrupted (frames=0,
    // bytes unchanged); sampleFrameIndexes(stride 4) yields 1 index for
    // frames<=1 (sequence(0, greatest(frames-1, 0))) and (frames-1)/4+1 above
    "q25_multimodal_features" ->
      """WITH m AS (
        |  SELECT doc_id AS i,
        |    CASE (doc_id % 3) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
        |    (doc_id % 41) <> 0 AS ok,
        |    CASE (doc_id % 3)
        |      WHEN 0 THEN 9 + (8 + (doc_id*7) % 16) * (6 + (doc_id*5) % 16)
        |      WHEN 1 THEN 11 + 2 * (64 + (doc_id*11) % 256)
        |      ELSE 11 + 48 * (2 + (doc_id*3) % 8) END AS bytes,
        |    CASE WHEN (doc_id % 41) = 0 THEN 0
        |      WHEN (doc_id % 3) = 2 THEN 2 + (doc_id*3) % 8 ELSE 1 END AS frames
        |  FROM documents)
        |SELECT modality, count(*) AS cnt,
        |  CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS decoded_cnt,
        |  CAST(sum(bytes) AS BIGINT) AS total_bytes,
        |  CAST(sum(frames) AS BIGINT) AS total_frames,
        |  CAST(sum(CASE WHEN frames = 0 THEN 1 ELSE (frames-1)//4 + 1 END) AS BIGINT) AS total_sampled
        |FROM m GROUP BY modality ORDER BY modality""".stripMargin,

    // planted agreement matrix: language = doc_id % 8 over the detector's
    // sorted language list; digit-only rows (doc_id % 11 = 0) predict 'und'
    "q26_langid" ->
      """SELECT lang, pred, count(*) AS cnt FROM (
        |  SELECT CASE (doc_id % 8) WHEN 0 THEN 'de' WHEN 1 THEN 'en' WHEN 2 THEN 'es'
        |      WHEN 3 THEN 'fr' WHEN 4 THEN 'ja' WHEN 5 THEN 'pt' WHEN 6 THEN 'ru'
        |      ELSE 'zh' END AS lang,
        |    CASE WHEN (doc_id % 11) = 0 THEN 'und'
        |      ELSE CASE (doc_id % 8) WHEN 0 THEN 'de' WHEN 1 THEN 'en' WHEN 2 THEN 'es'
        |        WHEN 3 THEN 'fr' WHEN 4 THEN 'ja' WHEN 5 THEN 'pt' WHEN 6 THEN 'ru'
        |        ELSE 'zh' END END AS pred
        |  FROM documents) x
        |GROUP BY lang, pred ORDER BY lang, pred""".stripMargin,

    // the closed-form chunk walk (see the q32 query comment): chunk 0 is 4
    // full lines; middles carry 1 overlap line glued to the first added
    // line (one newline fewer -> 90 chars); the final chunk is overlap + 1
    // line (44) and ends on the trailing empty line's index (3d+5)
    "q32_text_chunks" ->
      """SELECT doc_id, j AS chunk_idx,
        |  CASE WHEN j = 0 THEN 0 WHEN j <= d THEN 3*j + 1 ELSE 3*d + 4 END AS start_line,
        |  CASE WHEN j = 0 THEN 3 WHEN j <= d THEN 3*j + 3 ELSE 3*d + 5 END AS end_line,
        |  CAST(CASE WHEN j <= d THEN 16 ELSE 8 END AS BIGINT) AS tokens,
        |  CAST(CASE WHEN j = 0 THEN 91 WHEN j <= d THEN 90 ELSE 44 END AS BIGINT) AS chunk_len
        |FROM (SELECT doc_id, doc_id % 10 AS d FROM documents) x
        |CROSS JOIN range(12) t(j)
        |WHERE j <= d + 1
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    // merged object regenerated field-by-field: title filled by the first
    // truthy chunk, lang kept from chunk 0, tags = first-occurrence dedup of
    // ["t(d+i)%4"] over i (min(n,4) distinct values in arrival order),
    // meta.a = last chunk's index (shallow-merge later-wins), skip dropped
    "q33_chunk_merge" ->
      """SELECT doc_id,
        |  '{"title":"T' || doc_id || '","lang":"en' || (doc_id % 3) || '","tags":[' ||
        |  string_agg('"t' || ((doc_id + j) % 4) || '"', ',' ORDER BY j) ||
        |  '],"meta":{"a":' || (n - 1) || ',"b":' || doc_id || '}}' AS merged
        |FROM (SELECT doc_id, (doc_id % 4) + 2 AS n FROM documents) x
        |CROSS JOIN range(4) t(j)
        |WHERE j < least(n, 4)
        |GROUP BY doc_id, n ORDER BY doc_id""".stripMargin,

    // the schema_norm / field_prompt literals below were hand-traced from
    // LLMExtract.ts:20-69 (normalize) and :176-205 (field prompt) for
    // Q34Schema — the oracle checks the code against the reference spec.
    // data: chunk lengths are 91 (first), 90 (each middle, d of them), 44
    // (last); title "" from chunk 0 is falsy-overwritten by the next chunk
    // (T90, or T44 when d=0), len keeps the first truthy 91, tags dedup
    // first-occurrence (91%7=0, 90%7=6, 44%7=2), meta shallow-merge keeps
    // the last chunk's {last:44}, and the null field never lands.
    "q34_llm_extract" ->
      ("""SELECT doc_id, CAST((doc_id % 10) + 2 AS BIGINT) AS chunks,
        |  CASE WHEN doc_id % 10 = 0
        |    THEN '{"title":"T44","len":91,"tags":["L0","L2"],"meta":{"last":44}}'
        |    ELSE '{"title":"T90","len":91,"tags":["L0","L6","L2"],"meta":{"last":44}}' END AS data,
        |  '{"type":"object","properties":{"title":{"type":"string","description":"Page title"},"tags":{"type":"object","properties":{"items":{"type":"array","items":{"type":"string"}}},"required":["items"],"additionalProperties":false},"author":{"type":"object","properties":{"name":{"type":"string"},"age":{"type":"number"}},"required":["name"],"additionalProperties":false}},"required":["title","tags","author"],"additionalProperties":false}' AS schema_norm,
        |  '- title (string): Page title""".stripMargin + "\n" +
        "- tags (object): \n" +
        "    - items (array of strings): \n" +
        "- author (object): \n" +
        "    - name (string): \n" +
        "    - age (number): ' AS field_prompt\n" +
        "FROM documents ORDER BY doc_id"),

    // rotation index rot = 3*doc_id + (attempt-1). host d%5==3 matches the
    // domain rule -> merged list [rule-proxy,t0a,t0b,t1a] rotation, tier
    // null. Otherwise attempt 1 -> tier 0 [t0a,t0b], attempt 2 -> tier 1
    // [t1a], attempt 3 asks tier 2 (invalid) -> fresh-domain prediction 0.
    "q35_proxy_plan" ->
      """SELECT doc_id, j AS attempt,
        |  CASE WHEN doc_id % 5 = 3 THEN NULL
        |       WHEN j = 2 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS tier,
        |  CASE WHEN doc_id % 5 = 3
        |    THEN list_extract(['rule-proxy','t0a','t0b','t1a'], CAST((3*doc_id + j - 1) % 4 AS INT) + 1)
        |    WHEN j = 2 THEN 't1a'
        |    ELSE list_extract(['t0a','t0b'], CAST((3*doc_id + j - 1) % 2 AS INT) + 1) END AS proxy,
        |  ((doc_id * 7919) % 30000) > 20000 AS timed_out
        |FROM documents CROSS JOIN range(1, 4) t(j)
        |ORDER BY doc_id, attempt""".stripMargin,

    // routing decision table replay (q84 query comment): NULL for the
    // unmatched and invalid shapes
    "q84_proxy_router" ->
      """SELECT doc_id,
        |  CASE doc_id % 8
        |    WHEN 0 THEN 'https://one.example.com/landing'
        |    WHEN 1 THEN 'https://ONE.example.com/landing'
        |    WHEN 2 THEN 'https://shop.example.com/p/' || doc_id
        |    WHEN 3 THEN 'https://sub.ads.test/banner'
        |    WHEN 4 THEN 'https://ads.test/x'
        |    WHEN 5 THEN 'https://shop.example.com/q'
        |    WHEN 6 THEN 'not a url at all'
        |    ELSE 'https://SHOP.example.com/P/9' END AS url,
        |  CASE doc_id % 8
        |    WHEN 0 THEN 'p-exact' WHEN 1 THEN 'p-late' WHEN 2 THEN 'p-pattern'
        |    WHEN 3 THEN 'p-ads' WHEN 4 THEN 'p-ads-root' WHEN 7 THEN 'p-pattern'
        |    END AS proxy
        |FROM documents ORDER BY doc_id""".stripMargin,

    // true quota recompute (q85 query comment): per-host delay from the
    // fixture arithmetic, domain mode takes the group max; no-delay and
    // no-robots hosts keep the base budget 8
    "q85_crawl_delay_quota" ->
      """WITH v AS (
        |  SELECT doc_id, CAST(doc_id % 3 AS INT) AS j, CAST(doc_id % 5 AS INT) AS k
        |  FROM documents
        |), delays AS (
        |  SELECT k, j, 1 + ((3 * k + j) % 7) AS d
        |  FROM (SELECT DISTINCT k, j FROM v) WHERE j < 2 AND k <= 3
        |), dm AS (
        |  SELECT k, max(d) AS dmax FROM delays GROUP BY k
        |)
        |SELECT v.doc_id, 'sub' || v.j || '.site' || v.k || '.test' AS host,
        |  CAST(CASE WHEN de.d IS NULL THEN 8
        |    ELSE least(8, greatest(1, 12 // de.d)) END AS BIGINT) AS budget_host,
        |  CAST(CASE WHEN dm.dmax IS NULL THEN 8
        |    ELSE least(8, greatest(1, 12 // dm.dmax)) END AS BIGINT) AS budget_domain
        |FROM v LEFT JOIN delays de ON de.k = v.k AND de.j = v.j
        |  LEFT JOIN dm ON dm.k = v.k
        |ORDER BY v.doc_id""".stripMargin,

    // independent filter recompute (q86 query comment): the include glob's
    // `https://site.test/docs/**` is a prefix pattern <=> LIKE with '/%',
    // the `/blog\/[0-9]+/i` literal <=> regexp_matches with the 'i' flag
    // (both find(), non-anchored), `**/private/**` <=> contains '/private/',
    // and the only ad-registrable host in the fixture is doubleclick.net
    "q86_link_filters" ->
      """WITH v AS (
        |  SELECT doc_id,
        |    CASE doc_id % 8
        |      WHEN 0 THEN 'https://site.test/docs/a/' || doc_id
        |      WHEN 1 THEN 'https://site.test/docs'
        |      WHEN 2 THEN 'https://site.test/BLOG/' || doc_id
        |      WHEN 3 THEN 'https://site.test/docs/private/' || doc_id
        |      WHEN 4 THEN 'https://ads.doubleclick.net/blog/55'
        |      WHEN 5 THEN 'https://site.test/x/' || doc_id
        |      WHEN 6 THEN 'https://site.test/docs/p?q=private'
        |      ELSE 'https://site.test/blog/' || doc_id END AS url
        |  FROM documents
        |), f AS (
        |  SELECT doc_id, url,
        |    (url LIKE 'https://site.test/docs/%'
        |      OR regexp_matches(url, 'blog/[0-9]+', 'i')) AS included,
        |    url LIKE '%/private/%' AS excluded,
        |    url LIKE '%doubleclick.net/%' AS ad_blocked
        |  FROM v
        |)
        |SELECT doc_id, url, included, excluded, ad_blocked,
        |  (included AND NOT excluded AND NOT ad_blocked) AS followed
        |FROM f ORDER BY doc_id""".stripMargin,

    // two-batch signed replay (q87 query comment): matches are exactly the
    // corpus-identical delta members, est 1.0, ids offset per batch
    "q87_incremental_signed" ->
      """SELECT * FROM (
        |  SELECT 'a' AS batch, doc_id + 10000000 AS delta_id, doc_id AS index_id,
        |    CAST(1.0 AS DOUBLE) AS est_jaccard
        |  FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT 'b', doc_id + 20000000, doc_id, CAST(1.0 AS DOUBLE)
        |  FROM documents WHERE doc_id % 10 = 5
        |) ORDER BY batch, delta_id, index_id""".stripMargin,

    // S2 decisions recomputed from the synthetic-resource construction:
    // blocked = |{i in 0..5 : (d+i)%3=0}| (a true recompute via range());
    // 'api' captured unless its slot collided with an ad or its body was
    // empty; 'asset' always has a non-ad, non-empty static hit
    "q36_browser_render" ->
      """SELECT d.doc_id, CAST(6 AS BIGINT) AS total_requests,
        |  count(*) FILTER (WHERE (d.doc_id + t.i) % 3 = 0) AS blocked_requests,
        |  CAST(30000 AS BIGINT) AS nav_timeout_ms,
        |  'domcontentloaded' AS wait_until,
        |  CASE WHEN (d.doc_id + d.doc_id % 6) % 3 <> 0 AND d.doc_id % 5 <> 4
        |    THEN 'api,asset' ELSE 'asset' END AS captured
        |FROM documents d CROSS JOIN range(0, 6) t(i)
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin,

    // closed-form extractor-output lengths for the synthesized pages
    // (t = len('Doc '||id), body = 12*((id%13)+1)-1): md = 3t+5+body,
    // text = t+2+body (the text wrapper replaces spaces with newlines)
    "q28_scrape_enrich" ->
      """SELECT 'https://docs.example.test/d' || doc_id || '.html' AS url,
        |  CAST(length('Doc ' || doc_id) AS BIGINT) AS title_len,
        |  CAST(3 * length('Doc ' || doc_id) + 5 + (12 * ((doc_id % 13) + 1) - 1) AS BIGINT) AS md_len,
        |  CAST(length('Doc ' || doc_id) + 2 + (12 * ((doc_id % 13) + 1) - 1) AS BIGINT) AS text_len
        |FROM documents ORDER BY url""".stripMargin
  )
}
