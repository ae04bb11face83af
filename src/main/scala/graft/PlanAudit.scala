package graft

import org.apache.spark.sql.SparkSession
import org.json4s.JsonDSL._

/**
 * Physical-plan audit: dumps `explain("formatted")` for signature queries and
 * greps the load-bearing properties (parquet pushdown, column pruning,
 * broadcast vs shuffle joins, whole-stage codegen spans) into PLANS.md so the
 * plan shape is reviewable without a Spark session.
 *
 * Usage: runMain graft.PlanAudit <sfDir> [outFile]
 */
object PlanAudit {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("PLANS.md")
    val spark = Tools.session(8, 32)

    val audited = Seq(
      "q01_pricing_summary"  -> "hash aggregate with partial (map-side) combine; scan prunes to 5 of 11 lineitem columns",
      "q02_region_orders"    -> "three broadcast hash joins — the orders fact never shuffles",
      "q03_topk_per_segment" -> "broadcast join + single window over segment partitions",
      "q04_customers_no_orders" -> "broadcast anti-join; o_totalprice filter pushed to the orders scan",
      "q09_politeness_topk"  -> "the scheduling shape: rank inside hash-partitioned windows",
      "q12_fingerprint"      -> "pure codegen projection — one WholeStageCodegen span over the scan",
      "q13_token_counts"     -> "regexp/array pipeline fully inside codegen",
      "q17_ann_bruteforce"   -> "cosine as codegen'd aggregate expressions + TakeOrderedAndProject (per-partition top-k heaps, no global sort)",
      "q18_minhash_lsh_pairs" -> "checkpointed signature table (a lazy local checkpoint: plan re-rooted at a LogicalRDD, blocks freed on GC, no session cache entry) feeds both sides of the band-bucket self-join",
      "q30_extract_metadata" -> "extraction-kernel UDF as a projection — doc_id is the only column read",
      "q37_ann_ivf"          -> "IVF: broadcast-centroid assignment + scoring as one dense kernel pass over the scan (no join, no shuffle), TakeOrderedAndProject top-k",
      "q38_decontaminate"    -> "eval-set shingles broadcast as the build side; corpus text never shuffles — only (doc, hit) rows reach the aggregate exchange",
      "q40_stratified_sample" -> "sampling is a pure filter over the scan: no exchange anywhere before the ordered output",
      "q42_curate"           -> "the composed pipeline never shuffles doc text: dedup exchanges narrow (hash,id)/(id,keep_id) pairs and rejoins on the id key; quality/sample ride codegen projections and repetition is a one-pass kernel UDF, all in the same projection",
      "q46_semdedup"         -> "Lloyd rounds precede the checkpointed root (broadcast centroids, k-by-dim partials — no data shuffle); the pairwise stage re-exchanges the checkpointed assigned frame by cluster id for the self-join and the keep-join carries only dropped ids",
      "q47_dsir_select"      -> "weight learning collapses to bounded driver-side arrays before the plan; scoring is ONE kernel scan over the checkpointed pool — no exchange anywhere before the ordered output",
      "q48_recrawl_delta"    -> "one url-keyed exchange pair into a single full-outer SortMergeJoin; only the narrow (url, hash, ts, interval) columns move — page bytes never reach a shuffle",
      "q49_media_dedup"      -> "the decode+aHash kernel sits BELOW the checkpointed root (one scan); above it only (media_id, modality, dedup_key) rows feed the cluster aggregate and the keep-join — payload bytes never shuffle",
      "q50_pack_shards"      -> "global prefix sum with NO Window operator anywhere: the checkpointed range partitioning feeds two kernel passes and a broadcast offset array — the naive orderBy window would put the whole corpus on one task",
      "q51_line_dedup"       -> "the rewrite is ONE object-map kernel pass over the doc scan with the broadcast frequent-line set — no posexplode, no reassembly exchange in the executed plan (the frequency agg ran as its own bounded job into a lazy local checkpoint, shuffling only 8-byte line hashes after map-side partial combine; no session cache entry)",
      "q52_domain_filter"    -> "stats partial-combine map-side into the checkpointed reputation frame (a lazy local checkpoint: LogicalRDD root, no session cache entry); the gate join reads docs ONCE and builds on the small stats side (broadcast)",
      "q56_inverted_index"   -> "ONE token-keyed exchange of per-(doc,token) partials; the bottom-K postings Aggregator runs as objectHashAgg with partial merge — no collect_list, buffers bounded at cap regardless of stopword skew",
      "q57_anchor_topk"      -> "link extraction + term counting in one kernel scan; only combined (target, term, cnt) partials reach the single target-keyed exchange, which serves BOTH the re-aggregate and the top-k window (no second hash exchange)",
      "q58_lm_fluency"       -> "scoring is a kernel pass with the pruned model broadcast — no join, no hash exchange anywhere before the output sort; training exchanges only (key, count) partials",
      "q61_sitemap_entries"  -> "one kernel scan over fetched bodies — zero exchange before the ordered output; index members fan out as rows, never recursion inside a task",
      "q62_passage_dedup"    -> "one corpus-text scan into the checkpointed fingerprint frame; stats = partial-combinable count/min HashAggregate (NO per-key Window); verdict join over narrow checkpointed rows only",
      "q63_trap_templates"   -> "host/template as a codegen regexp projection; ONE host-keyed hash exchange serves both the (host, template) aggregate and the host-total window — only the ordered output adds a range exchange",
      "q64_redirect_resolve" -> "pointer doubling: the visible plan is only the LAST of 7 doubling rounds — one left join over the checkpointed constant-width (u, cur, hops, done) frame — because every round re-roots at a LogicalRDD; a naive walk would stack 32 sequential joins into one plan",
      "q65_canonical_clusters" -> "the parse+resolve kernel runs BELOW the key exchange: only narrow (url, canonical) rows shuffle for the cluster aggregate and member join — page HTML never moves",
      "q66_charset_decode"   -> "pure per-row sniff+decode kernel over the scan — zero exchange before the ordered output",
      "q67_bpe_merges"       -> "the returned frame is the bounded driver-side merge list (LocalTableScan — one row per merge by design); the work ran in the per-ROUND jobs (batchK=8 accepts up to 8 symbol-disjoint merges per round — 64 merges in ~12 driver round-trips): ONE corpus-sized word-count shuffle up front, then per round a partial-combined pair aggregate over the checkpointed unique-word table ranked into a top-candTopM window (GlobalLimit over a sorted exchange) — only that window reaches the driver, acceptance is decided inside it",
      "q71_registrable_domain" -> "PSL matcher as a pure kernel projection — no exchange before the ordered output",
      "q72_incremental_neardup" -> "only the delta batch is shingled/signed; the banded index side joins on (band, bucket) with the delta build side — corpus text appears nowhere in the plan",
      "q73_bpe_encode"       -> "encode is one kernel pass (broadcast rank map, per-partition word cache) — zero exchange before the ordered output",
      "q74_link_hits"        -> "the visible plan is the LAST half-round (join + partial-agg + the 1-row normalizer crossJoin) over checkpointed roots — constant Catalyst size over any iteration count, the q44 property",
      "q75_domain_graph"     -> "PLD collapse below the single map-side-combined aggregate exchange; countDistinct adds its standard two-phase expand, never a second scan",
      "q76_rank_buckets"     -> "exact global rank with NO Window operator: checkpointed range partitioning + broadcast offsets (the q50 machinery), bucket as an integer-comparison projection",
      "q77_url_quality"      -> "URL scoring as a pure kernel projection over the scan — no exchange before the ordered output",
      "q78_serp_searxng"     -> "JSON parse + SERP row guards as one kernel pass over the doc scan (payloads synthesized in the projection, results exploded in place) — no exchange before the ordered output",
      "q79_serp_ac"          -> "same shape as q78 for the AC-engine backend: parse kernel + explode in one pass, zero pre-output exchange",
      "q80_url_template"     -> "template URL/query render as a pure kernel projection — no exchange before the ordered output",
      "q81_kv_keys"          -> "crawl-data base64 key and md5-prefix screenshot key as codegen'd/kernel projections over the scan — no join, no exchange",
      "q82_nofollow_links"   -> "extraction with nofollow hygiene is ONE kernel pass (link filtering happens inside the extract kernel, not as a downstream join)",
      "q83_crawl_priority"   -> "the returned frame is the committed trace read (parquet scan + sort); the SCHEDULING plan it exercised — politenessWaves x priorityOf wave-split salted windows — is captured live in 'q24 engine stage: schedule-wide' below (the audit crawl runs waves=2 WITH priorityOf set, i.e. the q83 path)",
      "q84_proxy_router"     -> "routing decision as a broadcast-rule-list UDF projection over the scan — zero exchange before the ordered output",
      "q85_crawl_delay_quota" -> "budget probes as broadcast-index UDF projections: the robots map collapses driver-side to a politeKey->max-delay map at plan build (crawlDelayIndex), so the plan holds NO robots join — two map probes per row",
      "q86_link_filters"     -> "include/exclude/ad-domain decisions as one kernel projection (compiled patterns ride the closure) — no exchange before the ordered output",
      "q87_incremental_signed" -> "two unioned batch outputs, each the q72 shape: delta-only signing, (band,bucket) equi-join against the index, corpus text nowhere in the plan; batches materialize via InMemory roots (the persist-then-unpersist daily-loop contract)",
      "q31_credit_cost"      -> "when()-chain cost folded inside a partial (map-side) hash aggregate",
      "q43_dup_clusters"     -> "CC of a pair set that fits one task: the checkpointed pairs (a LogicalRDD root, read once) feed ONE Coalesce(1) union-find MapPartitions task — no star round, no per-round exchange; only narrow (id, component) longs reach the keep-join's exchanges, never text",
      "q44_link_pagerank"    -> "integer PageRank: last round = one src-keyed partial-combined aggregate + the contribution join over checkpointed roots; degree folded before the loop, so rounds exchange only (id, rank) longs",
      "q45_curate_neardup"   -> "near-dup curation: LSH signing/banding confined to exact-dedup SURVIVORS (the keep-join sits below the signature UDF); band-bucket self-join exchanges narrow (band, bucket, id, sig) rows, and the checkpointed pairs are clustered by one Coalesce(1) union-find task — document text never shuffles")

    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan audit of signature queries\n\n")
    sb.append("Generated by `runMain graft.PlanAudit " + sfDir + "`. For each query: the\n")
    sb.append("property the plan must have for 100 TB viability, then the evidence lines\n")
    sb.append("from `explain(\"formatted\")` (scans with pushdown/pruning, join strategies,\n")
    sb.append("exchanges, codegen span count), then the full formatted plan.\n")

    // one section: the wanted property, the evidence lines (operators
    // named in `marks`) and the full plan
    def section(title: String, why: String, formatted: String, marks: Seq[String]): Unit = {
      sb.append(s"\n## $title\n\n**Wanted:** $why\n\n")
      val evidence = formatted.linesIterator.filter(l => marks.exists(l.contains))
        .map(_.trim).take(24).toSeq
      sb.append("```\n").append(evidence.mkString("\n")).append("\n```\n")
      sb.append("<details><summary>full plan</summary>\n\n```\n")
      sb.append(fullPlan(formatted))
      sb.append("\n```\n</details>\n")
    }
    val marks = Seq("Scan parquet", "PushedFilters", "ReadSchema", "Join", "Exchange",
      "WholeStageCodegen", "TakeOrderedAndProject", "InMemory")
    audited.foreach { case (name, why) =>
      section(name, why, SparkEntry.queries(name)(spark, sfDir).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode), marks)
    }

    // ---- q24 engine stages: the crawl's per-superstep plans are built
    // inside CrawlEngine (trace()'s own plan is just the committed parquet
    // read), so they are captured where they are built via
    // Settings.capturePlans and dumped here — BOTH gear paths: the
    // small-step/fast-expand plan a test-sized crawl takes, and the
    // salted-window + join-based wide path the 100 TB shape takes.
    val crawlStages = Seq(
      "fetch-join"           -> "RDD lineage, the same in every gear: exactly one shuffle, the frontier batch's, onto the cached corpus's url HashPartitioner; the corpus side is a narrow dependency on the persisted `pages` RDD, so it is never shuffled or re-hashed; each partition zips a hash map of its batch slice with its streamed corpus partition, a miss is a null-html row from the same pass — no Catalyst plan, broadcast, anti-join or union",
      "expand-fast"          -> "RDD lineage, no shuffle: pending rows, the batch's result keys, the raw link candidates (both read from the persisted extracted rows) and the seen keys are one RDD union coalesced into one task that builds the whole next frontier",
      "write"                -> "the generation's ONE write and, in the small gears, its only Catalyst plan: one InsertIntoHadoopFsRelationCommand partitioned by __kind over the union of the extracted rows and the next frontier, both RDD scans — no Exchange, no join, no cached relation",
      "schedule-wide"        -> "politeness + limit as SALTED two-phase windows (rank within (job, key, salt) pre-cut, then within (job, key)) — no single-partition window on a hot host; captured at politenessWaves=2 WITH priorityOf set (the q83 path): __wave is an integer projection off the rank, priority an ordinary sort column — neither adds a join or exchange",
      "expand-wide"          -> "candidate dedup shuffled by (jobId, urlNorm), then one exact left-anti join against the seen set (buckets ∪ frontier tail), the only seen filter; enqueue caps as the same salted two-phase windows")
    val plans = capturedCrawlPlans(spark)
    crawlStages.foreach { case (key, why) =>
      plans.get(key).foreach(section(s"q24 engine stage: $key", why, _, marks ++ Seq("Window", "Coalesce", "RDD[", "Execute")))
    }

    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.toString)
    println(Tools.json(("plan_audit" -> out) ~ ("queries" -> audited.size) ~ ("engine_stages" -> plans.size)))
    spark.stop()
  }

  /** `formatted` cut after its last whole line within 6,000 characters,
    * with a marker line when anything was cut: a cut mid-line makes a
    * regenerated section differ whenever expression ids change length. */
  private[graft] def fullPlan(formatted: String): String =
    if (formatted.length <= 6000) formatted
    else formatted.take(formatted.lastIndexOf('\n', 6000) max 0) +
      s"\n... (truncated at the last line break within 6000 of ${formatted.length} characters)"

  /** Two tiny SiteGen crawls with Settings.capturePlans on: default gears
    * (small-step schedule, fast expand) and forced-wide gears (salted
    * windows, wide expand) — merged so each stage key keeps its
    * first-captured plan (the fetch is the same in both). */
  private def capturedCrawlPlans(spark: SparkSession): Map[String, String] = {
    import graft.engine.{CrawlConfig, CrawlEngine}
    def run(st: CrawlEngine.Settings): Map[String, String] = {
      val work = java.nio.file.Files.createTempDirectory("plan-audit-crawl")
      val eng = new CrawlEngine(spark, graft.fixtures.SiteGen.corpusFrame(spark, 42L, 300, 6), work.toString,
        robotsBodies = graft.fixtures.SiteGen.robotsRows(6).toMap,
        settings = st)
      eng.run(Seq(CrawlConfig(
        jobId = "audit", seeds = Seq(graft.fixtures.SiteGen.pageUrl(0, 0)),
        strategy = "all", maxDepth = 12, limit = 150,
        hostBudgetPerStep = 64, politenessWaves = 2, respectRobots = true,
        // rank-guided frontier ON so the captured schedule plan is the q83
        // waves x priorityOf path (priority is a materialized frontier
        // column either way — the capture proves that, i.e. priorityOf
        // adds no join/exchange to the schedule)
        priorityOf = Some(u => -u.length.toLong))))
      val plans = eng.capturedPlans.toMap
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(work.toFile)
      plans
    }
    val base = CrawlEngine.Settings(capturePlans = true)
    val fastGear = run(base)
    val wideGear = run(base.copy(wideMinRows = 0L))
    fastGear ++ wideGear.view.filterKeys(k => !fastGear.contains(k)).toMap
  }
}
