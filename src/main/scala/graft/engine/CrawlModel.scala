package graft.engine

import graft.core.{Extractor, UrlOps}

/**
 * Typed data model of the Spark-native crawl engine (SURVEY §1.1): the
 * frontier is a TABLE of [[FrontierEntry]], not a queue; progress is an
 * aggregate, not a Redis hash.
 */

/** One URL awaiting fetch. `priority` encodes FIFO discovery order within a
  * depth generation: `parentSeq * 4096 + linkIndex` (seeds: seed index).
  * Canonical crawl order = (depth ASC, priority ASC, urlNorm ASC) — this
  * replaces the reference's race-dependent Crawlee queue order with a
  * reproducible one (SURVEY §2.5 W2). */
final case class FrontierEntry(
    jobId: String,
    url: String,
    urlNorm: String,
    host: String,
    depth: Int,
    priority: Long,
    parentUrl: String,
    attempt: Int)

/** One fetch attempt's outcome (a row of the results table).
  * `seq` is the canonical fetch-order sequence number within the job. */
final case class PageResult(
    jobId: String,
    seq: Long,
    url: String,
    urlNorm: String,
    host: String,
    depth: Int,
    attempt: Int,
    status: Int,          // 200 | 404 (corpus-join model, SURVEY §2.1 S1)
    success: Boolean,
    terminal: Boolean,    // false => will be retried next generation
    title: String,
    markdown: String,
    text: String,
    htmlClean: String,
    linkCount: Int,
    generation: Int)

/** Crawl job configuration — the typed analog of the reference's
  * `crawl_options` (managers/Queue.ts:27-34 + CrawlSchema.ts:6-101). */
final case class CrawlConfig(
    jobId: String,
    seeds: Seq[String],
    strategy: String = "same-domain",          // all|same-domain|same-hostname|same-origin
    maxDepth: Int = 10,                         // CrawlSchema default
    limit: Int = 100,                           // CrawlSchema default (max 50000)
    includePaths: Seq[String] = Nil,
    excludePaths: Seq[String] = Nil,
    hostBudgetPerStep: Int = Int.MaxValue,      // politeness: fetches/host/wave
    // Politeness waves batched per superstep (commit cadence decoupled from
    // politeness epochs). A wave is one politeness epoch: at most
    // hostBudgetPerStep fetches per host. A superstep schedules up to
    // `politenessWaves` consecutive waves off the COMMITTED frontier — wave w
    // takes the rows ranked [w*B, (w+1)*B) per (job, host) in canonical
    // order, and seq numbering is wave-major. At 1 this is exactly the
    // classic one-wave BSP step. Raising it amortizes the per-superstep
    // fixed cost (2 writes + a manifest commit + ~6 driver job round-trips)
    // across W epochs when the frontier is small/latency-bound — checkpoint
    // granularity coarsens to W waves, politeness per epoch is unchanged.
    politenessWaves: Int = 1,
    respectRobots: Boolean = false,
    userAgent: String = "graftbot",
    maxAttempts: Int = 3,                       // BullMQ budget (Queue.ts:83)
    formats: Extractor.Formats = Extractor.Formats(),
    filterAdDomains: Boolean = false,
    // job creation time; 0 = no expiry. Jobs expire jobTtlMs after creation
    // (PostgreSQL.ts:79 default NOW()+3h; swept by Worker.ts:238-329)
    createdAtMs: Long = 0L,           // P7 (EngineConfigurator.ts:166-190)
    // frontier-hygiene trap gate (graft.frontier.Traps semantics, engine-
    // integrated): once a (host, path-template) family of this job has
    // trapMaxUrls URLs enqueued, further candidates from that family are
    // dropped at expansion. 0 = disabled — the default, and the reference
    // has no such gate (additive surface), so crawl traces stay reference-
    // exact unless a job opts in. The gate reads COMMITTED state, refreshed
    // before every superstep, so it lags by one generation (BSP-inherent):
    // overshoot is bounded by one generation's enqueues, never unbounded.
    trapMaxUrls: Int = 0,
    // sitemap fan-out (sitemaps.org discovery, Sitemap.scala): when a
    // fetched body's root tag is <urlset>/<sitemapindex>, its entries —
    // member sitemaps AND page locs — become the page's out-links, so index
    // expansion runs as ordinary BSP frontier rounds through the same
    // scope/depth/robots/trap gates. Off by default (the reference's crawl
    // has no sitemap channel; traces stay reference-exact unless opted in).
    // A malformed sitemap yields zero fan-out rather than a crashed crawl
    // (the standalone Sitemap reader stays loud); plain-text sitemaps are
    // not detectable in-band and remain a file-drop-only format.
    parseSitemaps: Boolean = false,
    // robots Crawl-delay honoring, batch-mode (C2×C3): one politeness wave
    // models a wall-clock epoch of this many seconds, so a host whose
    // robots declares `Crawl-delay: D` gets its per-wave budget capped at
    // max(1, floor(epoch / D)), composed (min) with hostBudgetPerStep —
    // exactly how cycle-based crawlers (Nutch's generate/fetch loop)
    // translate the directive into per-cycle quotas. The >= 1 floor is the
    // batch approximation: a production superstep spans minutes, so
    // epoch >> D; starving a host whose delay exceeds the epoch would
    // deadlock its subtree instead of merely slowing it. 0 = off (the
    // default — the reference's Crawlee loop enforces delay in wall-clock
    // between requests, which a BSP trace cannot observe, so traces stay
    // reference-exact unless a job opts in).
    crawlDelayEpochSeconds: Double = 0.0,
    // rel=nofollow / meta-robots-nofollow honoring: when on, an anchor whose
    // rel tokens include `nofollow` contributes no out-link, and a page whose
    // `<meta name="robots">` carries `nofollow` (or `none`) contributes NO
    // out-links at all — classic link-graph hygiene for a polite crawler.
    // Off by default: the reference's Crawlee enqueueLinks follows nofollow
    // links (Base.ts:362-403 has no rel check), so traces stay reference-
    // exact unless a job opts in. Filtering happens in the extract kernel,
    // so an opted-in job's `links` format reports followable links only —
    // the same set the frontier expands (one definition, no divergence).
    honorNofollow: Boolean = false,
    // rank-guided frontier (the north-star "priority frontier" in its
    // opt-in general form): when set, a FRESH frontier entry's priority is
    // priorityOf(urlNorm) instead of FIFO discovery order — e.g. negated
    // PageRank fixed-point ranks (Graph.pageRankFixedPoint) or OPIC cash,
    // precomputed from a prior crawl's link graph. Canonical order stays
    // (depth ASC, priority ASC, urlNorm ASC): lower value = fetched
    // earlier within its depth; determinism and resume are unchanged
    // because priority is materialized in the frontier rows (retries keep
    // theirs). The function ships in task closures — it must be
    // serializable and PURE; at deployment scale back it with a broadcast
    // (urlNorm -> rank) map, with a constant default for unranked URLs.
    // None = FIFO (the default, reference-exact traces).
    priorityOf: Option[String => Long] = None,
    // per-page result hook (§2.10): the analog of the reference's
    // `EngineOptions.requestHandler` (types/engine.ts:25-26) — a PURE,
    // serializable function applied to every SUCCESSFUL page's result
    // inside the extract kernel, before the results write. The hook sees
    // the typed PageResult view (content + identity fields); only the
    // CONTENT fields it returns (title, markdown, text, htmlClean) are
    // merged back — scheduling identity (seq/depth/status/...) is
    // engine-owned and ignored if modified, so the canonical crawl order
    // and the trace are unchanged BY CONSTRUCTION, hook or not. Runs
    // executor-side in task closures (like priorityOf); at deployment
    // scale any lookup state it closes over should be a broadcast.
    // None = identity (the default, byte-exact results).
    pageHook: Option[PageResult => PageResult] = None,
    // politeness grouping at SITE granularity: when on, the per-step fetch
    // budget is keyed by the registrable domain (core/Psl eTLD+1) instead
    // of the hostname — a crawler that hits a.shop.example and
    // b.shop.example concurrently is still hammering one site (and one
    // origin server, usually). Grouping only: canonical order, waves and
    // the limit cut are unchanged. The robots Crawl-delay quota for a
    // group is the most conservative member's: the max Crawl-delay (= min
    // per-wave budget) across the group's robots-known hosts, so a strict
    // subdomain governs the shared budget (CrawlEngine.effectiveBudget).
    // Off by default:
    // the reference's Crawlee politeness is per-host (its
    // maxConcurrency/sameDomainDelay operate on the queue's unique-key
    // host), so traces stay reference-exact unless a job opts in.
    politenessByDomain: Boolean = false) {

  /** Scope keys of the seed set, precomputed once on the driver and shipped
    * in the closure (P2: strategy filter). */
  lazy val seedHosts: Set[String] = seeds.map(UrlOps.host).toSet
  lazy val seedDomains: Set[String] = seeds.map(UrlOps.registrableDomain).toSet
  lazy val seedOrigins: Set[String] = seeds.map(UrlOps.origin).toSet

  def inScope(url: String): Boolean = (strategy match {
    case "all" => true
    case "same-hostname" => seedHosts.contains(UrlOps.host(url))
    case "same-origin" => seedOrigins.contains(UrlOps.origin(url))
    case _ => seedDomains.contains(UrlOps.registrableDomain(url)) // same-domain
  }) && (!filterAdDomains || !CrawlConfig.isAdUrl(url))
}

object CrawlConfig {
  /** Batch-mode Crawl-delay quota (see `crawlDelayEpochSeconds`): the
    * per-wave budget for a host declaring `delay`, composed (min) with the
    * base per-host budget. Total: non-positive epoch or absent/non-positive
    * delay leaves the base budget untouched. */
  def hostBudgetWithDelay(base: Long, epochSeconds: Double, delay: Option[Double]): Long =
    if (epochSeconds <= 0) base
    else delay.filter(_ > 0).fold(base) { d =>
      math.min(base, math.max(1L, (epochSeconds / d).toLong))
    }

  /** Common ad/tracking domains (the shape of the reference's blocklist at
    * libs/src/constants.ts:4-18 — a data list, re-derived from public
    * knowledge of ubiquitous ad hosts). */
  val AdDomains: Set[String] = Set(
    "doubleclick.net", "googlesyndication.com", "googleadservices.com",
    "google-analytics.com", "googletagmanager.com", "adnxs.com",
    "adsrvr.org", "amazon-adsystem.com", "criteo.com", "taboola.com",
    "outbrain.com", "scorecardresearch.com", "quantserve.com")

  def isAdUrl(url: String): Boolean = {
    val d = UrlOps.registrableDomain(url)
    d.nonEmpty && AdDomains.contains(d)
  }
}

/** Per-job progress counters — the BSP replacement for the reference's Redis
  * hash `crawl:{jobId}` (managers/Progress.ts:7-23). Updated only at
  * superstep barriers, so no Lua/CAS atomicity is needed (SURVEY §2.4 A3). */
final case class JobProgress(
    jobId: String,
    enqueued: Long = 0,
    done: Long = 0,
    succeeded: Long = 0,
    failed: Long = 0,
    creditsUsed: Long = 0,     // A4: per-page credit cost (Progress.ts:178-255)
    finalized: Boolean = false,
    finalizeReason: String = "") {

  /** Progress.ts:285-311 finalize predicate, barrier-evaluated. */
  def shouldFinalize(limit: Int, pendingInFrontier: Long): (Boolean, String) =
    if (limit > 0 && done >= limit) (true, "limit-reached")
    else if (pendingInFrontier == 0 && enqueued > 0 && done >= enqueued) (true, "frontier-exhausted")
    else if (pendingInFrontier == 0) (true, "frontier-empty")
    else (false, "")
}
