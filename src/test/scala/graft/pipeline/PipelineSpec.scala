package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("pipeline-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank today"),   // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog near the river bank yesterday"), // near dup of 1
    (4L, "completely different content about spark catalyst optimizer internals and codegen"),
    (5L, "the quick brown fox jumps over the lazy dog near the river bank today now"), // near dup of 1
    (6L, "einige deutsche wörter und die katze ist nicht hier der hund und das haus")
  ).toDF("doc_id", "text")

  test("exact dedup keeps lowest id per content cluster") {
    val out = Dedup.exact(docs, "text", "doc_id").select("doc_id").as[Long].collect().sorted
    assert(out.toSeq == Seq(1L, 3L, 4L, 5L, 6L))
    val clusters = Dedup.exactClusters(docs, "text", "doc_id").collect()
    assert(clusters.length == 1 && clusters(0).getAs[Long]("cluster_size") == 2)
  }

  test("minhash LSH finds near-dups, not unrelated docs") {
    val pairs = Dedup.minhashLshPairs(docs, "text", "doc_id",
      numHashes = 32, bands = 16, shingleSize = 3, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))   // identical
    assert(pairs.exists(p => p._1 == 1L && (p._2 == 3L || p._2 == 5L)) ||
           pairs.contains((3L, 5L)))   // near dups found
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L)) // unrelated excluded
    assert(!pairs.exists(p => p._1 == 6L || p._2 == 6L))
  }

  test("incremental near-dup matches delta against the banded index only") {
    val index = Dedup.lshBands(
      Dedup.minhashSignatures(docs, "text", "doc_id", numHashes = 32), 32, 8)
    val delta = Seq(
      (101L, "the quick brown fox jumps over the lazy dog near the river bank today"), // copy of 1/2
      (102L, "unrelated fresh delta wording with entirely new vocabulary tokens only")
    ).toDF("doc_id", "text")
    val m = Dedup.incrementalNearDup(index, delta, "text", "doc_id",
        numHashes = 32, bands = 8, threshold = 0.5)
      .select("delta_id", "index_id").as[(Long, Long)].collect().toSet
    assert(m.contains((101L, 1L)) && m.contains((101L, 2L))) // exact copies matched
    assert(!m.exists(_._1 == 102L))                          // fresh text matches nothing
    assert(m.forall(_._1 >= 101L))                           // never corpus-vs-corpus

    // the long-lived-loop form: pre-built delta signatures give identical
    // matches, and unpersist() releases the cached signature frame so a
    // daily-delta session's executor storage stays O(one batch)
    val before = spark.sparkContext.getPersistentRDDs.size
    val frames = Dedup.signedFrames(delta, "text", "doc_id", numHashes = 32)
    val m2 = Dedup.incrementalNearDupSigned(index, frames,
        numHashes = 32, bands = 8, threshold = 0.5)
      .select("delta_id", "index_id").as[(Long, Long)].collect().toSet
    assert(m2 == m, "signed form must match the one-shot form exactly")
    frames.unpersist()
    assert(spark.sparkContext.getPersistentRDDs.size <= before,
      "unpersist must release the batch's cached frame")
  }

  test("signed daily-delta loop: executor storage is O(one batch) across cycles") {
    // the unbounded-loop contract (Dedup.incrementalNearDupSigned scaladoc,
    // exercised end-to-end by q87): sign batch -> match -> materialize ->
    // unpersist, three times against one index; the persistent-RDD census
    // must return to its pre-batch level after EVERY cycle, not just once.
    val index = Dedup.lshBands(
      Dedup.minhashSignatures(docs, "text", "doc_id", numHashes = 32), 32, 8)
    index.count() // materialize the long-lived index (and ITS cached frames) first
    val baseline = spark.sparkContext.getPersistentRDDs.size
    def settledSize(limit: Int): Int = {
      // Dataset.unpersist is non-blocking; give the async removal a moment
      var n = spark.sparkContext.getPersistentRDDs.size
      var waited = 0
      while (n > limit && waited < 5000) { Thread.sleep(100); waited += 100
        n = spark.sparkContext.getPersistentRDDs.size }
      n
    }
    (1 to 3).foreach { b =>
      val delta = Seq(
        (1000L * b + 1, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (1000L * b + 2, s"fresh wording of cycle $b with entirely new vocabulary tokens only")
      ).toDF("doc_id", "text")
      val frames = Dedup.signedFrames(delta, "text", "doc_id", numHashes = 32)
      val matches = Dedup.incrementalNearDupSigned(index, frames,
          numHashes = 32, bands = 8, threshold = 0.5)
        .select("delta_id", "index_id").as[(Long, Long)].collect().toSet
      assert(matches.contains((1000L * b + 1, 1L)), s"cycle $b lost the planted match")
      assert(!matches.exists(_._1 == 1000L * b + 2), s"cycle $b matched fresh text")
      frames.unpersist()
      assert(settledSize(baseline) <= baseline,
        s"cycle $b leaked cached frames: storage must stay O(one batch)")
    }
  }

  test("simhash pigeonhole banding finds all pairs within hamming distance") {
    val withSh = docs.map(r => (r.getLong(0), Dedup.simhash64(r.getString(1))))
      .toDF("doc_id", "simhash")
    val pairs = Dedup.simhashPairs(withSh, "simhash", "doc_id", maxDist = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // brute-force ground truth
    val rows = withSh.collect().map(r => (r.getLong(0), r.getLong(1)))
    val truth = (for {
      (ia, sa) <- rows; (ib, sb) <- rows
      if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (ia, ib)).toSet
    assert(pairs == truth)
    assert(truth.contains((1L, 2L))) // identical text -> identical simhash
  }

  test("ngram jaccard verifies candidate pairs exactly") {
    val pairs = Seq((1L, 2L), (1L, 4L)).toDF("id_a", "id_b")
    val out = Dedup.ngramJaccard(docs, pairs, "text", "doc_id", n = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(out((1L, 2L)) == 1.0)
    assert(out((1L, 4L)) < 0.05)
  }

  test("embedding cosine near-dup pairs via hyperplane LSH") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.1f)),
      (2L, Array(0.99f, 0.01f, 0.0f, 0.1f)),   // near dup of 1
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (4L, Array(-1.0f, 0.0f, 0.2f, 0.0f))
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingCosinePairs(vecs, "embedding", "vec_id", threshold = 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("ngramJaccard and embeddingCosinePairs leave no session cache entry behind") {
    val pairs = Seq((1L, 2L), (1L, 4L)).toDF("id_a", "id_b")
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.1f)),
      (2L, Array(0.99f, 0.01f, 0.0f, 0.1f)),
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    spark.catalog.clearCache()
    (1 to 4).foreach { _ =>
      assert(Dedup.ngramJaccard(docs, pairs, "text", "doc_id", n = 3).count() == 2)
      assert(Dedup.embeddingCosinePairs(vecs, "embedding", "vec_id", threshold = 0.95)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet == Set((1L, 2L)))
    }
    assert(spark.sharedState.cacheManager.isEmpty, "near-dup pair scoring left cache entries")
  }

  test("brute-force topK cosine and LSH recall") {
    val n = 200
    val dim = 16
    val vecs = spark.range(n).map { i =>
      val arr = Array.tabulate(dim)(d =>
        ((graft.fixtures.SiteGen.mix(i, d.toLong) % 1000L) / 500.0 - 1.0).toFloat)
      (i, arr)
    }.toDF("vec_id", "embedding")
    val q = (0 until dim).map(d =>
      (graft.fixtures.SiteGen.mix(999L, d.toLong) % 1000L) / 500.0 - 1.0)
    val exact = Similarity.bruteForceTopK(vecs, "embedding", "vec_id", q, 10)
      .select("vec_id").as[Long].collect().toSet
    assert(exact.size == 10)
    val approx = Similarity.lshTopK(vecs, "embedding", "vec_id", q, 10,
      planes = 8, probeRadius = 3)
      .select("vec_id").as[Long].collect().toSet
    val recall = (exact intersect approx).size.toDouble / 10
    assert(recall >= 0.5, s"LSH recall too low: $recall")
  }

  test("hoisted plane matrix: signatures bit-equal to the per-row-hash expression") {
    val n = 200
    val dim = 16
    val planes = 12
    val seed = 7L
    val vecs = spark.range(n).map { i =>
      val arr = Array.tabulate(dim)(d =>
        ((graft.fixtures.SiteGen.mix(i, d.toLong) % 1000L) / 500.0 - 1.0).toFloat)
      (i, arr)
    }.toDF("vec_id", "embedding")
    val mat = Similarity.planeMatrix(spark, planes, dim, seed)
    val both = vecs.select($"vec_id",
        Similarity.hyperplaneSignature($"embedding", planes, seed).as("slow"),
        Similarity.hyperplaneSignatureFast($"embedding", mat).as("fast"))
      .as[(Long, Long, Long)].collect()
    assert(both.forall(r => r._2 == r._3),
      s"signature mismatch: ${both.filter(r => r._2 != r._3).take(3).toSeq}")
  }

  test("IVF topK: recall vs brute force, probe pruning, oracle-equivalent assignment") {
    val n = 200
    val dim = 16
    val vecs = spark.range(n).map { i =>
      val arr = Array.tabulate(dim)(d =>
        ((graft.fixtures.SiteGen.mix(i, d.toLong) % 1000L) / 500.0 - 1.0).toFloat)
      (i, arr)
    }.toDF("vec_id", "embedding")
    val q = (0 until dim).map(d =>
      (graft.fixtures.SiteGen.mix(999L, d.toLong) % 1000L) / 500.0 - 1.0)
    val exact = Similarity.bruteForceTopK(vecs, "embedding", "vec_id", q, 10)
      .select("vec_id").as[Long].collect().toSet
    // centEvery=20 -> 10 lists; nprobe=4 scans <= ~40% of the corpus
    val ivf = Similarity.ivfTopK(vecs, "embedding", "vec_id", q, 10,
      centEvery = 20, nprobe = 4)
      .select("vec_id").as[Long].collect()
    assert(ivf.length == 10)
    assert(ivf.distinct.length == 10)
    val recall = (exact intersect ivf.toSet).size.toDouble / 10
    assert(recall >= 0.5, s"IVF recall too low: $recall")
    // nprobe = all lists ==> IVF is exhaustive and must equal brute force
    val full = Similarity.ivfTopK(vecs, "embedding", "vec_id", q, 10,
      centEvery = 20, nprobe = 10)
      .select("vec_id").as[Long].collect().toSet
    assert(full == exact, s"nprobe=K IVF must be exact: $full vs $exact")
    // determinism across runs (argmax ties broken by lowest cid)
    val again = Similarity.ivfTopK(vecs, "embedding", "vec_id", q, 10,
      centEvery = 20, nprobe = 4)
      .select("vec_id").as[Long].collect()
    assert(again.toSeq == ivf.toSeq)
  }

  test("IVF centroid collect is bounded for ANY corpus size") {
    // the pure stride rule: K = floor(maxId/stride)+1 <= maxCentroids for
    // arbitrarily large id spaces — provable without materializing rows
    for (maxId <- Seq(0L, 49L, 1000L, 1000000L, 10000000000L, Long.MaxValue / 2);
         centEvery <- Seq(1L, 50L, 1000L);
         maxCent <- Seq(1L, 4L, 1L << 20)) {
      val stride = Similarity.boundedCentEvery(maxId, centEvery, maxCent)
      assert(stride >= centEvery)
      assert(maxId / stride + 1 <= maxCent,
        s"K unbounded: maxId=$maxId centEvery=$centEvery maxCent=$maxCent stride=$stride")
    }
    // and the caller's stride is respected when already within bounds
    assert(Similarity.boundedCentEvery(999L, 50L, 1L << 20) == 50L)
    // integration: maxCentroids=4 on a 200-row corpus widens the stride so
    // at most 4 centroid vectors reach the driver
    val n = 200
    val dim = 16
    val vecs = spark.range(n).map { i =>
      val arr = Array.tabulate(dim)(d =>
        ((graft.fixtures.SiteGen.mix(i, d.toLong) % 1000L) / 500.0 - 1.0).toFloat)
      (i, arr)
    }.toDF("vec_id", "embedding")
    val stride = Similarity.boundedCentEvery(n - 1L, 20L, 4L)
    assert(stride == 50L)
    assert(Similarity.collectCentroids(vecs, "embedding", "vec_id", stride).length <= 4)
    // the capped query still returns a full, deterministic top-k
    val q = (0 until dim).map(d =>
      (graft.fixtures.SiteGen.mix(999L, d.toLong) % 1000L) / 500.0 - 1.0)
    val capped = Similarity.ivfTopK(vecs, "embedding", "vec_id", q, 10,
      centEvery = 20, nprobe = 4, maxCentroids = 4)
      .select("vec_id").as[Long].collect()
    assert(capped.length == 10)
    // nprobe >= list count makes the capped variant exhaustive => exact
    val exact = Similarity.bruteForceTopK(vecs, "embedding", "vec_id", q, 10)
      .select("vec_id").as[Long].collect().toSet
    assert(Similarity.ivfTopK(vecs, "embedding", "vec_id", q, 10,
      centEvery = 20, nprobe = 10, maxCentroids = 4)
      .select("vec_id").as[Long].collect().toSet == exact)
  }

  test("IVF centroid budget is byte-bounded at any dimension") {
    // the pure cap rule: cap * dim * 8 <= maxCentroidBytes whenever the
    // byte budget binds, for dimensions from tiny to embedding-sized
    for (dim <- Seq(1, 16, 64, 768, 4096);
         maxBytes <- Seq(64L, 1L << 20, 256L << 20);
         maxCent <- Seq(1L, 1024L, 1L << 20)) {
      val cap = Similarity.centroidCountCap(maxCent, maxBytes, dim)
      assert(cap >= 1 && cap <= maxCent)
      if (cap < maxCent) // byte budget bound => it must actually hold (or be the >=1 floor)
        assert(cap == 1L || cap * dim * 8 <= maxBytes,
          s"cap=$cap dim=$dim bytes=$maxBytes")
    }
    // dim 768 at the defaults: ~43k centroids, not 2^20 (~6 GB)
    assert(Similarity.centroidCountCap(1L << 20, 256L << 20, 768) == (256L << 20) / (768 * 8))
    // unknown dimension falls back to the count cap
    assert(Similarity.centroidCountCap(1L << 20, 256L << 20, 0) == 1L << 20)
    // integration: a 64-byte budget on dim-16 vectors (8 bytes/component
    // => 2 centroids max wins over maxCentroids=4); exhaustive nprobe
    // stays exact, and the driver-side collect respects the BYTE budget
    val n = 200
    val dim = 16
    val vecs = spark.range(n).map { i =>
      val arr = Array.tabulate(dim)(d =>
        ((graft.fixtures.SiteGen.mix(i, d.toLong) % 1000L) / 500.0 - 1.0).toFloat)
      (i, arr)
    }.toDF("vec_id", "embedding")
    val cap = Similarity.centroidCountCap(4L, 64L, dim)
    assert(cap == 1L) // 64 / (16*8) = 0 -> >=1 floor
    val cap2 = Similarity.centroidCountCap(4L, 256L, dim)
    assert(cap2 == 2L)
    val stride = Similarity.boundedCentEvery(n - 1L, 20L, cap2)
    val collected = Similarity.collectCentroids(vecs, "embedding", "vec_id", stride)
    assert(collected.length <= 2 && collected.length.toLong * dim * 8 <= 256L)
    val q = (0 until dim).map(d =>
      (graft.fixtures.SiteGen.mix(999L, d.toLong) % 1000L) / 500.0 - 1.0)
    val exact = Similarity.bruteForceTopK(vecs, "embedding", "vec_id", q, 10)
      .select("vec_id").as[Long].collect().toSet
    assert(Similarity.ivfTopK(vecs, "embedding", "vec_id", q, 10,
      centEvery = 20, nprobe = 10, maxCentroids = 4, maxCentroidBytes = 256L)
      .select("vec_id").as[Long].collect().toSet == exact)
  }

  test("IVF dimension probe: a null or short FIRST vector neither throws nor mis-sizes the byte cap") {
    val n = 200
    val dim = 16
    def vec(i: Long, d: Int): Array[Float] = Array.tabulate(d)(c =>
      ((graft.fixtures.SiteGen.mix(i, c.toLong) % 1000L) / 500.0 - 1.0).toFloat)
    def corpus(first: Array[Float]) =
      ((0L, first) +: (1L until n).map(i => (i, vec(i, dim)))).toDF("vec_id", "embedding")
    val q = (0 until dim).map(d =>
      (graft.fixtures.SiteGen.mix(999L, d.toLong) % 1000L) / 500.0 - 1.0)
    // 256 bytes hold two dim-16 centroids: the stride must come from the
    // LARGEST vector, whatever row comes first
    val want = Similarity.boundedCentEvery(n - 1L, 20L, Similarity.centroidCountCap(1L << 20, 256L, dim))
    assert(want == 100L)
    for (first <- Seq(null, vec(0L, 2))) {
      val vecs = corpus(first)
      val stride = Similarity.ivfStride(vecs, "embedding", "vec_id", 20L, 1L << 20, 256L)
      assert(stride == want, s"first vector ${Option(first).map(_.length)}")
      val cents = Similarity.collectCentroids(vecs, "embedding", "vec_id", stride)
      assert(cents.map(_._2.length * 8L).sum <= 256L)
      val top = Similarity.ivfTopK(vecs, "embedding", "vec_id", q, 10,
        centEvery = 20, nprobe = 10, maxCentroidBytes = 256L)
        .select("vec_id").as[Long].collect()
      assert(top.distinct.length == 10)
    }
    // a null vector scores 0.0 and is never a centroid; with every list
    // probed IVF is exhaustive, so it equals brute force
    val withNull = corpus(null)
    assert(!Similarity.collectCentroids(withNull, "embedding", "vec_id", 20L).exists(_._1 == 0L))
    val exact = Similarity.bruteForceTopK(withNull, "embedding", "vec_id", q, 10)
      .select("vec_id").as[Long].collect().toSet
    assert(Similarity.ivfTopK(withNull, "embedding", "vec_id", q, 10, centEvery = 20, nprobe = 10)
      .select("vec_id").as[Long].collect().toSet == exact)
  }

  test("IVF ingest-time assignment: partition-prunable lists, query parity") {
    val n = 200
    val dim = 16
    val vecs = spark.range(n).map { i =>
      val arr = Array.tabulate(dim)(d =>
        ((graft.fixtures.SiteGen.mix(i, d.toLong) % 1000L) / 500.0 - 1.0).toFloat)
      (i, arr)
    }.toDF("vec_id", "embedding")
    val q = (0 until dim).map(d =>
      (graft.fixtures.SiteGen.mix(999L, d.toLong) % 1000L) / 500.0 - 1.0)
    val cents = Similarity.collectCentroids(vecs, "embedding", "vec_id", 20L)
    val assigned = Similarity.ivfAssign(vecs, "embedding", "vec_id", cents)
    // keeps every input column and adds list_id; every row owned by a centroid
    assert(assigned.columns.toSeq == Seq("vec_id", "embedding", "list_id"))
    val listIds = assigned.select("list_id").as[Long].collect()
    assert(listIds.length == n)
    assert(listIds.toSet.subsetOf(cents.map(_._1).toSet))
    // query parity: the assigned path must return exactly ivfTopK's rows
    // (same stride, same probes, same scoring rule)
    val direct = Similarity.ivfTopK(vecs, "embedding", "vec_id", q, 10,
      centEvery = 20, nprobe = 4)
      .select("vec_id").as[Long].collect().toSeq
    val viaAssigned = Similarity.ivfTopKAssigned(assigned, "embedding", "vec_id",
      q, 10, cents, nprobe = 4)
      .select("vec_id").as[Long].collect().toSeq
    assert(viaAssigned == direct)
    // the probe filter survives a partitioned parquet round-trip as
    // partition PRUNING: only nprobe of the list directories are scanned
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivf").toFile
    try {
      assigned.write.partitionBy("list_id").parquet(tmp.getAbsolutePath + "/ivf")
      val onDisk = spark.read.parquet(tmp.getAbsolutePath + "/ivf")
      val viaDisk = Similarity.ivfTopKAssigned(onDisk, "embedding", "vec_id",
        q, 10, cents, nprobe = 4)
      assert(viaDisk.select("vec_id").as[Long].collect().toSeq == direct)
      val scan = viaDisk.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString("\n")
      assert(scan.contains("list_id"), s"expected list_id partition filter in scan:\n$scan")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(tmp)
    }
  }

  test("decontamination: distinct 13-gram hits, threshold, boundary non-hits") {
    val bench13 = (0 until 13).map(j => s"bt$j").mkString(" ")   // exactly 13 words -> 1 shingle
    val bench15 = (0 until 15).map(j => s"ct$j").mkString(" ")   // 15 words -> 3 shingles
    val bench = Seq(bench13, bench15, "short bench under thirteen words here").toDF("text")
    val docs = Seq(
      (1L, s"prefix words then $bench13 and a suffix"),            // 1 hit
      (2L, s"$bench15 trailing"),                                  // 3 hits
      (3L, (0 until 12).map(j => s"bt$j").mkString(" ") + " XX"),  // 12-of-13 prefix: 0 hits
      (4L, s"$bench13 $bench13"),                                  // repeated shingle counts once
      (5L, "no overlap at all in this document"),                  // 0 hits
      (6L, "short bench under thirteen words here")                // bench row <13 words -> no shingles
    ).toDF("doc_id", "text")
    val out = Decontaminate.flag(docs, "text", "doc_id", bench, "text", n = 13, minHits = 2)
      .orderBy("doc_id")
      .select("doc_id", "hits", "contaminated")
      .as[(Long, Long, Boolean)].collect().toSeq
    assert(out == Seq(
      (1L, 1L, false), (2L, 3L, true), (3L, 0L, false),
      (4L, 1L, false), (5L, 0L, false), (6L, 0L, false)))
  }

  test("gopher repetition rules: dup-line fraction, top-bigram fraction, keep") {
    val docs = Seq(
      (1L, "a a a b"),                      // bigrams: "a a","a a","a b" -> 2/3
      (2L, "x\ny\nx\n x "),                 // lines x,y,x,x -> 1 - 2/4 = 0.5
      (3L, "w1 w2 w3 w4 w5"),               // all bigrams unique -> 1/4
      (4L, "solo"),                         // <2 words -> 0.0
      (5L, ""),                             // empty -> 0.0 / 0.0
      (6L, "A a a B b")                     // case-folded: "a a" x2 of 4 -> 0.5
    ).toDF("doc_id", "text")
    val out = docs.select($"doc_id",
        round(TextAnalysis.dupLineFrac($"text"), 4).as("dlf"),
        round(TextAnalysis.topBigramFrac($"text"), 4).as("tbf"),
        TextAnalysis.gopherKeep($"text").as("keep"))
      .orderBy("doc_id")
      .as[(Long, Double, Double, Boolean)].collect().toSeq
    assert(out == Seq(
      (1L, 0.0, 0.6667, false),
      (2L, 0.5, 0.3333, false), // bigrams of [x,y,x,x] all unique -> 1/3; dlf kills it
      (3L, 0.0, 0.25, false),
      (4L, 0.0, 0.0, true),
      (5L, 0.0, 0.0, true),
      (6L, 0.0, 0.5, false)))
  }

  test("gopher kernel == Column-expression originals on 1000 fuzzed docs") {
    // the one-pass Scala kernel replaced the interpreted sort_array fold;
    // the originals survive as *Expr and serve as the independent oracle
    val rnd = new scala.util.Random(4242)
    val wsChars = Array(' ', '\t', '\n', '\u000B', '\f', '\r')
    val words = Array("the", "The", "aa", "b", "łóDŹ", "és", "日本", "x1",
      "reuse", "REUSE", "a-b", "..", "été")
    def doc(): String = {
      val sb = new StringBuilder
      val n = rnd.nextInt(120)
      var i = 0
      while (i < n) {
        if (rnd.nextInt(5) == 0) sb.append(wsChars(rnd.nextInt(wsChars.length)))
        else sb.append(words(rnd.nextInt(words.length)))
        if (rnd.nextInt(3) != 0) sb.append(wsChars(rnd.nextInt(wsChars.length)))
        i += 1
      }
      // salt in some repeated lines so dup-line paths fire
      if (rnd.nextInt(3) == 0) sb.append("\n dup line \n dup line \n")
      sb.toString
    }
    val docs = (1 to 1000).map(i => (i.toLong, doc())).toDF("doc_id", "text")
    val diff = docs.select(
        TextAnalysis.dupLineFrac($"text").as("kd"),
        TextAnalysis.topBigramFrac($"text").as("kt"),
        TextAnalysis.dupLineFracExpr($"text").as("ed"),
        TextAnalysis.topBigramFracExpr($"text").as("et"))
      .where($"kd" =!= $"ed" || $"kt" =!= $"et")
      .count()
    assert(diff == 0L, s"$diff fuzzed docs diverge between kernel and Column originals")
    // null text stays null (a filter must DROP a null-text row, as the
    // Column originals did — zeros would silently keep it)
    val nulls = Seq((1L, null: String), (2L, "a a a a")).toDF("doc_id", "text")
    assert(nulls.where(TextAnalysis.gopherKeep($"text")).count() == 0L)
    assert(nulls.where(TextAnalysis.dupLineFrac($"text").isNull).count() == 1L)
  }

  test("stratified sampling: deterministic, rate-accurate, monotone in rate") {
    val n = 20000
    val docs = spark.range(n)
      .select($"id".as("doc_id"),
        when($"id" % 2 === 0, "en").otherwise("de").as("lang"))
    val rates = Map("en" -> 0.3, "de" -> 0.1)
    val s1 = Sampling.stratifiedSample(docs, "doc_id", "lang", rates, salt = 42L)
      .as[(Long, String)].collect().toSet
    // determinism: identical selection on a re-run
    val s2 = Sampling.stratifiedSample(docs, "doc_id", "lang", rates, salt = 42L)
      .as[(Long, String)].collect().toSet
    assert(s1 == s2)
    // rate accuracy: xxhash64 uniformity within ~3 sigma of binomial
    val enKept = s1.count(_._2 == "en"); val deKept = s1.count(_._2 == "de")
    assert(math.abs(enKept - 3000) < 120, s"en kept $enKept, wanted ~3000")
    assert(math.abs(deKept - 1000) < 100, s"de kept $deKept, wanted ~1000")
    // monotone: raising one stratum's rate only ADDS members, and does not
    // change the other stratum's selection at all
    val s3 = Sampling.stratifiedSample(docs, "doc_id", "lang",
      Map("en" -> 0.6, "de" -> 0.1), salt = 42L).as[(Long, String)].collect().toSet
    assert(s1.subsetOf(s3))
    assert(s1.filter(_._2 == "de") == s3.filter(_._2 == "de"))
    // default rate 0: strata missing from the map are dropped entirely
    val s4 = Sampling.stratifiedSample(docs, "doc_id", "lang",
      Map("en" -> 0.3), salt = 42L).as[(Long, String)].collect().toSet
    assert(s4.forall(_._2 == "en") && s4 == s1.filter(_._2 == "en"))
  }

  test("PII scrub: counts, placeholders, precision-first non-matches") {
    val docs = Seq(
      (1L, "mail me at a.b+c@sub.example.co.uk or x@y.io thanks"),
      (2L, "call +1 555 123 4567 and also 020-7946-0958"),  // 3-4-4 grouping: not matched (precision-first)
      (3L, "server at 10.0.0.1 port 80, peer 192.168.1.1"),
      (4L, "version 1.2.3.4567 is not an ip, 3.14 is pi"),      // lookahead blocks
      (5L, "the year 555 1234 is not a phone (two groups only)"),
      (6L, "clean text with no pii at all"),
      (7L, "ping 192.168.100.200 now"),  // dotted quad PhoneRe would also match: IP wins, no double count
      (8L, "mail 1-555-123-4567@y.com ok") // phone-shaped local part: EMAIL wins, no phone count
    ).toDF("doc_id", "text")
    val out = docs.select($"doc_id",
        Redact.emailCount($"text").as("e"),
        Redact.phoneCount($"text").as("p"),
        Redact.ipv4Count($"text").as("i"),
        Redact.scrub($"text").as("s"))
      .orderBy("doc_id")
      .as[(Long, Int, Int, Int, String)].collect().toSeq
    assert(out.map(r => (r._1, r._2, r._3, r._4)) == Seq(
      (1L, 2, 0, 0), (2L, 0, 1, 0), (3L, 0, 0, 2),
      (4L, 0, 0, 0), (5L, 0, 0, 0), (6L, 0, 0, 0), (7L, 0, 0, 1),
      (8L, 1, 0, 0)))
    assert(out(0)._5 == "mail me at <EMAIL> or <EMAIL> thanks")
    assert(out(1)._5 == "call <PHONE> and also 020-7946-0958")
    assert(out(2)._5 == "server at <IP> port 80, peer <IP>")
    assert(out(5)._5 == "clean text with no pii at all")
    assert(out(6)._5 == "ping <IP> now")
    assert(out(7)._5 == "mail <EMAIL> ok")
  }

  test("curate: first-drop-stage attribution across all four stages") {
    // crafted so each stage fires for exactly one doc:
    val good = "the cat and the dog are in the park with a ball and the sun is out today" // quality-passing
    val docs = Seq(
      (1L, good, "en"),                       // kept (hash 7919 < 5000? see below)
      (2L, good, "en"),                       // exact dup of 1 -> dup
      (3L, "spark spark spark spark spark ok", "en"), // top-bigram 4/5 -> repetition
      (4L, "zz qq ww rr tt yy uu ii oo pp",  "en"),   // no stopwords -> low quality
      (5L, good + " extra", "de")             // de rate 0 -> sample
    ).toDF("doc_id", "text", "lang")
    // hash = doc_id (identity for the test), en rate 0.5 -> threshold 5000
    val out = Curate.curate(docs, "text", "doc_id", "lang",
        Map("en" -> 0.5, "de" -> 0.0), qualityMin = 0.5, hashCol = col("doc_id"))
      .orderBy("doc_id").as[(Long, String, String)].collect().toSeq
    assert(out == Seq(
      (1L, "en", "kept"), (2L, "en", "dup"), (3L, "en", "repetition"),
      (4L, "en", "quality"), (5L, "de", "sample")))
    val att = Curate.attrition(out.toDF("doc_id", "lang", "stage"))
      .as[(String, Long)].collect().toMap
    assert(att == Map("kept" -> 1L, "dup" -> 1L, "repetition" -> 1L,
      "quality" -> 1L, "sample" -> 1L))
  }

  test("curateNearDup: near-dup clusters resolved to one keeper between exact dedup and the gates") {
    // a 40-word base; doc 1 = base (leader), doc 2 = byte-exact copy (exact
    // dup), docs 3-4 = base + distinct 2-word tails (near-dups: Jaccard
    // ~0.90, above the 0.7 LSH threshold), doc 10 = unrelated text (kept)
    val base = (1 to 40).map(i => s"w${i}x").mkString(" ")
    val other = (1 to 40).map(i => s"z${i}q").mkString(" ")
    val docs = Seq(
      (1L, base, "en"),
      (2L, base, "en"),
      (3L, base + " tail3a tail3b", "en"),
      (4L, base + " tail4a tail4b", "en"),
      (10L, other, "en")
    ).toDF("doc_id", "text", "lang")
    val out = Curate.curateNearDup(docs, "text", "doc_id", "lang",
        Map("en" -> 1.0), qualityMin = -1.0, hashCol = lit(0L))
      .orderBy("doc_id").as[(Long, String, String)].collect().toSeq
    assert(out == Seq(
      (1L, "en", "kept"), (2L, "en", "dup"), (3L, "en", "neardup"),
      (4L, "en", "neardup"), (10L, "en", "kept")))
  }

  test("curateNearDup leaves no session cache entry behind") {
    // the MinHash frames minhashLshPairs owns are lazy local checkpoints,
    // freed on GC; cache() entries would stay until someone unpersisted them
    val base = (1 to 40).map(i => s"w${i}x").mkString(" ")
    val other = (1 to 40).map(i => s"z${i}q").mkString(" ")
    val docs = Seq((1L, base), (2L, base + " tail2a tail2b"), (3L, other))
      .toDF("doc_id", "text").withColumn("lang", lit("en"))
    spark.catalog.clearCache()
    (1 to 4).foreach { _ =>
      val out = Curate.curateNearDup(docs, "text", "doc_id", "lang",
          Map("en" -> 1.0), qualityMin = -1.0, hashCol = lit(0L))
        .select("doc_id", "stage").as[(Long, String)].collect().toMap
      assert(out == Map(1L -> "kept", 2L -> "neardup", 3L -> "kept"))
    }
    assert(spark.sharedState.cacheManager.isEmpty, "curateNearDup left cache entries")
  }

  test("token counts (ws + bpe-ish) and fingerprint") {
    val df = Seq((1L, "Hello, world! This is 42 tokens maybe."), (2L, "  ")).toDF("doc_id", "text")
    val out = df.select($"doc_id",
      TextAnalysis.tokenCountWs($"text").as("ws"),
      TextAnalysis.tokenCountBpe($"text").as("bpe"),
      TextAnalysis.fingerprintMd5($"text").as("fp")).collect()
    val r1 = out.find(_.getLong(0) == 1L).get
    assert(r1.getAs[Int]("ws") == 7)
    assert(r1.getAs[Int]("bpe") == 10) // Hello , world ! This is 42 tokens maybe .
    val r2 = out.find(_.getLong(0) == 2L).get
    assert(r2.getAs[Int]("ws") == 0)
    // fingerprint invariant under case/whitespace
    val fp2 = Seq((1L, "hello,   WORLD! this is 42 tokens maybe.")).toDF("doc_id", "text")
      .select(TextAnalysis.fingerprintMd5($"text")).head().getString(0)
    assert(r1.getAs[String]("fp") == fp2)
  }

  test("quality score orders real text above junk") {
    val df = Seq(
      (1L, "The quick brown fox jumps over the lazy dog, and the story continues with more readable text."),
      (2L, "@@@@ #### $$$$ %%%% ^^^^ &&&& **** (((( )))) @@@@ ####")
    ).toDF("doc_id", "text")
    val scores = df.select($"doc_id", TextAnalysis.qualityScore($"text").as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scores(1L) > 0.6)
    assert(scores(2L) < 0.3)
  }

  test("language id: scala + column variants agree on clear inputs") {
    val samples = Seq(
      ("the cat and the dog went to the house and it is good", "en"),
      ("der hund und die katze sind nicht in das haus", "de"),
      ("le chat et la maison est que les chiens", "fr"),
      ("这是一个测试文档我们有很多的中文内容在这里", "zh"))
    samples.foreach { case (text, want) =>
      assert(TextAnalysis.detectLanguage(text) == want, s"scala langid on $want")
    }
    val df = samples.toDF("text", "want")
      .withColumn("got", TextAnalysis.detectLanguageCol($"text"))
    assert(df.filter($"got" =!= $"want").count() == 0)
  }

  test("winnowing fingerprints detect containment") {
    val a = TextAnalysis.winnowing("the quick brown fox jumps over the lazy dog repeatedly in the park")
    val b = TextAnalysis.winnowing("prefix text then the quick brown fox jumps over the lazy dog repeatedly in the park and suffix")
    val c = TextAnalysis.winnowing("completely unrelated material about query optimizers and join strategies")
    assert((a intersect b).size.toDouble / a.size > 0.5)
    assert((a intersect c).size.toDouble / math.max(a.size, 1) < 0.2)
  }

  test("multimodal: modality-aware dedup clusters (aHash images/videos, exact audio)") {
    import Multimodal._
    import Multimodal.MediaCodec._
    // aHash: identical rasters collide, distinct noise rasters don't
    val a = Image(8, 6, Array.tabulate(48)(i => (i * 7).toByte))
    val b = Image(8, 6, Array.tabulate(48)(i => (i * 13 + 5).toByte))
    assert(aHash64(a) == aHash64(Image(8, 6, a.pixels.clone())))
    assert(aHash64(a) != aHash64(b))

    val s2 = spark; import s2.implicits._
    val base = Multimodal.syntheticMedia(spark, 30)
    val planted = base.union(base.filter(_.media_id % 4 == 1)
      .map(r => r.copy(media_id = r.media_id + 1000)))
    val out = Multimodal.dedupClusters(planted).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    (0L until 30L).foreach { i =>
      val (_, size, keep) = out(i)
      assert(keep, s"base id $i must be the keeper")
      assert(size == (if (i % 4 == 1) 2L else 1L), s"id $i cluster size")
    }
    (0L until 30L).filter(_ % 4 == 1).foreach { i =>
      val (_, size, keep) = out(i + 1000)
      assert(!keep && size == 2L, s"planted copy of $i")
    }
    // video thumbnail heuristic: same FIRST frame, different later frames
    // -> same dedup key (intentional near-dup semantics)
    val f0 = Array.tabulate(48)(i => (i * 3).toByte)
    val meta = MediaMeta("video", 0, 0, 0, 0L, "gmb1")
    val v1 = MediaRow(500L, "video", encodeVideo(8, 6, Seq(f0, Array.fill[Byte](48)(1))), meta)
    val v2 = MediaRow(501L, "video", encodeVideo(8, 6, Seq(f0, Array.fill[Byte](48)(9))), meta)
    val vOut = Multimodal.dedupClusters(s2.createDataset(Seq(v1, v2))).collect()
    assert(vOut.forall(_.getLong(2) == 2L) && vOut.count(_.getBoolean(3)) == 1)
    // audio keys on exact payload bytes: one sample flipped separates
    val am = MediaMeta("audio", 0, 0, 16000, 0L, "gmb1")
    val au1 = MediaRow(600L, "audio", encodeAudio(16000, Array[Short](1, 2, 3)), am)
    val au2 = MediaRow(601L, "audio", encodeAudio(16000, Array[Short](1, 2, 4)), am)
    val aOut = Multimodal.dedupClusters(s2.createDataset(Seq(au1, au2))).collect()
    assert(aOut.forall(r => r.getLong(2) == 1L && r.getBoolean(3)))
    // flat rasters: the mean-folded key keeps solid black and solid white
    // apart, while byte-identical flat images still merge
    val im = MediaMeta("image", 0, 0, 0, 0L, "gmb1")
    val black = encodeImage(8, 6, Array.fill[Byte](48)(0))
    val white = encodeImage(8, 6, Array.fill[Byte](48)(-1))
    val fOut = Multimodal.dedupClusters(s2.createDataset(Seq(
      MediaRow(700L, "image", black, im), MediaRow(701L, "image", white, im),
      MediaRow(702L, "image", black.clone(), im)))).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(fOut(700L) == ((2L, true)) && fOut(702L) == ((2L, false)))
    assert(fOut(701L) == ((1L, true)))
    // degenerate payloads key on exact bytes and never crash the task
    val degenerate = s2.createDataset(Seq(
      MediaRow(800L, "image", null, im),
      MediaRow(801L, "image", encodeImage(0, 0, Array.emptyByteArray), im),
      MediaRow(802L, "image", "garbage".getBytes, im)))
    val dOut = Multimodal.dedupClusters(degenerate).collect()
    assert(dOut.length == 3 && dOut.forall(r => r.getLong(2) == 1L && r.getBoolean(3)))
  }

  test("multimodal: GMB1 decode, features, resize, frame sampling, corrupt fallback") {
    import Multimodal._
    import Multimodal.MediaCodec._
    // codec round-trips
    val img = Image(4, 2, Array[Byte](0, 32, 64, 96, -128, -96, -64, -32))
    assert(decode(encodeImage(4, 2, img.pixels)).contains(img.copy(pixels = img.pixels)) ||
      decode(encodeImage(4, 2, img.pixels)).exists { case Image(4, 2, px) => px.sameElements(img.pixels); case _ => false })
    val au = encodeAudio(16000, Array[Short](100, -100, 200, -200))
    assert(decode(au).exists { case Audio(16000, ss) => ss.sameElements(Array[Short](100, -100, 200, -200)); case _ => false })
    // corrupt payloads decode to None, never throw
    assert(decode("not media".getBytes).isEmpty)
    assert(decode(encodeImage(4, 2, img.pixels).dropRight(3)).isEmpty)
    // real nearest-neighbor resize
    val big = Image(4, 4, Array.tabulate(16)(i => (i * 16).toByte))
    val small = resize(big, 2, 2)
    assert(small.w == 2 && small.h == 2 && small.pixels.length == 4)

    val media = Multimodal.syntheticMedia(spark, 30)
    val feats = Multimodal.extractFeatures(media, dim = 8).collect()
    assert(feats.length == 30)
    assert(feats.forall(_.feature.length == 8))
    assert(feats.forall(_.decodeOk))
    assert(feats.filter(_.modality == "video").forall(_.frames > 1))
    // features are REAL: image mean/std land in pixel range and differ by row
    val imgs = feats.filter(_.modality == "image")
    assert(imgs.forall(f => f.feature(0) >= 0f && f.feature(0) <= 255f))
    assert(imgs.map(_.feature(0)).distinct.length > 1)
    // deterministic
    val again = Multimodal.extractFeatures(Multimodal.syntheticMedia(spark, 30), dim = 8).collect()
    assert(feats.sortBy(_.media_id).zip(again.sortBy(_.media_id))
      .forall { case (x, y) => x.feature.sameElements(y.feature) })
    // REAL frame sampling: every stride-th decoded frame with its raster mean
    val sampled = Multimodal.sampleFrames(media, stride = 2).collect()
    assert(sampled.nonEmpty)
    assert(sampled.forall(_.frameIdx % 2 == 0))
    val byId = feats.filter(_.modality == "video").map(f => f.media_id -> f.frames).toMap
    sampled.groupBy(_.media_id).foreach { case (id, fs) =>
      assert(fs.length == (byId(id) + 1) / 2)
    }
    // corrupt rows flow through flagged, not failing
    val s2 = spark; import s2.implicits._
    val bad = s2.createDataset(Seq(MediaRow(99L, "image", "garbage".getBytes,
      MediaMeta("image", 0, 0, 0, 0L, "gmb1"))))
    val badF = Multimodal.extractFeatures(bad, dim = 8).collect()
    assert(badF.length == 1 && !badF(0).decodeOk && badF(0).frames == 0)
    // frame-index column op still works over the features frame
    val idx = Multimodal.sampleFrameIndexes(
      Multimodal.extractFeatures(media, dim = 8).toDF(), "frames", 5)
    assert(idx.select(size($"sampled_frames")).as[Int].collect().forall(_ >= 1))
  }
}
