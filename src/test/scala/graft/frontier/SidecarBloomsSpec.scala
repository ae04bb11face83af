package graft.frontier

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/**
 * The 10^7-key sidecar run the round-2 VERDICT asked for: per-bucket shard
 * filters built entirely executor-side from committed parquet, probed
 * shard-locally — the driver never constructs, merges, or broadcasts a
 * filter. The only filter bytes a driver sees in this spec are the ones the
 * TEST loads to verify file contents.
 */
class SidecarBloomsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("sidecar-blooms-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("1e7-key bucket: no false negatives, bounded fpp, sharded files, no driver filter") {
    import spark.implicits._
    val n = 10000000
    val shards = 8
    val bucketDir = Files.createTempDirectory("sidecar-bucket").toString + "/bucket=0-3-L0"
    spark.range(n)
      .select(lit("job").as("jobId"), concat(lit("https://h.example.test/p"), $"id").as("urlNorm"))
      .repartition(8)
      .write.parquet(bucketDir)
    val hconf = spark.sessionState.newHadoopConf()
    val confB = spark.sparkContext.broadcast(new graft.core.SerializableHadoopConf(hconf))
    SidecarBlooms.buildForBucket(spark, bucketDir, shards, fpp = 0.01,
      committedRows = n.toLong, nonce = "t0", confB = confB)

    // one sidecar file per shard, each a fraction of the whole filter
    val sizes = (0 until shards).map { s =>
      val p = Paths.get(SidecarBlooms.shardFilePath(bucketDir, s, "t0"))
      assert(Files.exists(p), s"missing sidecar for shard $s")
      Files.size(p)
    }
    val total = sizes.sum
    assert(sizes.forall(_ < total / 2), s"sharding not real: sizes=$sizes")

    // no false negatives: every inserted key must probe maybe-seen
    val dirs = Seq(bucketDir)
    var i = 0
    var misses = 0
    while (i < n) {
      val h = SeenBloom.hash64("job-https://h.example.test/p" + i)
      if (!SidecarBlooms.mightContain(dirs, h, shards, "t0", hconf)) misses += 1
      i += 1
    }
    assert(misses == 0, s"$misses bloom false negatives")

    // absent keys: realized fpp within 3x of advertised
    var fp = 0
    val absentN = 1000000
    i = 0
    while (i < absentN) {
      val h = SeenBloom.hash64("job-https://absent.example.test/q" + i)
      if (SidecarBlooms.mightContain(dirs, h, shards, "t0", hconf)) fp += 1
      i += 1
    }
    assert(fp.toDouble / absentN < 0.03, s"fpp ${fp.toDouble / absentN} over budget")
  }

  test("missing sidecar file degrades to maybe-seen (pure pre-filter, never false negatives)") {
    val dir = Files.createTempDirectory("sidecar-missing").toString + "/bucket=0-1-L0"
    Files.createDirectories(Paths.get(dir))
    // no _blooms written at all -> every probe must answer maybe
    assert(SidecarBlooms.mightContain(Seq(dir), 12345L, 8, "t0",
      spark.sessionState.newHadoopConf()))
  }

  test("taskLocalProbe matches mightContain exactly (present, absent, and missing-file keys)") {
    import spark.implicits._
    val shards = 4
    val root = Files.createTempDirectory("sidecar-probe-eq").toString
    val built = root + "/bucket=0-0-L0"     // has sidecar files
    val bare = root + "/bucket=0-1-L0"      // committed parquet, NO sidecars
    val hconf = spark.sessionState.newHadoopConf()
    spark.range(20000)
      .select(lit("job").as("jobId"), concat(lit("https://eq.example.test/p"), $"id").as("urlNorm"))
      .repartition(2).write.parquet(built)
    Files.createDirectories(Paths.get(bare))
    SidecarBlooms.buildForBucket(spark, built, shards, fpp = 0.01,
      committedRows = 20000L, nonce = "eq", confB =
        spark.sparkContext.broadcast(new graft.core.SerializableHadoopConf(hconf)))
    // serialize the probe (it ships in a UDF closure in production) before use
    def roundTrip[T <: AnyRef](t: T): T = {
      val bos = new java.io.ByteArrayOutputStream()
      val oos = new java.io.ObjectOutputStream(bos); oos.writeObject(t); oos.close()
      new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bos.toByteArray))
        .readObject().asInstanceOf[T]
    }
    // production passes a broadcast-backed thunk; a SerializableHadoopConf
    // capture is the same serializable shape
    val sconf = new graft.core.SerializableHadoopConf(hconf)
    for (dirs <- Seq(Array(built), Array(bare), Array(built, bare))) {
      val probe = roundTrip(SidecarBlooms.taskLocalProbe(dirs, shards, "eq", () => sconf.value))
      val keys =
        (0 until 20000).map(i => SeenBloom.hash64("job-https://eq.example.test/p" + i)) ++
        (0 until 20000).map(i => SeenBloom.hash64("job-https://no.example.test/q" + i))
      keys.foreach { h =>
        assert(probe(h) ===
          SidecarBlooms.mightContain(dirs.toSeq, h, shards, "eq", hconf),
          s"probe/mightContain divergence for dirs=${dirs.mkString(",")} h=$h")
      }
      // any bucket missing its sidecar forces maybe-seen on every key
      if (dirs.contains(bare)) assert(keys.forall(probe(_)))
    }
  }

  test("nonce keys the executor cache: a recreated bucket at the same path is never served stale") {
    import spark.implicits._
    val shards = 4
    val root = Files.createTempDirectory("sidecar-reuse").toString
    val bucketDir = root + "/bucket=0-0-L0"
    val hconf = spark.sessionState.newHadoopConf()
    def build(keyPrefix: String, nonce: String): Unit = {
      // recreate the SAME absolute bucket path with DIFFERENT keys
      val f = new java.io.File(bucketDir)
      def rm(x: java.io.File): Unit = { Option(x.listFiles()).foreach(_.foreach(rm)); x.delete(): Unit }
      rm(f)
      spark.range(5000)
        .select(lit("job").as("jobId"), concat(lit(keyPrefix), $"id").as("urlNorm"))
        .repartition(2).write.parquet(bucketDir)
      SidecarBlooms.buildForBucket(spark, bucketDir, shards, fpp = 0.01,
        committedRows = 5000L, nonce = nonce,
        confB = spark.sparkContext.broadcast(new graft.core.SerializableHadoopConf(hconf)))
    }
    build("https://a.example.test/p", "run1")
    // populate the JVM-global cache with run1's filters
    (0 until 5000).foreach { i =>
      assert(SidecarBlooms.mightContain(Seq(bucketDir), SeenBloom.hash64("job-https://a.example.test/p" + i), shards, "run1", hconf))
    }
    // delete + recreate the bucket at the same path with run2's keys: with a
    // path-only cache key the stale run1 filter would answer "definitely
    // not" for run2 keys (false negatives); the nonce makes that impossible
    build("https://b.example.test/q", "run2")
    var misses = 0
    (0 until 5000).foreach { i =>
      if (!SidecarBlooms.mightContain(Seq(bucketDir), SeenBloom.hash64("job-https://b.example.test/q" + i), shards, "run2", hconf)) misses += 1
    }
    assert(misses == 0, s"$misses stale-cache false negatives after bucket recreation")
  }
}
