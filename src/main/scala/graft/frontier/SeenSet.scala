package graft.frontier

/**
 * The URL-seen set (SURVEY §2.3 J2 / §2.4 A8): a bloom pre-filter in front of
 * an exact left-anti join.
 *
 * The exact set is the flagged frontier history plus its compaction buckets:
 * append-only parquet keyed by `(jobId, urlNorm)` (Checkpoint). The
 * pre-filter is the per-bucket [[SidecarBlooms]]: each compacted bucket
 * carries its own sharded bloom files, built and probed executor-side, so no
 * node ever holds the whole filter and the driver checkpoints no filter
 * state. The anti-join alone makes membership exact; the blooms only narrow
 * its input. A bloom negative still meets an exact anti-join against the
 * frontier tail the buckets do not cover, and a missing or unreadable
 * sidecar reads as "maybe seen", so false negatives are impossible.
 *
 * Keys are reduced to a 64-bit xxHash ([[SeenBloom.hash64]]) before they
 * touch a filter (`putLong`/`mightContainLong`, never string inserts). The
 * extra hash-collision probability (~n^2/2^64) is absorbed into the bloom's
 * advertised fpp and cannot cause false negatives.
 */
object SeenBloom {

  /** xxHash64 (seed 42) of the key's UTF-8 bytes — same digest everywhere a
    * key is hashed (sidecar build and probe, pipeline hashing, WARC ids). */
  def hash64(key: String): Long = {
    val b = key.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
  }
}
