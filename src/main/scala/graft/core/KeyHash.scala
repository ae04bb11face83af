package graft.core

/** The one 64-bit key digest: pipeline hashing (line, shingle, n-gram and
  * feature hashes) and WARC record ids all take the same value for the
  * same key. */
object KeyHash {

  /** xxHash64 (seed 42) of the key's UTF-8 bytes. */
  def hash64(key: String): Long = {
    val b = key.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
  }
}
