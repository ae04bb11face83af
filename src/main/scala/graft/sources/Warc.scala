package graft.sources

import java.io.{ByteArrayOutputStream, EOFException, InputStream}
import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * WARC (ISO 28500 / WARC/1.0 — the Common Crawl container) source: the
 * ingestion path that turns crawl archives into the engine's pages table
 * (`url`, `warc_ts`, `status`, `html`), mirroring the reference's
 * Common-Crawl-style input shape (BASELINE input_hint). The reference
 * itself fetches live pages; reading WARC is what the same pipeline looks
 * like when the fetch stage is an archive drop.
 *
 * Format handled (spec-level, not copied from any implementation):
 *   - version line `WARC/1.0` (or 1.1), CRLF header block, `Content-Length`
 *     octet-exact content block, CRLF CRLF record separator;
 *   - `response` records: the block is an HTTP/1.x message — status parsed
 *     from the status line, payload = bytes after the first CRLFCRLF;
 *   - `resource` records: the block IS the payload (status 200);
 *   - all other record types (warcinfo, request, metadata, revisit) are
 *     skipped, as is any record without a Target-URI;
 *   - per-record gzip members concatenated in one `.warc.gz` file (the
 *     Common Crawl layout), auto-detected by magic bytes.
 *
 * Scale shape: parallelism is per FILE — Common Crawl sizes archives at
 * ~1 GB gzip precisely so file-granularity is enough, and multi-member
 * gzip cannot be split mid-file without an external index. Each task
 * STREAMS its file (PortableDataStream.open, 64 KB buffered): memory is
 * O(largest record), never O(file). Downstream partitioning: a
 * `repartition(url-hash)` after read co-locates with the corpus bucketing
 * the fetch join expects (CrawlEngine corpus contract).
 */
object Warc {

  final case class Record(url: String, ts: java.sql.Timestamp,
    status: Int, payload: Array[Byte])

  // ---------------------------------------------------------------- parse

  /** Read one CRLF-terminated line; None at clean EOF. UTF-8: ISO 28500
    * header values (notably WARC-Target-URI IRIs) may carry non-ASCII
    * bytes — an ASCII decode would fold them all to U+FFFD silently. */
  private[sources] def readLine(in: InputStream): Option[String] = {
    val buf = new ByteArrayOutputStream(96)
    var b = in.read()
    if (b < 0) return None
    while (b >= 0 && b != '\n') { buf.write(b); b = in.read() }
    val a = buf.toByteArray
    val n = if (a.nonEmpty && a(a.length - 1) == '\r') a.length - 1 else a.length
    Some(new String(a, 0, n, UTF_8))
  }

  private def readFully(in: InputStream, n: Long): Array[Byte] = {
    require(n <= Int.MaxValue, s"record content block of $n bytes")
    val out = new Array[Byte](n.toInt)
    var off = 0
    while (off < out.length) {
      val r = in.read(out, off, out.length - off)
      if (r < 0) throw new EOFException(
        s"truncated WARC content block: expected ${out.length} bytes, got $off")
      off += r
    }
    out
  }

  /** Index just past the CRLFCRLF header terminator, or -1 when the block
    * has no terminated header section. Shared by [[httpPayload]] and
    * [[httpMime]] so "where do the headers end" has exactly one definition. */
  private def headerEnd(block: Array[Byte]): Int = {
    var i = 0
    while (i + 3 < block.length) {
      if (block(i) == '\r' && block(i + 1) == '\n' &&
          block(i + 2) == '\r' && block(i + 3) == '\n') return i + 4
      i += 1
    }
    -1
  }

  /** Split an HTTP/1.x message into (status, body). A block that does not
    * start with "HTTP/" is taken whole with status 200 (resource-style). */
  private[sources] def httpPayload(block: Array[Byte]): (Int, Array[Byte]) = {
    if (block.length < 5 ||
        !new String(block, 0, 5, US_ASCII).equals("HTTP/"))
      return (200, block)
    val he = headerEnd(block)
    val bodyAt = if (he < 0) block.length else he // truncated headers: no body
    val statusLine = new String(block, 0, math.min(64, block.length), US_ASCII)
      .takeWhile(c => c != '\r' && c != '\n')
    // \s+ tolerates the multi-space status lines sloppy servers emit; an
    // unparseable status becomes 0 (explicitly unknown) — NEVER 200, which
    // would let error pages through downstream status gates as successes
    val status = statusLine.split("\\s+").lift(1).flatMap(_.toIntOption).getOrElse(0)
    (status, java.util.Arrays.copyOfRange(block, bodyAt, block.length))
  }

  /** Media type of an HTTP/1.x response block (Content-Type header, any
    * parameters stripped, lowercased); None for non-HTTP blocks or when the
    * header is absent. Header section only — never scans the body. */
  private[sources] def httpMime(block: Array[Byte]): Option[String] = {
    if (block.length < 5 ||
        !new String(block, 0, 5, US_ASCII).equals("HTTP/")) return None
    // no terminated header section -> unknown, NEVER scan payload bytes for
    // header-shaped text (and never decode a multi-MB body to ASCII)
    val he = headerEnd(block)
    if (he < 0) return None
    new String(block, 0, he, US_ASCII).split("\r\n").iterator
      .map(_.split(":", 2))
      .collectFirst {
        case Array(k, v) if k.trim.equalsIgnoreCase("content-type") =>
          v.split(";")(0).trim.toLowerCase
      }.filter(_.nonEmpty)
  }

  /** Inflater read-ahead buffer size; [[peekGzip]] sizes pushback from it. */
  private[sources] val gzipInflaterBuf = 64 * 1024

  /** Decompress concatenated gzip members STRICTLY. `GZIPInputStream`
    * cannot be used here: its `readTrailer` swallows the IOException from a
    * corrupt next-member header and reports clean EOF — on a 10k-member
    * Common Crawl archive with one bit-rotted boundary that silently drops
    * every record after the damage (verified on JDK 17). This stream frames
    * each member itself (RFC 1952 header, raw-deflate body, CRC32+ISIZE
    * trailer) and throws on anything malformed between members. Memory is
    * O(64 KB) regardless of file size. */
  private[sources] final class StrictGzipStream(src: java.io.PushbackInputStream)
      extends InputStream {
    private val inf = new java.util.zip.Inflater(true)
    private val crc = new java.util.zip.CRC32
    private val inBuf = new Array[Byte](gzipInflaterBuf)
    private var fillLen = 0
    private var inMember = false
    private var eof = false
    private val one = new Array[Byte](1)
    // compressed-stream byte accounting (net of pushback), so the CDX
    // indexer can report member offsets addressable by HTTP range requests
    private var srcPos = 0L
    private var memberAt = 0L

    private def readU8(): Int = {
      val b = src.read()
      if (b < 0) throw new EOFException("truncated gzip member header/trailer")
      srcPos += 1
      b
    }
    private def readU16(): Int = readU8() | (readU8() << 8)
    private def readU32(): Long =
      readU16().toLong | (readU16().toLong << 16)

    /** Parse one RFC 1952 member header; false at clean stream EOF. */
    private def beginMember(): Boolean = {
      memberAt = srcPos
      val b0 = src.read()
      if (b0 < 0) return false
      srcPos += 1
      val b1 = readU8()
      if (b0 != 0x1f || b1 != 0x8b) throw new EOFException(
        f"bad gzip member magic 0x$b0%02x$b1%02x (corrupt member boundary)")
      if (readU8() != 8) throw new EOFException("unsupported gzip method")
      val flg = readU8()
      var i = 0
      while (i < 6) { readU8(); i += 1 } // mtime(4), xfl, os
      if ((flg & 4) != 0) { var n = readU16(); while (n > 0) { readU8(); n -= 1 } }
      if ((flg & 8) != 0) while (readU8() != 0) ()   // FNAME
      if ((flg & 16) != 0) while (readU8() != 0) ()  // FCOMMENT
      if ((flg & 2) != 0) { readU8(); readU8() }     // FHCRC
      inf.reset(); crc.reset(); fillLen = 0
      inMember = true
      true
    }

    /** Verify the member trailer against the inflated bytes. */
    private def endMember(): Unit = {
      val rem = inf.getRemaining
      if (rem > 0) { src.unread(inBuf, fillLen - rem, rem); srcPos -= rem }
      val c = readU32(); val isize = readU32()
      if (c != crc.getValue) throw new EOFException(
        s"gzip member CRC mismatch (corrupt deflate body)")
      if (isize != (inf.getBytesWritten & 0xffffffffL)) throw new EOFException(
        s"gzip member ISIZE mismatch: trailer $isize, inflated ${inf.getBytesWritten}")
      inMember = false
    }

    /** One inflate step: returns n > 0 bytes produced into `b`, or 0 after
      * advancing internal state (member ended, or more input was fed). */
    private def step(b: Array[Byte], off: Int, len: Int): Int = {
      val n =
        try inf.inflate(b, off, len)
        catch { case e: java.util.zip.DataFormatException =>
          throw new EOFException(s"corrupt gzip deflate data: ${e.getMessage}") }
      if (n > 0) { crc.update(b, off, n); return n }
      if (inf.finished()) endMember()
      else if (inf.needsInput()) {
        fillLen = src.read(inBuf, 0, inBuf.length)
        if (fillLen < 0) throw new EOFException(
          "truncated gzip member (EOF mid-deflate)")
        srcPos += fillLen
        inf.setInput(inBuf, 0, fillLen)
      } else throw new EOFException("gzip member needs a preset dictionary")
      0
    }

    override def read(): Int =
      if (read(one, 0, 1) < 0) -1 else one(0) & 0xff

    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      if (len == 0) return 0
      while (true) {
        if (eof) return -1
        if (!inMember && !beginMember()) { eof = true; return -1 }
        val n = step(b, off, len)
        if (n > 0) return n
      }
      -1 // unreachable
    }

    /** Read exactly one gzip member: (compressed offset, compressed length,
      * inflated bytes); None at clean EOF. Memory is O(member) — used by the
      * CDX indexer, where the member IS the addressable unit (Common Crawl
      * writes one record per member so a reader can range-request it). */
    def readMember(): Option[(Long, Long, Array[Byte])] = {
      if (eof) return None
      if (inMember) throw new IllegalStateException(
        "readMember() interleaved with read() mid-member")
      if (!beginMember()) { eof = true; return None }
      val start = memberAt
      val out = new ByteArrayOutputStream(inBuf.length)
      val tmp = new Array[Byte](inBuf.length)
      while (inMember) {
        val n = step(tmp, 0, tmp.length)
        if (n > 0) out.write(tmp, 0, n)
      }
      Some((start, srcPos - start, out.toByteArray))
    }

    override def close(): Unit = { inf.end(); src.close() }
  }

  /** Header block + Content-Length-framed content block, consumed through
    * the block's final byte. Caller has already read the version line. */
  private[sources] def readHeadersAndBlock(in: InputStream)
      : (scala.collection.Map[String, String], Array[Byte]) = {
    val headers = scala.collection.mutable.Map.empty[String, String]
    var lastKey: String = null
    var h = readLine(in).getOrElse(throw new EOFException(
      "truncated WARC header block"))
    while (h.nonEmpty) {
      if (h(0) == ' ' || h(0) == '\t') {
        // ISO 28500 §4: a value may fold onto lines led by SP/HTAB
        if (lastKey == null) throw new EOFException(
          "WARC header continuation line with no preceding field")
        headers(lastKey) = headers(lastKey) + " " + h.trim
      } else {
        val i = h.indexOf(':')
        if (i <= 0) throw new EOFException(
          s"malformed WARC header line '${h.take(40)}'")
        lastKey = h.substring(0, i).trim.toLowerCase
        headers(lastKey) = h.substring(i + 1).trim
      }
      h = readLine(in).getOrElse(throw new EOFException(
        "truncated WARC header block"))
    }
    val len = headers.getOrElse("content-length", throw new EOFException(
      "WARC record without Content-Length")).toLong
    (headers, readFully(in, len))
  }

  /** Record-selection policy shared by the pages reader and the CDX
    * indexer: response/resource records with a Target-URI; response blocks
    * split into (status, payload), resource blocks taken whole as 200. */
  private[sources] def toRecord(headers: scala.collection.Map[String, String],
      block: Array[Byte]): Option[Record] = {
    val tpe = headers.getOrElse("warc-type", "")
    val uri = headers.get("warc-target-uri")
    if ((tpe == "response" || tpe == "resource") && uri.isDefined) {
      // WARC-Date is mandatory (ISO 28500 §5.4) — defaulting it
      // would plant epoch-0 timestamps in freshness logic silently
      val ts = java.sql.Timestamp.from(java.time.Instant.parse(
        headers.getOrElse("warc-date", throw new EOFException(
          s"WARC record without WARC-Date (uri=${uri.get.take(60)})"))))
      val (status, payload) =
        if (tpe == "response") httpPayload(block) else (200, block)
      Some(Record(uri.get, ts, status, payload))
    } else None
  }

  /** Peek the two-byte gzip magic through a PushbackInputStream sized for
    * [[StrictGzipStream]]'s read-ahead (inflater buffer + the peek itself —
    * a member's unconsumed tail bytes must always fit back in). The ONE
    * definition of the capacity/peek/unread-order invariant, shared by
    * [[decoded]] and Cdx.captures: resizing [[gzipInflaterBuf]] can never
    * orphan a copied capacity constant. */
  private[sources] def peekGzip(raw: InputStream)
      : (java.io.PushbackInputStream, Boolean) = {
    val pb = new java.io.PushbackInputStream(
      new java.io.BufferedInputStream(raw, gzipInflaterBuf),
      gzipInflaterBuf + 2)
    val b0 = pb.read(); val b1 = pb.read()
    if (b1 >= 0) pb.unread(b1)
    if (b0 >= 0) pb.unread(b0)
    (pb, b0 == 0x1f && b1 == 0x8b)
  }

  /** Magic-peek wrapper: the stream itself for plain WARC, the strict
    * member-framing decompressor for .warc.gz. */
  private[sources] def decoded(raw: InputStream): InputStream = {
    val (pb, isGzip) = peekGzip(raw)
    if (isGzip) new StrictGzipStream(pb) else pb
  }

  /** Iterate response/resource records of one (possibly multi-member-gzip)
    * WARC stream. Malformed framing fails loudly — a silently skipped tail
    * would under-read the corpus. */
  def parse(raw: InputStream): Iterator[Record] = new Iterator[Record] {
    private val in: InputStream = decoded(raw)
    private var nextRec: Record = _
    private def advance(): Unit = {
      nextRec = null
      while (nextRec == null) {
        // skip inter-record blank lines; stop at EOF
        var line = readLine(in)
        while (line.contains("")) line = readLine(in)
        line match {
          case None => return
          case Some(v) if v.startsWith("WARC/") =>
            val (headers, block) = readHeadersAndBlock(in)
            toRecord(headers, block).foreach(r => nextRec = r)
          case Some(other) => throw new EOFException(
            s"expected WARC/ version line, got '${other.take(40)}'")
        }
      }
    }
    advance()
    override def hasNext: Boolean = nextRec != null
    override def next(): Record = {
      val r = nextRec; advance(); r
    }
  }

  // ---------------------------------------------------------------- write

  private def crlf(sb: ByteArrayOutputStream, s: String): Unit =
    sb.write((s + "\r\n").getBytes(US_ASCII))

  /** One WARC/1.0 response record (deterministic — no random record ids).
    * `recordId` overrides the default hash-derived id (CDX oracles pass a
    * closed-form id so the record's byte length is SQL-computable). */
  def writeResponse(out: ByteArrayOutputStream, url: String,
      ts: java.time.Instant, status: Int, payload: Array[Byte],
      recordId: String = null): Unit = {
    val http = new ByteArrayOutputStream()
    crlf(http, s"HTTP/1.1 $status OK")
    crlf(http, "Content-Type: text/html")
    crlf(http, s"Content-Length: ${payload.length}")
    crlf(http, "")
    http.write(payload)
    val block = http.toByteArray
    val rid =
      if (recordId != null) recordId
      else s"urn:graft:${graft.core.KeyHash.hash64(url)}"
    crlf(out, "WARC/1.0")
    crlf(out, "WARC-Type: response")
    crlf(out, s"WARC-Record-ID: <$rid>")
    crlf(out, s"WARC-Date: $ts")
    crlf(out, s"WARC-Target-URI: $url")
    crlf(out, "Content-Type: application/http; msgtype=response")
    crlf(out, s"Content-Length: ${block.length}")
    crlf(out, "")
    out.write(block)
    crlf(out, "")
    crlf(out, "")
  }

  /** Gzip one record as its own member (the Common Crawl layout). */
  def gzipMember(record: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(record.length / 2 + 64)
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(record); gz.finish(); gz.close()
    bos.toByteArray
  }

  /** Archive export sink — the reverse of [[read]] (SURVEY §2.1 S-row
    * symmetry): `pages(url, warc_ts, status, html)` → one record-per-member
    * `.warc.gz` file per partition under `dir` (the Common Crawl layout the
    * reader and the CDX indexer consume), returning the per-file manifest
    * `(file, records, bytes)`. Lazy like any Spark write surface that
    * returns data: an action on the manifest runs the export.
    *
    * Scale/recovery shape:
    *  - each task STREAMS its partition straight to the filesystem — memory
    *    is O(largest record), never O(partition);
    *  - rows are sorted by url WITHIN each partition first, record ids are
    *    hash-derived, and Java's gzip header carries mtime=0 — so file bytes
    *    are a pure function of (partitioning, data). A retried or
    *    speculated task re-creates its file with IDENTICAL bytes
    *    (create-overwrite), making the write idempotent by determinism —
    *    the same property the engine's footer reconciliation leans on;
    *  - `partitions > 0` re-keys by url hash first, giving the ~1 GB-per-
    *    archive sizing Common Crawl uses (callers size it as
    *    total_bytes / 1 GB at 100 TB). */
  def write(df: DataFrame, dir: String, partitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val base = df.select(col("url").cast("string"),
      col("warc_ts").cast("timestamp"), col("status").cast("int"),
      col("html").cast("binary"))
    val shaped = if (partitions > 0) base.repartition(partitions, col("url"))
      else base
    val confB = spark.sparkContext.broadcast(
      new graft.core.SerializableHadoopConf(spark.sessionState.newHadoopConf()))
    shaped.sortWithinPartitions("url").rdd.mapPartitionsWithIndex { (pid, it) =>
      if (!it.hasNext) Iterator.empty
      else {
        val name = f"part-$pid%05d.warc.gz"
        val path = new org.apache.hadoop.fs.Path(dir, name)
        // no .crc sidecars next to archives (ChecksumFileSystem would write
        // them on local/raw filesystems; gzip members carry their own CRC32).
        // A private instance: switching checksums off on the cached one
        // would switch them off for every later local write in the JVM.
        val fs = org.apache.hadoop.fs.FileSystem.newInstance(path.toUri, confB.value.value)
        fs.setWriteChecksum(false)
        var n = 0L; var bytes = 0L
        try {
          val out = fs.create(path, true)
          try it.foreach { r =>
            val payload = r.get(3) match {
              case null => Array.emptyByteArray
              case b: Array[Byte] => b
            }
            val rec = new ByteArrayOutputStream(payload.length + 512)
            writeResponse(rec, r.getString(0), r.getTimestamp(1).toInstant,
              r.getInt(2), payload)
            val gz = gzipMember(rec.toByteArray)
            out.write(gz); n += 1; bytes += gz.length
          } finally out.close()
        } finally fs.close()
        Iterator((name, n, bytes))
      }
    }.toDF("file", "records", "bytes")
  }

  // ----------------------------------------------------------------- read

  /** DataFrame(url string, warc_ts timestamp, status int, html binary)
    * over a glob of .warc / .warc.gz files. One task per file (see object
    * doc for why that is the right granularity); each task streams. */
  def read(spark: SparkSession, pathGlob: String,
      minPartitions: Int = 0): DataFrame = {
    import spark.implicits._
    val mp = if (minPartitions > 0) minPartitions
      else spark.sparkContext.defaultParallelism
    spark.sparkContext.binaryFiles(pathGlob, mp)
      .flatMap { case (_, pds) =>
        val in = pds.open()
        // guaranteed close on ANY task exit — early termination (limit/
        // take) or a parse exception never reaches iterator exhaustion,
        // and a long-lived executor would otherwise accumulate open fds
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => in.close()))
        new Iterator[Record] {
          private val it = parse(in)
          override def hasNext: Boolean = {
            val h = it.hasNext
            if (!h) in.close() // prompt close at exhaustion (idempotent)
            h
          }
          override def next(): Record = it.next()
        }
      }
      .map(r => (r.url, r.ts, r.status, r.payload))
      .toDF("url", "warc_ts", "status", "html")
  }
}
