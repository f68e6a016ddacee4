package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{CRC32, Deflater, GZIPOutputStream, Inflater}

/**
 * WARC web-archive source/sink (ISO 28500 / WARC 1.0 — the format web
 * crawls ship in: Common Crawl alone is ~100 TB of `.warc.gz`). The
 * on-disk shape is CONCATENATED GZIP MEMBERS, one (or a few) WARC
 * records per member — gzip's multi-member rule makes the concatenation
 * of valid archives itself a valid archive, which is what makes a
 * member-per-record file splittable at all.
 *
 * Reader: byte ranges over each file, like [[SplittableCsv]] but with
 * member-start ownership instead of newline ownership — a range emits
 * every member that STARTS in it, reading past its end to finish the
 * last one. Finding member starts inside an opaque gzip stream is the
 * classic resync problem; the reader solves it the way production
 * crawl readers do:
 *
 *  - candidates are `1f 8b 08` magic positions; in a well-formed file
 *    members are back-to-back, so after the first member each next
 *    candidate is checked at the previous member's end — O(1), no scan;
 *  - a candidate VALIDATES only by fully decoding as a gzip member
 *    (header incl. FEXTRA/FNAME/FCOMMENT/FHCRC variants, raw-deflate
 *    body, CRC32 + ISIZE trailer both verified) whose decompressed
 *    bytes start with `WARC/`. A false magic inside compressed data
 *    fails this within a few KB (invalid deflate) — the scan resumes
 *    one byte later. A false ACCEPT needs random bytes to form a
 *    complete CRC-valid gzip stream that inflates to a WARC header
 *    (~2^-56 per candidate on the trailer alone) — the documented
 *    probabilistic contract, standard for gzip resync.
 *
 * Degradation is graceful in both directions: a single-stream
 * `.warc.gz` (the whole file one member) still reads — as one task,
 * like gzip always does; garbage between members is skipped by resync
 * instead of failing the file.
 *
 * Scale shape: ranges are embarrassingly parallel, each byte of a
 * well-formed file is read once for header-scan + inflate (the
 * boundary-find scan at a range head costs at most one member);
 * driver state is the file list. Payload text is decoded per record;
 * `maxMemberBytes` is the fail-fast memory guard (house pattern:
 * named knob, loud error — a member that big must be re-sharded
 * upstream, not silently spilled against).
 *
 * Writer: resource records (`WARC-Type: resource` — raw payload, no
 * HTTP envelope), one gzip member per record, deterministic bytes
 * (Java's GZIPOutputStream writes MTIME=0). Two egress shapes:
 * [[writeShards]] is the PRODUCTION writer — one `.warc.gz` shard per
 * partition, written executor-side with a temp-and-rename commit, no
 * driver hop at any corpus size; [[writeSingleFile]] streams members
 * through the driver via `toLocalIterator` (O(one partition) driver
 * memory) — the single-huge-file FIXTURE shape.
 */
object Warc {

  val schema: StructType = StructType(Seq(
    StructField("target_uri", StringType, nullable = true),
    StructField("warc_type", StringType, nullable = true),
    StructField("warc_date", StringType, nullable = true),
    StructField("record_id", StringType, nullable = true),
    StructField("content", StringType, nullable = true),
    StructField("offset", LongType, nullable = false)))

  // ------------------------------------------------------------------
  // writer
  // ------------------------------------------------------------------

  /** One WARC resource record as one complete gzip member. */
  def memberBytes(targetUri: String, date: String, recordId: String,
                  payload: Array[Byte]): Array[Byte] = {
    val header =
      s"WARC/1.0\r\n" +
        s"WARC-Type: resource\r\n" +
        s"WARC-Record-ID: <$recordId>\r\n" +
        s"WARC-Date: $date\r\n" +
        s"WARC-Target-URI: $targetUri\r\n" +
        s"Content-Type: text/plain; charset=utf-8\r\n" +
        s"Content-Length: ${payload.length}\r\n\r\n"
    val out = new ByteArrayOutputStream(header.length + payload.length + 64)
    val gz = new GZIPOutputStream(out)
    gz.write(header.getBytes(UTF_8))
    gz.write(payload)
    gz.write("\r\n\r\n".getBytes(UTF_8))
    gz.close()
    out.toByteArray
  }

  /** [[memberBytes]] with caller-owned Deflater/CRC32 — byte-identical
    * output (same header constants and compression level as Java's
    * GZIPOutputStream), but the native zlib context is REUSED across
    * members: a per-record `new Deflater` is ~half the cost of archiving
    * a small record (measured at 5M members, SCALE.md). */
  def memberBytesReusing(targetUri: String, date: String, recordId: String,
                         payload: Array[Byte], deflater: Deflater,
                         crc: CRC32): Array[Byte] = {
    val header =
      s"WARC/1.0\r\n" +
        s"WARC-Type: resource\r\n" +
        s"WARC-Record-ID: <$recordId>\r\n" +
        s"WARC-Date: $date\r\n" +
        s"WARC-Target-URI: $targetUri\r\n" +
        s"Content-Type: text/plain; charset=utf-8\r\n" +
        s"Content-Length: ${payload.length}\r\n\r\n"
    val raw = new ByteArrayOutputStream(header.length + payload.length + 8)
    raw.write(header.getBytes(UTF_8))
    raw.write(payload)
    raw.write("\r\n\r\n".getBytes(UTF_8))
    val data = raw.toByteArray
    deflater.reset()
    crc.reset()
    crc.update(data, 0, data.length)
    val out = new ByteArrayOutputStream(data.length / 2 + 64)
    out.write(Array[Byte](0x1f, 0x8b.toByte, 8, 0, 0, 0, 0, 0, 0, 0))
    deflater.setInput(data)
    deflater.finish()
    val buf = new Array[Byte](8 * 1024)
    while (!deflater.finished()) {
      val n = deflater.deflate(buf)
      out.write(buf, 0, n)
    }
    def le4(v: Long): Unit = {
      var i = 0
      while (i < 4) { out.write(((v >> (8 * i)) & 0xff).toInt); i += 1 }
    }
    le4(crc.getValue)
    le4(data.length.toLong)
    out.toByteArray
  }

  /** `df(uriCol, textCol)` → ONE `.warc.gz` at `path`. Members are built
    * distributed (one projection, one reused deflate context per
    * partition); the driver only streams the finished blobs to the file
    * in partition order. Rows with null text OR null URI are skipped
    * (the novelty-style convention). Record ids derive from (target
    * URI, position in the output file) — per-record UNIQUE as ISO
    * 28500 requires even when the same URI (or the same full row)
    * repeats, and the whole file stays a pure function of the global
    * row order, exactly like the member order itself. */
  def writeSingleFile(df: DataFrame, uriCol: String, textCol: String,
                      path: String, date: String = "2026-01-01T00:00:00Z"): Unit = {
    import org.apache.spark.sql.functions.col
    val spark = df.sparkSession
    import spark.implicits._
    val members = df.filter(col(textCol).isNotNull && col(uriCol).isNotNull)
      .select(col(uriCol).cast(StringType), col(textCol).cast(StringType))
      .as[(String, String)]
      .rdd.zipWithIndex() // one extra count job — fine on the fixture path
      .mapPartitions { it =>
        val deflater = new Deflater(Deflater.DEFAULT_COMPRESSION, true)
        val crc = new CRC32
        it.map { case ((uri, text), idx) =>
          memberBytesReusing(uri, date, "urn:graft:" + java.util.UUID
            .nameUUIDFromBytes((uri + " " + idx).getBytes(UTF_8)),
            text.getBytes(UTF_8), deflater, crc)
        } // deflater freed by GC at partition end (end() would need a
          // completion hook; the native buffer is small and bounded)
      }
    // toLocalIterator computes ONE partition per job — streaming the lazy
    // map through it would run the gzip work sequentially. Materialize the
    // members in parallel first (measured 128s -> 94s at 5M members; the
    // residue is the inherently serial driver drain of the finished
    // blobs, which is what makes this a fixture path, not an egress).
    val cached = members.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Hadoop FS create, like the reader's open — the same call targets
    // HDFS/S3A on a cluster, not just local disk
    val hp = new org.apache.hadoop.fs.Path(path)
    val out = new java.io.BufferedOutputStream(
      hp.getFileSystem(new org.apache.hadoop.conf.Configuration(
        spark.sparkContext.hadoopConfiguration)).create(hp, true), 1 << 20)
    try {
      cached.count()
      val it = cached.toLocalIterator
      while (it.hasNext) out.write(it.next())
    } finally {
      out.close()
      cached.unpersist()
      ()
    }
  }

  /** PRODUCTION egress: `df(uriCol, textCol)` → one `.warc.gz` shard per
    * partition under `dir`, written executor-side via mapPartitions — no
    * driver hop at any corpus size (the [[writeSingleFile]] fixture
    * shape drains every blob through the driver serially; this is the
    * writer the 100 TB path uses). Each task streams its members through
    * one reused deflate context into `part-NNNNN.warc.gz` (NNNNN =
    * partition index — deterministic layout), creating the file via the
    * Hadoop FS so the same call targets HDFS/S3A. Writes go to a dotted
    * ATTEMPT-unique temp name (`.part-NNNNN.warc.gz.<attemptId>.tmp`)
    * and delete-then-rename on completion — two concurrent attempts of
    * the same partition (task retry, speculation) never share a temp
    * file, and a retry after a committed-but-unacknowledged attempt
    * replaces the stale final file instead of failing HDFS's
    * no-overwrite rename (Hadoop output-committer semantics). A
    * half-written shard is never visible: the reader lists only
    * `*.warc.gz`. Rows with null
    * text or URI are skipped. Record ids are unique per record —
    * name-UUID over (uri, partition, ordinal).
    *
    * Returns the shard manifest (shard, records, bytes) — #partitions
    * rows, the model-sized artifact a corpus publisher ships next to
    * the shards. Empty partitions write no file (and no manifest row)
    * so shard numbering can have gaps; [[read]] lists the directory. */
  def writeShards(df: DataFrame, uriCol: String, textCol: String,
                  dir: String, date: String = "2026-01-01T00:00:00Z"): DataFrame = {
    import org.apache.spark.sql.functions.col
    val spark = df.sparkSession
    import spark.implicits._
    val conf = new org.apache.spark.util.SerializableConfiguration(
      new org.apache.hadoop.conf.Configuration(
        spark.sparkContext.hadoopConfiguration))
    val dirStr = dir
    val dateStr = date
    val manifest = df.filter(col(textCol).isNotNull && col(uriCol).isNotNull)
      .select(col(uriCol).cast(StringType), col(textCol).cast(StringType))
      .as[(String, String)]
      .rdd.mapPartitionsWithIndex { case (pid, it) =>
        if (!it.hasNext) Iterator.empty
        else {
          val name = f"part-$pid%05d.warc.gz"
          val finalPath = new org.apache.hadoop.fs.Path(dirStr, name)
          // temp name is ATTEMPT-unique: two live attempts of the same
          // partition (retry after a lost executor, speculation) must
          // never interleave writes into one temp file — Hadoop
          // output-committer semantics, not just a dotted rename
          val attempt = Option(org.apache.spark.TaskContext.get())
            .map(_.taskAttemptId()).getOrElse(0L)
          val tmpPath =
            new org.apache.hadoop.fs.Path(dirStr, s".$name.$attempt.tmp")
          val fs = finalPath.getFileSystem(conf.value)
          val out = new java.io.BufferedOutputStream(
            fs.create(tmpPath, true), 1 << 20)
          val deflater = new Deflater(Deflater.DEFAULT_COMPRESSION, true)
          val crc = new CRC32
          var n = 0L
          var bytes = 0L
          try {
            var ord = 0L
            while (it.hasNext) {
              val (uri, text) = it.next()
              val m = memberBytesReusing(uri, dateStr,
                "urn:graft:" + java.util.UUID.nameUUIDFromBytes(
                  (uri + " " + pid + ":" + ord).getBytes(UTF_8)),
                text.getBytes(UTF_8), deflater, crc)
              out.write(m)
              n += 1
              bytes += m.length
              ord += 1
            }
          } finally {
            deflater.end()
            out.close()
          }
          // Commit: if the final file already exists, SOME attempt of
          // this partition committed it — and every attempt produces
          // byte-identical output (deterministic input order + name-based
          // UUIDs), so treat the partition as committed and discard this
          // attempt's temp. Deleting the final here instead (the round-11
          // code) opened a speculation race: a loser attempt could delete
          // the winner's committed shard and die before its own rename,
          // leaving the shard missing in a job that reported success.
          if (fs.exists(finalPath)) {
            fs.delete(tmpPath, false)
          } else if (!fs.rename(tmpPath, finalPath)) {
            // rename lost a race with another attempt's commit: fine iff
            // the final now exists (identical bytes); fatal otherwise
            if (fs.exists(finalPath)) fs.delete(tmpPath, false)
            else throw new java.io.IOException(
              s"Warc.writeShards: rename $tmpPath -> $finalPath failed")
          }
          Iterator.single((name, n, bytes))
        }
      }.collect().toSeq // one row per non-empty partition — model-sized
    manifest.toDF("shard", "records", "bytes")
  }

  /** Sharded round trip: corpus → one shard per partition → parallel
    * ranged read over the directory (the production egress+ingest pair;
    * [[roundTrip]] is the single-file fixture form). */
  def roundTripShards(df: DataFrame, uriCol: String, textCol: String,
                      tag: String, blockBytes: Long): DataFrame = {
    val dir = TextFormats.scratchDir(tag)
    writeShards(df, uriCol, textCol, dir)
    read(df.sparkSession, dir, blockBytes = blockBytes)
  }

  // ------------------------------------------------------------------
  // reader
  // ------------------------------------------------------------------

  private class BadMember(msg: String) extends Exception(msg)

  /** Buffered absolute-position reader over a Hadoop stream. */
  private final class ByteReader(
      in: org.apache.hadoop.fs.FSDataInputStream, fileLen: Long) {
    private val buf = new Array[Byte](256 * 1024)
    private var bufStart = 0L
    private var bufLen = 0
    var pos: Long = 0L

    def seek(p: Long): Unit = { pos = p }

    /** Byte at `pos` (as unsigned), advancing; -1 at EOF. */
    def next(): Int = {
      if (pos >= fileLen) return -1
      if (pos < bufStart || pos >= bufStart + bufLen) {
        in.seek(pos)
        bufStart = pos
        // Invalidate the window BEFORE refilling: if the read throws or
        // EOFs early (truncated/racing file), a stale bufLen would serve
        // the previous window's bytes as file content — silently dropped
        // records after a CRC resync instead of a clean failure.
        bufLen = 0
        // one read call per refill; n == 0 is a legal no-progress return
        // on some Hadoop streams (the SplittableCsv lesson) — retry it
        // boundedly, only n < 0 is EOF
        var n = 0
        var spins = 0
        while (n == 0) {
          n = in.read(buf, 0, buf.length)
          if (n == 0) {
            spins += 1
            if (spins > 4096) throw new java.io.IOException(
              s"Warc: stream made no progress after $spins reads at $pos")
          }
        }
        if (n < 0) return -1
        bufLen = n
      }
      val b = buf((pos - bufStart).toInt) & 0xff
      pos += 1
      b
    }

    def nextOrFail(): Int = {
      val b = next()
      if (b < 0) throw new BadMember(s"EOF at $pos")
      b
    }

    /** Bulk copy from `pos`, advancing; returns bytes copied, -1 at EOF.
      * May return less than `len` (one buffered region per call). */
    def read(dst: Array[Byte], dstOff: Int, len: Int): Int = {
      if (len == 0) return 0
      val first = next()
      if (first < 0) return -1
      dst(dstOff) = first.toByte // next() ensured the buffer covers pos-1
      val avail = (bufStart + bufLen - pos).toInt
      val n = math.min(avail, len - 1)
      if (n > 0) {
        System.arraycopy(buf, (pos - bufStart).toInt, dst, dstOff + 1, n)
        pos += n
      }
      n + 1
    }
  }

  private val FHCRC = 2
  private val FEXTRA = 4
  private val FNAME = 8
  private val FCOMMENT = 16

  /** Attempt to decode ONE gzip member at `offset`. Returns the
    * decompressed bytes and the offset just past the member's trailer,
    * or throws [[BadMember]] (validation failure — caller resyncs).
    * `inflater` is caller-owned and reset here — one native zlib context
    * per range task, not per member (the 5M-member lesson, SCALE.md). */
  private def decodeMember(r: ByteReader, offset: Long, maxMemberBytes: Int,
                           inflater: Inflater, crcCheck: CRC32): (Array[Byte], Long) = {
    r.seek(offset)
    if (r.nextOrFail() != 0x1f || r.nextOrFail() != 0x8b || r.nextOrFail() != 8)
      throw new BadMember("bad magic/method")
    val flg = r.nextOrFail()
    var i = 0
    while (i < 6) { r.nextOrFail(); i += 1 } // MTIME(4) XFL OS
    if ((flg & FEXTRA) != 0) {
      val xlen = r.nextOrFail() | (r.nextOrFail() << 8)
      var j = 0
      while (j < xlen) { r.nextOrFail(); j += 1 }
    }
    if ((flg & FNAME) != 0) while (r.nextOrFail() != 0) ()
    if ((flg & FCOMMENT) != 0) while (r.nextOrFail() != 0) ()
    if ((flg & FHCRC) != 0) { r.nextOrFail(); r.nextOrFail() }

    inflater.reset()
    val outBuf = new ByteArrayOutputStream(64 * 1024)
    val inChunk = new Array[Byte](32 * 1024)
    val outChunk = new Array[Byte](64 * 1024)
    val deflateStart = r.pos
    locally {
      // Adaptive feed: start small and grow. Typical members are a few
      // hundred compressed bytes; feeding a fixed 32 KiB chunk per member
      // drags ~100x the file's bytes through the reader (measured: the
      // dominant read cost at 5M members). Over-read past the member is
      // bounded by the LAST chunk size, and trailerAt re-seeks anyway.
      var feedSize = 512
      while (!inflater.finished()) {
        if (inflater.needsInput()) {
          val n = r.read(inChunk, 0, feedSize)
          if (n <= 0) throw new BadMember("EOF inside deflate stream")
          inflater.setInput(inChunk, 0, n)
          feedSize = math.min(feedSize * 4, inChunk.length)
        }
        // inflate() returns 0 only when it needs input, needs a preset
        // dictionary, or is finished — no other spin case exists
        val produced =
          try inflater.inflate(outChunk)
          catch { case e: java.util.zip.DataFormatException =>
            throw new BadMember(s"bad deflate: ${e.getMessage}") }
        if (produced > 0) {
          if (outBuf.size() + produced > maxMemberBytes)
            throw new IllegalArgumentException(
              s"Warc: member at offset $offset inflates past " +
                s"maxMemberBytes=$maxMemberBytes — re-shard the archive " +
                "upstream or raise the knob")
          outBuf.write(outChunk, 0, produced)
        } else if (inflater.needsDictionary()) {
          throw new BadMember("deflate dictionary unsupported")
        }
      }
      val data = outBuf.toByteArray
      // trailer sits right after the compressed bytes actually consumed
      val trailerAt = deflateStart + inflater.getBytesRead
      r.seek(trailerAt)
      var crc = 0L
      var k = 0
      while (k < 4) { crc |= r.nextOrFail().toLong << (8 * k); k += 1 }
      var isize = 0L
      k = 0
      while (k < 4) { isize |= r.nextOrFail().toLong << (8 * k); k += 1 }
      crcCheck.reset()
      crcCheck.update(data, 0, data.length)
      if (crcCheck.getValue != crc) throw new BadMember("CRC mismatch")
      if ((data.length.toLong & 0xffffffffL) != isize)
        throw new BadMember("ISIZE mismatch")
      (data, trailerAt + 8)
    }
  }

  /** Parse every WARC record in one decompressed member. */
  private def parseRecords(data: Array[Byte], memberOffset: Long): Seq[Row] = {
    if (data.length < 5 || !(data(0) == 'W' && data(1) == 'A' && data(2) == 'R'
        && data(3) == 'C' && data(4) == '/'))
      throw new BadMember("member does not start with WARC/")
    val out = Seq.newBuilder[Row]
    var p = 0
    def lineEnd(from: Int): Int = {
      var i = from
      while (i + 1 < data.length && !(data(i) == '\r' && data(i + 1) == '\n')) i += 1
      if (i + 1 >= data.length) throw new BadMember("unterminated header line")
      i
    }
    while (p < data.length) {
      // tolerate inter-record CRLF padding from foreign writers
      while (p + 1 < data.length && data(p) == '\r' && data(p + 1) == '\n') p += 2
      if (p >= data.length) return out.result()
      val ve = lineEnd(p)
      val version = new String(data, p, ve - p, UTF_8)
      if (!version.startsWith("WARC/")) throw new BadMember(s"bad version [$version]")
      p = ve + 2
      var clen = -1L
      var wtype: String = null
      var uri: String = null
      var date: String = null
      var rid: String = null
      var headersDone = false
      while (!headersDone) {
        val he = lineEnd(p)
        if (he == p) { headersDone = true; p += 2 } // empty line
        else {
          val line = new String(data, p, he - p, UTF_8)
          val colon = line.indexOf(':')
          if (colon < 0) throw new BadMember(s"bad header [$line]")
          val name = line.substring(0, colon).trim.toLowerCase
          val value = line.substring(colon + 1).trim
          name match {
            case "content-length" => clen = value.toLong
            case "warc-type" => wtype = value
            case "warc-target-uri" => uri = value
            case "warc-date" => date = value
            case "warc-record-id" =>
              rid = value.stripPrefix("<").stripSuffix(">")
            case _ => ()
          }
          p = he + 2
        }
      }
      if (clen < 0) throw new BadMember("missing Content-Length")
      if (p + clen > data.length) throw new BadMember("payload past member end")
      val content = new String(data, p, clen.toInt, UTF_8)
      p += clen.toInt
      out += Row(uri, wtype, date, rid, content, memberOffset)
    }
    out.result()
  }

  /** Read `.warc.gz` (one file or a directory of shards) into
    * `(target_uri, warc_type, warc_date, record_id, content, offset)`.
    * `blockBytes` sets the split granularity within each file. */
  def read(spark: SparkSession, path: String,
           blockBytes: Long = 32L * 1024 * 1024,
           maxMemberBytes: Int = 64 * 1024 * 1024): DataFrame = {
    require(blockBytes >= 1024, s"blockBytes too small: $blockBytes")
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    val files: Seq[(String, Long)] = {
      val st = fs.getFileStatus(root)
      if (st.isDirectory)
        fs.listStatus(root).toSeq.filter(_.isFile)
          .map(s => (s.getPath.toString, s.getLen))
          .filter(_._1.endsWith(".warc.gz")).sortBy(_._1)
      else Seq((root.toString, st.getLen))
    }
    val ranges = files.flatMap { case (f, len) =>
      val n = math.max(1L, (len + blockBytes - 1) / blockBytes)
      (0L until n).map(i =>
        (f, len, i * blockBytes, math.min((i + 1) * blockBytes, len)))
    }
    val serConf = new org.apache.spark.util.SerializableConfiguration(conf)
    val rows = spark.sparkContext
      .parallelize(ranges, math.max(1, ranges.length))
      .flatMap { case (file, fileLen, start, end) =>
        val p = new org.apache.hadoop.fs.Path(file)
        val in = p.getFileSystem(serConf.value).open(p)
        val r = new ByteReader(in, fileLen)
        val acc = Seq.newBuilder[Row]
        val inflater = new Inflater(true) // raw deflate; reused per member
        val crcCheck = new CRC32
        try {
          var off = start
          while (off >= 0 && off < end) {
            // find the next candidate (magic at >= off, strictly < end)
            var cand = -1L
            r.seek(off)
            var b0 = r.next(); var b1 = r.next(); var b2 = r.next()
            var at = off
            while (cand < 0 && at < end && b2 >= 0) {
              if (b0 == 0x1f && b1 == 0x8b && b2 == 8) cand = at
              else { at += 1; b0 = b1; b1 = b2; b2 = r.next() }
            }
            if (cand < 0) off = -1L
            else {
              try {
                val (data, nextOff) =
                  decodeMember(r, cand, maxMemberBytes, inflater, crcCheck)
                acc ++= parseRecords(data, cand)
                off = nextOff
              } catch {
                case _: BadMember => off = cand + 1 // resync one byte on
              }
            }
          }
          acc.result()
        } finally { inflater.end(); in.close() }
      }
    spark.createDataFrame(rows, schema)
  }

  /** Fixture round trip: corpus → ONE `.warc.gz` → parallel ranged read.
    * Same shape as [[TextFormats.csvSplittableRoundTrip]]. */
  def roundTrip(df: DataFrame, uriCol: String, textCol: String, tag: String,
                blockBytes: Long): DataFrame = {
    val dir = TextFormats.scratchDir(tag)
    val file = dir + ".warc.gz"
    writeSingleFile(df, uriCol, textCol, file)
    read(df.sparkSession, file, blockBytes = blockBytes)
  }
}
