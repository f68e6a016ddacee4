package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Manifest-tracked parquet table — the table-format leg for incremental
 * pipelines (the open-format semantics of Delta/Iceberg re-expressed
 * over plain parquet, since no table-format jars ship in this
 * container; the CONCEPTS are the public ones: snapshot manifests,
 * atomic publish, file-level statistics pruning, compaction with time
 * travel, snapshot delta).
 *
 * Layout (TWO-LEVEL since round 12 — the Iceberg manifest-list shape):
 * {{{
 *   <dir>/data/<uuid>-part-*.parquet         immutable data files
 *   <dir>/_manifests/manifest-<uuid>.json    immutable manifest SHARDS,
 *                                            each listing <= 8192 file
 *                                            entries with per-file stats
 *   <dir>/_manifests/snapshot-000000K.json   one manifest LIST per
 *                                            snapshot: the shard refs
 *                                            with per-shard aggregate
 *                                            stats (bucket range, rows,
 *                                            bytes, addedAt, kind)
 * }}}
 *
 * Why two levels: a single manifest listing the complete file set is
 * comfortable to ~10^5 entries but (a) re-writes O(total files) bytes
 * on EVERY commit and (b) costs ~10 s to parse at 10^6 entries
 * (measured, SCALE.md) — both divergent at 100 TB. With the list
 * layout a commit writes only its OWN shard(s) plus a list whose size
 * is O(#shards), and a pruned read applies the [minBucket, maxBucket]
 * rule TWICE: shard refs are pruned before any shard is even read,
 * then the surviving shards' entries prune to files. Nothing else
 * changed — the FileEntry shape and prune rule were already range-keyed.
 *
 * Every snapshot still reaches its COMPLETE file set (through its
 * shard refs). Commits are atomic: the list writes to a dotted temp
 * name and renames into place, so a concurrent reader sees the
 * previous snapshot or the new one, never a torn file list. Writers
 * use OPTIMISTIC CONCURRENCY (round-12): each snapshot id is claimed
 * by an exclusive create before rename, a lost race rebases on the new
 * latest and retries (shards, like data files, are immutable and stay
 * valid across retries), and appends enforce the table's schema
 * (names + types) before writing — concurrent appends both survive
 * with all rows present.
 *
 * The 100 TB read path: [[readBuckets]]/[[readForBuckets]] prune the
 * file list MANIFEST-SIDE — a bucket predicate touches only shards,
 * then files, whose [minBucket, maxBucket] intersects it, before Spark
 * lists or opens anything. [[compact]] rewrites the live snapshot
 * range-clustered by bucket so each file covers a narrow bucket range
 * (that clustering is what makes the stats selective — the Z-order
 * argument from [[graft.operators.Layout]] in one dimension). Old
 * snapshots keep reading their own file lists (time travel) until
 * [[expire]] drops them.
 */
object GraftTable {

  /** A shutdown-hook-cleaned scratch directory for a throwaway table
    * (the oracle queries build theirs per run; production tables pass a
    * real shared-FS dir). */
  def scratchTable(tag: String): String = TextFormats.scratchDir(s"table_$tag")

  /** One immutable data file with its bucket statistics. `addedAt` and
    * `kind` are carried at SHARD granularity in the manifest list (all
    * files of one shard share the commit that published them) and
    * stamped onto the materialized entries. `stats` (round-12 zone
    * maps) holds [min, max] for any extra LONG-valued columns the
    * writer declared (`statsCols`) — the generalized-skipping leg:
    * [[readWhere]] prunes on any of them, soundly treating a missing
    * entry as unbounded. */
  case class FileEntry(path: String, rows: Long, bytes: Long,
                       minBucket: Long, maxBucket: Long,
                       addedAt: Long, kind: String, // kind: append|compact|delete
                       stats: Map[String, (Long, Long)] = Map.empty)

  /** A manifest shard reference in a snapshot's list: the shard file
    * name plus the aggregate statistics that let readers prune the
    * whole shard without opening it. `stats` aggregates a column's
    * range over the shard's files when EVERY file carries it. */
  case class ManifestRef(name: String, nFiles: Int, rows: Long, bytes: Long,
                         minBucket: Long, maxBucket: Long,
                         addedAt: Long, kind: String,
                         stats: Map[String, (Long, Long)] = Map.empty)

  /** The two-level view of a snapshot: its shard refs, unparsed.
    * `schemaDdl` is the table schema AT THIS SNAPSHOT (round-12 schema
    * evolution — the Iceberg schema-in-metadata shape): reads apply it
    * explicitly, so files written before a column existed surface the
    * column as null; None only for pre-evolution metadata, where reads
    * fall back to a parquet footer. */
  case class SnapshotMeta(id: Long, bucketCol: String, refs: Seq[ManifestRef],
                          schemaDdl: Option[String] = None) {
    def schema: Option[org.apache.spark.sql.types.StructType] =
      schemaDdl.map(org.apache.spark.sql.types.StructType.fromDDL)
  }

  /** The materialized view: the complete file set (all shards parsed). */
  case class Snapshot(id: Long, bucketCol: String, files: Seq[FileEntry])

  /** Max file entries per manifest shard — one shard per append in the
    * steady state (an append producing more files splits). 8192 entries
    * is ~1.5 MB of JSON: large enough that a 10^6-file table is ~125
    * refs in the list, small enough that parsing one hit shard is
    * milliseconds. */
  private val MaxShardEntries = 8192

  private def fs(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestDir(dir: String) = s"${dir.stripSuffix("/")}/_manifests"
  private def dataDir(dir: String) = s"${dir.stripSuffix("/")}/data"

  // ------------------------------------------------------------ manifests

  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def listBody(meta: SnapshotMeta): String = {
    val body = new StringBuilder()
    body.append(s"""{"id":${meta.id},"bucketCol":${q(meta.bucketCol)},""")
    meta.schemaDdl.foreach(d => body.append(s""""schema":${q(d)},"""))
    body.append(""""manifests":[""")
    body.append(meta.refs.map(r =>
      s"""{"name":${q(r.name)},"nFiles":${r.nFiles},"rows":${r.rows},""" +
        s""""bytes":${r.bytes},"minBucket":${r.minBucket},"maxBucket":${r.maxBucket},""" +
        s""""addedAt":${r.addedAt},"kind":${q(r.kind)}${statsJson(r.stats)}}""")
      .mkString(","))
    body.append("]}")
    body.toString
  }

  /** `,"stats":{"c":[lo,hi],...}` or empty. Stats column names are
    * restricted to \w+ at declaration, so no escaping is needed. */
  private def statsJson(stats: Map[String, (Long, Long)]): String =
    if (stats.isEmpty) ""
    else stats.toSeq.sortBy(_._1).map { case (c, (lo, hi)) =>
      s""""$c":[$lo,$hi]"""
    }.mkString(""","stats":{""", ",", "}")

  private def parseStats(body: String): Map[String, (Long, Long)] =
    "\"(\\w+)\":\\[(-?\\d+),(-?\\d+)\\]".r.findAllMatchIn(body)
      .map(m => m.group(1) -> (m.group(2).toLong, m.group(3).toLong)).toMap

  private def shardBody(entries: Seq[FileEntry]): String = {
    val body = new StringBuilder()
    body.append("""{"entries":[""")
    body.append(entries.map(e =>
      s"""{"path":${q(e.path)},"rows":${e.rows},"bytes":${e.bytes},""" +
        s""""minBucket":${e.minBucket},"maxBucket":${e.maxBucket}""" +
        s"""${statsJson(e.stats)}}""").mkString(","))
    body.append("]}")
    body.toString
  }

  /** Hand-rolled parse of our own fixed shapes (no JSON lib on the
    * classpath beyond Spark's shaded ones). */
  private def parseMeta(text: String): SnapshotMeta = {
    val id = "\"id\":(\\d+)".r.findFirstMatchIn(text).get.group(1).toLong
    val bucketCol = "\"bucketCol\":\"((?:[^\"\\\\]|\\\\.)*)\"".r
      .findFirstMatchIn(text).get.group(1)
    val schemaDdl = "\"schema\":\"((?:[^\"\\\\]|\\\\.)*)\"".r
      .findFirstMatchIn(text).map(m => unescape(m.group(1)))
    val ref = ("\\{\"name\":\"((?:[^\"\\\\]|\\\\.)*)\",\"nFiles\":(\\d+)," +
      "\"rows\":(\\d+),\"bytes\":(\\d+),\"minBucket\":(-?\\d+)," +
      "\"maxBucket\":(-?\\d+),\"addedAt\":(\\d+),\"kind\":\"(\\w+)\"" +
      "(?:,\"stats\":\\{([^}]*)\\})?\\}").r
    val refs = ref.findAllMatchIn(text).map(m =>
      ManifestRef(unescape(m.group(1)), m.group(2).toInt, m.group(3).toLong,
        m.group(4).toLong, m.group(5).toLong, m.group(6).toLong,
        m.group(7).toLong, m.group(8),
        Option(m.group(9)).map(parseStats).getOrElse(Map.empty))).toSeq
    SnapshotMeta(id, bucketCol, refs, schemaDdl)
  }

  private def unescape(s: String): String =
    s.replace("\\\\", "\\").replace("\\\"", "\"")

  private def parseShard(text: String): Seq[FileEntry] = {
    val entry = ("\\{\"path\":\"((?:[^\"\\\\]|\\\\.)*)\",\"rows\":(\\d+)," +
      "\"bytes\":(\\d+),\"minBucket\":(-?\\d+),\"maxBucket\":(-?\\d+)" +
      "(?:,\"stats\":\\{([^}]*)\\})?\\}").r
    entry.findAllMatchIn(text).map(m =>
      FileEntry(unescape(m.group(1)), m.group(2).toLong, m.group(3).toLong,
        m.group(4).toLong, m.group(5).toLong, 0L, "",
        Option(m.group(6)).map(parseStats).getOrElse(Map.empty))).toSeq
  }

  /** Shards are immutable once published, so their parsed entries cache
    * process-wide (repeated snapshot loads — delta walks, expire, the
    * incremental-index probe loop — re-read only the small list).
    * Bounded: a blown cap clears wholesale (no LRU bookkeeping; refill
    * is one shard read each). */
  private val shardCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[FileEntry]]()
  private val ShardCacheMax = 1024

  private def readShardRaw(spark: SparkSession, dir: String,
                           name: String): Seq[FileEntry] = {
    val key = s"${manifestDir(dir)}/$name"
    val cached = shardCache.get(key)
    if (cached != null) return cached
    val in = fs(spark, dir).open(new org.apache.hadoop.fs.Path(manifestDir(dir), name))
    val bytes = org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
    in.close()
    val parsed = parseShard(new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
    if (shardCache.size() >= ShardCacheMax) shardCache.clear()
    shardCache.put(key, parsed)
    parsed
  }

  /** A shard's entries with the ref's commit identity stamped on. */
  private def loadRef(spark: SparkSession, dir: String,
                      ref: ManifestRef): Seq[FileEntry] =
    readShardRaw(spark, dir, ref.name)
      .map(_.copy(addedAt = ref.addedAt, kind = ref.kind))

  /** Write one or more immutable manifest shards for `entries`; returns
    * refs with addedAt = 0 (the publisher stamps the final snapshot id
    * into the LIST — retries re-stamp without touching the shards). */
  private def writeShards(spark: SparkSession, dir: String,
                          entries: Seq[FileEntry], kind: String): Seq[ManifestRef] = {
    if (entries.isEmpty) return Seq.empty
    val f = fs(spark, dir)
    val md = new org.apache.hadoop.fs.Path(manifestDir(dir))
    if (!f.exists(md)) f.mkdirs(md)
    entries.grouped(MaxShardEntries).zipWithIndex.map { case (group, i) =>
      val name = s"manifest-${java.util.UUID.randomUUID().toString.take(8)}-$i.json"
      val out = f.create(new org.apache.hadoop.fs.Path(md, name), false)
      out.write(shardBody(group).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      out.close()
      // shard-level stats only for columns EVERY file in the group
      // bounds — anything else would make ref-level pruning unsound
      val sharedCols = group.map(_.stats.keySet).reduce(_ intersect _)
      val refStats = sharedCols.map(c => c -> (
        group.map(_.stats(c)._1).min, group.map(_.stats(c)._2).max)).toMap
      ManifestRef(name, group.length, group.map(_.rows).sum,
        group.map(_.bytes).sum, group.map(_.minBucket).min,
        group.map(_.maxBucket).max, 0L, kind, refStats)
    }.toSeq
  }

  /** A dead writer's claim older than this may be broken by a new
    * writer (the claim holder crashed between claim and publish). */
  private val ClaimTtlMs = 15L * 60 * 1000

  /**
   * Optimistic-concurrency publish (round-12; the Delta/Iceberg commit
   * protocol shape). Returns false on a LOST RACE — another writer
   * already published this snapshot id — in which case the caller must
   * re-read the latest snapshot, rebase its shard-ref list, and retry.
   *
   * Why not rename alone: HDFS rename fails on an existing destination,
   * but LocalFileSystem (File.renameTo) silently OVERWRITES — two
   * writers both publishing snapshot-(N+1).json would let the second
   * erase the first's files from the manifest. So mutual exclusion
   * comes from an EXCLUSIVE CREATE (`create(path, overwrite=false)`)
   * of a claim file, which both filesystems make atomic, while reader
   * atomicity still comes from temp-write + rename (readers only ever
   * list fully-written `snapshot-*.json` names — `.claim`, `.tmp`, and
   * the `manifest-*.json` shards never match the snapshot filter).
   */
  private def tryPublish(spark: SparkSession, dir: String,
                         meta: SnapshotMeta): Boolean = {
    val f = fs(spark, dir)
    val md = new org.apache.hadoop.fs.Path(manifestDir(dir))
    if (!f.exists(md)) f.mkdirs(md)
    val name = f"snapshot-${meta.id}%09d.json"
    val fin = new org.apache.hadoop.fs.Path(md, name)
    if (f.exists(fin)) return false // already published by someone else
    val claim = new org.apache.hadoop.fs.Path(md, s"$name.claim")
    // break a stale claim from a crashed writer; a live one is younger
    try {
      val st = f.getFileStatus(claim)
      if (System.currentTimeMillis() - st.getModificationTime > ClaimTtlMs)
        f.delete(claim, false)
    } catch { case _: java.io.FileNotFoundException => }
    if (!createExclusive(f, claim)) return false // claim exists: lost
    try {
      if (f.exists(fin)) return false // claimed too late: winner already renamed
      // attempt-unique temp: even a claim-protocol violation (or a
      // broken stale claim whose writer is still alive) never has two
      // writers sharing one temp path
      val tmp = new org.apache.hadoop.fs.Path(md,
        s".$name.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
      val out = f.create(tmp, true)
      out.write(listBody(meta).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      out.close()
      if (!f.rename(tmp, fin)) {
        f.delete(tmp, false)
        if (f.exists(fin)) return false // renamed under us: lost the race
        throw new java.io.IOException(s"GraftTable: manifest publish failed: $fin")
      }
      true
    } finally f.delete(claim, false)
  }

  /** Atomic claim creation. HDFS-like filesystems give O_EXCL semantics
    * through create(overwrite = false); the local ChecksumFileSystem
    * does NOT — its exists-then-create is two steps (plus a .crc
    * sibling), and GraftCatalogSpec's commit-race test caught two
    * writers both "holding" a claim through that window. For file://
    * the claim goes through java.nio Files.createFile, which is O_EXCL
    * at the syscall. */
  private[sources] def createExclusive(
      f: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Boolean =
    if ("file" == f.getUri.getScheme) {
      try {
        java.nio.file.Files.createFile(
          java.nio.file.Paths.get(p.toUri.getPath))
        true
      } catch { case _: java.io.IOException => false } // exists (or unwritable): lost
    } else {
      try { f.create(p, false).close(); true }
      catch { case _: java.io.IOException => false }
    }

  /** All snapshot ids present, ascending. */
  def snapshotIds(spark: SparkSession, dir: String): Seq[Long] = {
    val f = fs(spark, dir)
    val md = new org.apache.hadoop.fs.Path(manifestDir(dir))
    if (!f.exists(md)) Seq.empty
    else f.listStatus(md).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("snapshot-") && n.endsWith(".json"))
      .map(n => n.stripPrefix("snapshot-").stripSuffix(".json").toLong)
      .sorted
  }

  /** Load a snapshot's manifest LIST (latest when `id` is None) without
    * touching any shard; None on an empty table. */
  def snapshotMeta(spark: SparkSession, dir: String,
                   id: Option[Long] = None): Option[SnapshotMeta] = {
    val ids = snapshotIds(spark, dir)
    val want = id match {
      case Some(i) => if (ids.contains(i)) Some(i) else None
      case None => ids.lastOption
    }
    want.map { i =>
      val p = new org.apache.hadoop.fs.Path(manifestDir(dir), f"snapshot-$i%09d.json")
      val in = fs(spark, dir).open(p)
      val bytes = org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
      in.close()
      parseMeta(new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
    }
  }

  /** Load a snapshot fully materialized (every shard parsed; latest
    * when `id` is None). Pruned readers should prefer
    * [[readBuckets]]/[[readForBuckets]], which skip non-intersecting
    * shards entirely. */
  def snapshot(spark: SparkSession, dir: String,
               id: Option[Long] = None): Option[Snapshot] =
    snapshotMeta(spark, dir, id).map(m =>
      Snapshot(m.id, m.bucketCol, m.refs.flatMap(loadRef(spark, dir, _))))

  // ------------------------------------------------------------ writes

  /** Any live data-file path of the snapshot (one shard read). */
  private def firstFilePath(spark: SparkSession, dir: String,
                            meta: SnapshotMeta): Option[String] =
    meta.refs.headOption.flatMap(r =>
      loadRef(spark, dir, r).headOption.map(_.path))

  /** Name-based union of two table schemas (a's columns first); a
    * column on both sides must type-match. All fields nullable — any
    * column may predate some files. */
  private def unionSchemas(dir: String,
                           a: org.apache.spark.sql.types.StructType,
                           b: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.StructType
    val aT = a.fields.map(f => f.name -> f.dataType.catalogString).toMap
    val clash = b.fields.filter(f => aT.get(f.name).exists(_ != f.dataType.catalogString))
    require(clash.isEmpty,
      s"GraftTable at $dir: concurrent schema evolution disagrees on " +
        s"${clash.map(_.name).mkString(", ")}")
    StructType((a.fields ++ b.fields.filterNot(f => aT.contains(f.name)))
      .map(_.copy(nullable = true)))
  }

  /** The table schema of a snapshot: the stored DDL when present
    * (free), else one parquet footer (pre-evolution metadata). */
  private def tableSchema(spark: SparkSession, dir: String,
                          prev: SnapshotMeta): Option[org.apache.spark.sql.types.StructType] =
    prev.schema.orElse(
      firstFilePath(spark, dir, prev).map(p => spark.read.parquet(p).schema))

  /**
   * Resolve an append's schema against the table's (the Delta
   * enforcement shape, name-based and order-insensitive). Returns the
   * aligned DataFrame plus the (possibly evolved) table schema.
   *
   * Strict (`mergeSchema = false`, default): names + types must match
   * exactly.
   *
   * Merge (`mergeSchema = true`): NEW columns are admitted (appended,
   * as nullable, to the table schema — old files surface them as null
   * through the stored-schema read path); columns the append OMITS are
   * filled with typed nulls; a column present on both sides must still
   * type-match — silent type change is never admitted.
   */
  private def resolveSchema(spark: SparkSession, dir: String,
                            prev: SnapshotMeta, incoming: DataFrame,
                            mergeSchema: Boolean)
      : (DataFrame, org.apache.spark.sql.types.StructType) = {
    import org.apache.spark.sql.types.StructType
    val nullable = StructType(incoming.schema.fields.map(_.copy(nullable = true)))
    val existing = tableSchema(spark, dir, prev).getOrElse(return (incoming, nullable))
    // catalogString, not DataType equality: parquet read-back flips
    // array/struct NULLABILITY flags (containsNull) that don't change
    // what rows fit the table — names + value types are the contract
    def typeOf(s: StructType) =
      s.fields.map(f => f.name -> f.dataType.catalogString).toMap
    val tTypes = typeOf(existing)
    val aTypes = typeOf(incoming.schema)
    val shared = tTypes.keySet.intersect(aTypes.keySet)
    val typeClash = shared.filter(n => tTypes(n) != aTypes(n))
    def describe(s: StructType) =
      s.fields.map(f => s"${f.name}:${f.dataType.simpleString}").sorted.mkString(", ")
    require(typeClash.isEmpty,
      s"GraftTable.append: schema mismatch at $dir — table has " +
        s"${describe(existing)} but the append has ${describe(incoming.schema)}" +
        s" (type change on ${typeClash.toSeq.sorted.mkString(", ")})")
    if (!mergeSchema) {
      require(tTypes.keySet == aTypes.keySet,
        s"GraftTable.append: schema mismatch at $dir — table has " +
          s"${describe(existing)} but the append has ${describe(incoming.schema)}" +
          s" (pass mergeSchema = true to evolve)")
      (incoming, StructType(existing.fields.map(_.copy(nullable = true))))
    } else {
      // evolved schema: table columns in table order, new columns after
      val newCols = incoming.schema.fields.filter(f => !tTypes.contains(f.name))
      val evolved = StructType(
        (existing.fields ++ newCols).map(_.copy(nullable = true)))
      // align the append to it; omitted table columns fill with nulls
      val aligned = incoming.select(evolved.fields.map(f =>
        if (aTypes.contains(f.name)) col(f.name)
        else lit(null).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
      (aligned, evolved)
    }
  }

  /** Max publish retries before an append/compact gives up (each retry
    * rebases on the latest snapshot — losing that many races in a row
    * means pathological contention, better surfaced than spun on). */
  private val MaxCommitRetries = 20

  /** Per-file row count and [min, max] for the bucket column plus every
    * declared stats column (a column all-null within a file records no
    * bound there — readers treat the absence as unbounded, which keeps
    * pruning sound).
    *
    * Round-12 fast path: the bounds come from the PARQUET FOOTERS —
    * driver-side, O(files) metadata reads, never a data scan (INT64
    * column statistics are exact, and every bucket column is cast to
    * long before write). Previously every append/compact re-READ its
    * freshly written files in a Spark job just to recompute what the
    * writer's footers already record — one whole extra pass over every
    * ingested byte at 100 TB. Falls back to the columnar scan whenever
    * a footer lacks usable INT64 statistics (non-long stats column,
    * stats disabled), so the recorded bounds are identical either way. */
  private def fileStats(spark: SparkSession, moved: Seq[(String, Long)],
                        bucketCol: String, statsCols: Seq[String],
                        kind: String): Seq[FileEntry] = {
    if (moved.isEmpty) return Seq.empty
    statsCols.foreach(c => require(c.matches("\\w+"),
      s"GraftTable stats column name must be \\w+: $c"))
    footerStats(spark, moved, bucketCol, statsCols, kind).getOrElse(
      scanStats(spark, moved, bucketCol, statsCols, kind))
  }

  /** Footer route for [[fileStats]]: None when any file/column lacks
    * exact INT64 statistics — the caller then runs the scan. Per-block
    * min/max combine exactly like the scan's min/max aggregate; blocks
    * or files without values for a column contribute no bound. */
  private def footerStats(spark: SparkSession, moved: Seq[(String, Long)],
                          bucketCol: String, statsCols: Seq[String],
                          kind: String): Option[Seq[FileEntry]] = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    try {
      val out = moved.map { case (path, bytes) =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(path), conf)
        val footer = {
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try r.getFooter finally r.close()
        }
        val blocks = footer.getBlocks.asScala.toSeq
        val rows = blocks.map(_.getRowCount).sum
        // Left(()) = stats unusable (fall back); Right(None) = column has
        // no values in this file (soundly unbounded)
        def bound(name: String): Either[Unit, Option[(Long, Long)]] = {
          var lo = Long.MaxValue; var hi = Long.MinValue; var seen = false
          blocks.foreach { b =>
            b.getColumns.asScala.find(_.getPath.toDotString == name) match {
              case None => // column absent from this file (pre-evolution)
              case Some(c) => c.getStatistics match {
                case ls: org.apache.parquet.column.statistics.LongStatistics
                    if ls.hasNonNullValue =>
                  // round 13 (r12 ADVICE): only PLAIN int64 qualifies —
                  // an annotated INT64 (TIMESTAMP/TIME micros etc.)
                  // would record footer-unit bounds where the scan
                  // fallback's cast("long") records epoch seconds, so
                  // the recorded zone map would depend on the route.
                  // A plain-integer annotation (INT(64, signed)) is the
                  // same value space as the cast; anything else falls
                  // back to the scan.
                  val ann = c.getPrimitiveType.getLogicalTypeAnnotation
                  val plainInt64 = ann == null || (ann match {
                    case i: org.apache.parquet.schema.LogicalTypeAnnotation.IntLogicalTypeAnnotation =>
                      i.getBitWidth == 64 && i.isSigned
                    case _ => false
                  })
                  if (!plainInt64) return Left(())
                  lo = math.min(lo, ls.getMin); hi = math.max(hi, ls.getMax)
                  seen = true
                case st if st != null && st.isNumNullsSet &&
                    st.getNumNulls == b.getRowCount => // all-null block
                case _ => return Left(())
              }
            }
          }
          Right(if (seen) Some((lo, hi)) else None)
        }
        val (bLo, bHi) = bound(bucketCol) match {
          case Right(Some(b)) => b
          case _ => return None // bucket bound is required; the scan decides
        }
        val stats = statsCols.flatMap { c =>
          bound(c) match {
            case Right(opt) => opt.map(c -> _)
            case Left(_) => return None
          }
        }.toMap
        FileEntry(path, rows, bytes, bLo, bHi, 0L, kind, stats)
      }
      Some(out)
    } catch { case _: Exception => None }
  }

  /** The original one-columnar-pass route for [[fileStats]] — now the
    * fallback behind [[footerStats]]. */
  private def scanStats(spark: SparkSession, moved: Seq[(String, Long)],
                        bucketCol: String, statsCols: Seq[String],
                        kind: String): Seq[FileEntry] = {
    val byteSizes = moved.toMap
    val aggs = Seq(count(lit(1)).as("__n"),
      min(col(bucketCol)).as("__lo"), max(col(bucketCol)).as("__hi")) ++
      statsCols.flatMap(c => Seq(
        min(col(c).cast("long")).as(s"__lo_$c"),
        max(col(c).cast("long")).as(s"__hi_$c")))
    spark.read.parquet(moved.map(_._1): _*)
      .groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect().toSeq.map { r =>
        // input_file_name returns a URI form; match on suffix
        val uri = r.getString(0)
        val key = byteSizes.keys.find(k => uri.endsWith(
          new org.apache.hadoop.fs.Path(k).getName)).getOrElse(uri)
        val stats = statsCols.zipWithIndex.flatMap { case (c, i) =>
          val lo = 4 + 2 * i
          if (r.isNullAt(lo) || r.isNullAt(lo + 1)) None
          else Some(c -> (r.getLong(lo), r.getLong(lo + 1)))
        }.toMap
        FileEntry(key, r.getLong(1), byteSizes.getOrElse(key, 0L),
          r.getLong(2), r.getLong(3), 0L, kind, stats)
      }
  }

  /** Append `df` as a new snapshot: rows land range-clustered by
    * `bucketCol` (so per-file min/max stats are selective from the first
    * write), per-file stats are computed in one columnar pass over the
    * new files only, the new files' manifest shard is written ONCE
    * (commit cost is O(new files) + O(#shards) for the list — never
    * O(total files)), and the list publishes atomically with OPTIMISTIC
    * CONCURRENCY: a lost publish race re-reads the latest snapshot,
    * rebases the shard-ref list, and retries — the moved data files and
    * written shards stay valid across retries, so a retry costs a list
    * read, not a rewrite. Concurrent appends therefore both survive
    * with all rows present. Returns the new snapshot's META (id + shard
    * refs) — deliberately NOT the materialized file list, so an append
    * to a 10^6-file table never parses shards it didn't write.
    *
    * `statsCols` (round-12 zone maps) declares extra LONG-valued
    * columns whose per-file [min, max] land in the manifest — the
    * generalized-skipping leg [[readWhere]] prunes on. */
  def append(df: DataFrame, dir: String, bucketCol: String,
             numFiles: Option[Int] = None,
             mergeSchema: Boolean = false,
             statsCols: Seq[String] = Nil): SnapshotMeta = {
    val spark = df.sparkSession
    val prev = snapshotMeta(spark, dir)
    val incoming = df.withColumn(bucketCol, col(bucketCol).cast("long"))
    prev.foreach { s =>
      require(s.bucketCol == bucketCol,
        s"GraftTable at $dir is bucketed by ${s.bucketCol}, not $bucketCol")
    }
    val (clustered, schema) = prev match {
      case Some(s) => resolveSchema(spark, dir, s, incoming, mergeSchema)
      case None => (incoming, org.apache.spark.sql.types.StructType(
        incoming.schema.fields.map(_.copy(nullable = true))))
    }
    val stamp = java.util.UUID.randomUUID().toString.take(8)
    val tmp = s"${dir.stripSuffix("/")}/.append_$stamp"
    (numFiles match {
      case Some(n) => clustered.repartitionByRange(n, col(bucketCol))
      case None => clustered.repartitionByRange(col(bucketCol))
    }).sortWithinPartitions(col(bucketCol))
      .write.mode("overwrite").parquet(tmp)
    val f = fs(spark, dir)
    val dd = new org.apache.hadoop.fs.Path(dataDir(dir))
    if (!f.exists(dd)) f.mkdirs(dd)
    val moved = f.listStatus(new org.apache.hadoop.fs.Path(tmp)).toSeq
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map { st =>
        val dest = new org.apache.hadoop.fs.Path(dd, s"$stamp-${st.getPath.getName}")
        require(f.rename(st.getPath, dest), s"GraftTable append move failed: $dest")
        // record the QUALIFIED form (scheme + authority) so expire's
        // listStatus comparison and cross-FS readers resolve identically
        (f.makeQualified(dest).toString, f.getFileStatus(dest).getLen)
      }
    f.delete(new org.apache.hadoop.fs.Path(tmp), true)
    // per-file stats over the NEW files only
    val statEntries = fileStats(spark, moved, bucketCol, statsCols, "append")
    val newRefs = writeShards(spark, dir, statEntries, "append")
    var base = prev
    var attempt = 0
    while (attempt < MaxCommitRetries) {
      val nextId = base.map(_.id + 1).getOrElse(1L)
      // a racing writer may itself have evolved the schema: the commit
      // of record is the metadata-level UNION (both writers' files are
      // already on disk in their own shapes; the union schema reads
      // each with nulls for the columns it predates)
      val mergedSchema = base.flatMap(_.schema)
        .map(s => unionSchemas(dir, s, schema)).getOrElse(schema)
      val meta = SnapshotMeta(nextId, bucketCol,
        base.map(_.refs).getOrElse(Seq.empty) ++
          newRefs.map(_.copy(addedAt = nextId)),
        Some(mergedSchema.toDDL))
      if (tryPublish(spark, dir, meta)) return meta
      attempt += 1
      Thread.sleep(math.min(50L * attempt, 500L)) // back off behind the claim holder
      val rebased = snapshotMeta(spark, dir)
      rebased.foreach { s =>
        require(s.bucketCol == bucketCol,
          s"GraftTable at $dir is bucketed by ${s.bucketCol}, not $bucketCol")
      }
      base = rebased
    }
    throw new java.io.IOException(
      s"GraftTable.append: lost $MaxCommitRetries publish races at $dir — giving up")
  }

  /** Rewrite the CURRENT snapshot into ~`targetFileBytes` files
    * range-clustered by bucket and publish it as a new snapshot whose
    * file list is the compacted files ONLY. The row multiset is
    * unchanged (spec-pinned); old snapshots keep reading their own
    * files until [[expire]]. No-op (returns the current snapshot) when
    * fewer than `minFiles` files or compaction would not shrink.
    *
    * `clusterBy` (round-12): a non-empty column list switches the
    * layout from the bucket range sort to a K-WAY Z-ORDER over those
    * columns ([[graft.operators.Layout.zValueN]] on range-scaled grid
    * coordinates): each rewritten file then covers a small hyper-box
    * in EVERY clustered dimension, so [[readWhere]] range predicates
    * on ANY of them prune files — at the documented price that the
    * single-column bucket ranges widen (~sqrt trade for 2-D). Stats
    * columns carried in the current snapshot are recomputed for the
    * rewritten files automatically; `statsCols` adds new ones. */
  def compact(spark: SparkSession, dir: String,
              targetFileBytes: Long = 128L << 20,
              minFiles: Int = 4,
              clusterBy: Seq[String] = Nil,
              statsCols: Seq[String] = Nil): Snapshot = {
    val curMeta = snapshotMeta(spark, dir).getOrElse(
      throw new IllegalStateException(s"GraftTable.compact: empty table at $dir"))
    val cur = Snapshot(curMeta.id, curMeta.bucketCol,
      curMeta.refs.flatMap(loadRef(spark, dir, _)))
    if (cur.files.length < minFiles) return cur
    val totalBytes = cur.files.map(_.bytes).sum
    val nOut = math.max(1L, math.min(cur.files.length - 1L,
      (totalBytes + targetFileBytes - 1) / targetFileBytes)).toInt
    if (nOut >= cur.files.length) return cur
    // stats recorded for the rewrite: whatever the live files already
    // bound, plus any newly requested columns
    val allStats = (cur.files.flatMap(_.stats.keys) ++ statsCols)
      .distinct.filterNot(_ == cur.bucketCol)
    val stamp = "c" + java.util.UUID.randomUUID().toString.take(8)
    val tmp = s"${dir.stripSuffix("/")}/.compact_$stamp"
    // read with the stored schema (when present) so a post-evolution
    // compaction materializes every column — nulls included — into the
    // rewritten files
    val reader = curMeta.schema.foldLeft(spark.read)((r, s) => r.schema(s))
    val live = reader.parquet(cur.files.map(_.path): _*)
    val clustered =
      if (clusterBy.isEmpty)
        live.repartitionByRange(nOut, col(cur.bucketCol))
          .sortWithinPartitions(col(cur.bucketCol))
      else {
        import graft.operators.Layout
        val bits = math.min(16, 62 / clusterBy.length)
        // one pass for the global ranges that anchor the monotone grid
        val bounds = live.agg(
          clusterBy.flatMap(c => Seq(min(col(c).cast("long")),
            max(col(c).cast("long")))).head,
          clusterBy.flatMap(c => Seq(min(col(c).cast("long")),
            max(col(c).cast("long")))).tail: _*).collect().head
        val coords = clusterBy.zipWithIndex.map { case (c, i) =>
          require(!bounds.isNullAt(2 * i),
            s"GraftTable.compact: clusterBy column $c is all-null")
          Layout.gridScale(col(c), bounds.getLong(2 * i),
            bounds.getLong(2 * i + 1), bits)
        }
        live.withColumn("__z", Layout.zValueN(coords, bits))
          .repartitionByRange(nOut, col("__z"))
          .sortWithinPartitions(col("__z"))
          .drop("__z")
      }
    clustered.write.mode("overwrite").parquet(tmp)
    val f = fs(spark, dir)
    val dd = new org.apache.hadoop.fs.Path(dataDir(dir))
    val moved = f.listStatus(new org.apache.hadoop.fs.Path(tmp)).toSeq
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map { st =>
        val dest = new org.apache.hadoop.fs.Path(dd, s"$stamp-${st.getPath.getName}")
        require(f.rename(st.getPath, dest), s"GraftTable compact move failed: $dest")
        (f.makeQualified(dest).toString, f.getFileStatus(dest).getLen)
      }
    f.delete(new org.apache.hadoop.fs.Path(tmp), true)
    val statEntries = fileStats(spark, moved, cur.bucketCol, allStats, "compact")
    val newRefs = writeShards(spark, dir, statEntries, "compact")
    // optimistic publish: if an APPEND won the race for cur.id+1, the
    // compacted files cover only the rows up to cur.id — the retried
    // snapshot must carry the interlopers' append SHARDS alongside the
    // compacted set, or their rows would silently vanish from latest
    var attempt = 0
    while (attempt < MaxCommitRetries) {
      val latest = snapshotMeta(spark, dir).getOrElse(
        SnapshotMeta(cur.id, cur.bucketCol, Seq.empty))
      val nextId = latest.id + 1
      val interlopers = latest.refs.filter(r =>
        r.addedAt > cur.id && r.kind == "append")
      val meta = SnapshotMeta(nextId, cur.bucketCol,
        newRefs.map(_.copy(addedAt = nextId)) ++ interlopers,
        latest.schemaDdl.orElse(curMeta.schemaDdl))
      if (tryPublish(spark, dir, meta))
        return Snapshot(nextId, cur.bucketCol,
          meta.refs.flatMap(loadRef(spark, dir, _)))
      attempt += 1
      Thread.sleep(math.min(50L * attempt, 500L))
    }
    throw new java.io.IOException(
      s"GraftTable.compact: lost $MaxCommitRetries publish races at $dir — giving up")
  }

  /**
   * Copy-on-write row deletion (round-12; the Delta `DELETE WHERE`
   * shape — the takedown path a training-data corpus eventually needs):
   * rewrite ONLY the files that hold matching rows, dropping them;
   * every other file keeps its identity (no data movement, its shard
   * entry is byte-identical). Cost is therefore proportional to the
   * files the victims live in, not the table — and when the caller
   * knows the victims' bucket keys (`buckets`, the content-hash /
   * doc-id shape), candidate files prune MANIFEST-SIDE first, so a
   * handful of takedowns against a clustered 100 TB table scans a
   * handful of files.
   *
   * Mechanics: matching files are found with one pruned scan
   * (`input_file_name` + the predicate), rewritten without the
   * matching rows as kind="delete" entries, and the touched shards are
   * replaced by metadata-only rewrites (kept entries, original
   * addedAt/kind preserved). kind="delete" keeps [[delta]] exact on
   * its own terms: delta is the APPEND log — rewrites add no rows to
   * it, and a delta window that predates the delete still reads the
   * original append files (on disk until [[expire]]), so deletions are
   * NOT retroactively reflected in older windows (the standard
   * append-log caveat; full current state is [[read]]).
   *
   * Concurrency: racing APPENDS rebase and merge like any commit. A
   * racing compaction/delete moved the files under us — that surfaces
   * as an IOException conflict rather than resurrecting rewritten
   * rows; re-run against the new state.
   *
   * Returns the new snapshot meta, or the CURRENT one when nothing
   * matched (no empty commit).
   */
  def deleteWhere(spark: SparkSession, dir: String,
                  condition: org.apache.spark.sql.Column,
                  buckets: Option[Array[Long]] = None): SnapshotMeta = {
    val base = snapshotMeta(spark, dir).getOrElse(
      throw new IllegalStateException(s"GraftTable.deleteWhere: empty table at $dir"))
    val candidates = buckets match {
      case Some(bs) => pruneForBuckets(spark, dir, bs)._2
      case None => base.refs.flatMap(loadRef(spark, dir, _))
    }
    if (candidates.isEmpty) return base
    def leaf(p: String) = new org.apache.hadoop.fs.Path(p).getName
    val hitNames = readFiles(spark, base, candidates, candidates.head.path)
      .filter(condition)
      .select(input_file_name().as("__f")).distinct()
      .collect().map(r => leaf(r.getString(0))).toSet
    if (hitNames.isEmpty) return base
    val isHit = (e: FileEntry) => hitNames.contains(leaf(e.path))
    val hitFiles = candidates.filter(isHit)
    // rewrite the hit files without the matching rows
    val stamp = "d" + java.util.UUID.randomUUID().toString.take(8)
    val tmp = s"${dir.stripSuffix("/")}/.delete_$stamp"
    readFiles(spark, base, hitFiles, hitFiles.head.path)
      .filter(!condition)
      .repartitionByRange(math.max(1, hitFiles.length), col(base.bucketCol))
      .sortWithinPartitions(col(base.bucketCol))
      .write.mode("overwrite").parquet(tmp)
    val f = fs(spark, dir)
    val dd = new org.apache.hadoop.fs.Path(dataDir(dir))
    val moved = f.listStatus(new org.apache.hadoop.fs.Path(tmp)).toSeq
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map { st =>
        val dest = new org.apache.hadoop.fs.Path(dd, s"$stamp-${st.getPath.getName}")
        require(f.rename(st.getPath, dest), s"GraftTable delete move failed: $dest")
        (f.makeQualified(dest).toString, f.getFileStatus(dest).getLen)
      }
    f.delete(new org.apache.hadoop.fs.Path(tmp), true)
    // carry forward whatever stats columns the rewritten files bounded
    val carried = hitFiles.flatMap(_.stats.keys).distinct
    val statEntries = fileStats(spark, moved, base.bucketCol, carried, "delete")
    val newRefs = writeShards(spark, dir, statEntries, "delete")
    // metadata-only replacements for every shard that listed a hit file
    // (kept entries, ORIGINAL addedAt/kind — retries never re-stamp)
    val replacements: Map[String, Option[ManifestRef]] =
      base.refs.flatMap { r =>
        val entries = loadRef(spark, dir, r)
        if (!entries.exists(isHit)) None
        else {
          val kept = entries.filterNot(isHit)
          val rep =
            if (kept.isEmpty) None
            else writeShards(spark, dir, kept, r.kind).headOption
              .map(_.copy(addedAt = r.addedAt))
          Some(r.name -> rep)
        }
      }.toMap
    var attempt = 0
    while (attempt < MaxCommitRetries) {
      val latest = snapshotMeta(spark, dir).getOrElse(base)
      // every base shard must still be live (appends only ADD refs); a
      // vanished one means a racing compaction/delete rewrote the files
      // we based this delete on
      val latestNames = latest.refs.map(_.name).toSet
      if (!base.refs.forall(r => latestNames.contains(r.name)))
        throw new java.io.IOException(
          s"GraftTable.deleteWhere: concurrent compaction/delete at $dir — " +
            "re-run against the new state")
      val nextId = latest.id + 1
      val refs = latest.refs.flatMap(r =>
        replacements.get(r.name) match {
          case None => Some(r) // untouched (or an interloper append)
          case Some(rep) => rep
        }) ++ newRefs.map(_.copy(addedAt = nextId))
      val meta = SnapshotMeta(nextId, base.bucketCol, refs, latest.schemaDdl)
      if (tryPublish(spark, dir, meta)) return meta
      attempt += 1
      Thread.sleep(math.min(50L * attempt, 500L))
    }
    throw new java.io.IOException(
      s"GraftTable.deleteWhere: lost $MaxCommitRetries publish races at $dir — giving up")
  }

  /** Drop manifests older than the newest `keepSnapshots` and delete
    * data files — and manifest shards — no kept snapshot references.
    * Bounds [[delta]] lookback to the kept range. Returns (manifests
    * dropped, files deleted). */
  def expire(spark: SparkSession, dir: String, keepSnapshots: Int = 2): (Int, Int) = {
    require(keepSnapshots >= 1, "keepSnapshots >= 1")
    val ids = snapshotIds(spark, dir)
    val drop = ids.dropRight(keepSnapshots)
    if (drop.isEmpty) return (0, 0)
    val keep = ids.takeRight(keepSnapshots)
    val f = fs(spark, dir)
    val keptMetas = keep.flatMap(i => snapshotMeta(spark, dir, Some(i)))
    val keptShards = keptMetas.flatMap(_.refs.map(_.name)).toSet
    val referenced = keptMetas.flatMap(_.refs).distinct
      .flatMap(r => loadRef(spark, dir, r).map(e =>
        f.makeQualified(new org.apache.hadoop.fs.Path(e.path)).toString)).toSet
    val dd = new org.apache.hadoop.fs.Path(dataDir(dir))
    val deleted =
      if (!f.exists(dd)) 0
      else f.listStatus(dd).toSeq
        .filter(st => !referenced.contains(f.makeQualified(st.getPath).toString))
        .map { st => f.delete(st.getPath, false); 1 }.sum
    drop.foreach { i =>
      f.delete(new org.apache.hadoop.fs.Path(
        manifestDir(dir), f"snapshot-$i%09d.json"), false)
    }
    val md = new org.apache.hadoop.fs.Path(manifestDir(dir))
    f.listStatus(md).toSeq.map(_.getPath).foreach { p =>
      val n = p.getName
      // shards referenced by no kept snapshot are dead (their snapshots
      // are gone — time travel to them already fails)
      if (n.startsWith("manifest-") && n.endsWith(".json") && !keptShards.contains(n))
        f.delete(p, false)
      // housekeeping: a claim for an already-published id can never
      // succeed (its final exists) — it is a dead writer's leftover
      if (n.endsWith(".json.claim") &&
          n.stripSuffix(".json.claim").stripPrefix("snapshot-").toLong <= ids.last)
        f.delete(p, false)
    }
    (drop.length, deleted)
  }

  // ------------------------------------------------------------ reads

  /** Read `files` applying the snapshot's stored schema when present —
    * files written before a column evolved in surface it as null. */
  private def readFiles(spark: SparkSession, meta: SnapshotMeta,
                        files: Seq[FileEntry], schemaFrom: => String): DataFrame = {
    val reader = meta.schema.foldLeft(spark.read)((r, s) => r.schema(s))
    if (files.nonEmpty) reader.parquet(files.map(_.path): _*)
    else reader.parquet(schemaFrom).limit(0)
  }

  /** Full scan of a snapshot (latest by default). */
  def read(spark: SparkSession, dir: String,
           snapshotId: Option[Long] = None): DataFrame = {
    val meta = snapshotMeta(spark, dir, snapshotId).getOrElse(
      throw new IllegalStateException(s"GraftTable.read: empty table at $dir"))
    val files = meta.refs.flatMap(loadRef(spark, dir, _))
    require(files.nonEmpty, s"GraftTable.read: snapshot ${meta.id} has no files")
    readFiles(spark, meta, files, files.head.path)
  }

  /** Manifest-side half of [[readBuckets]]: the file entries whose
    * [minBucket, maxBucket] intersects [lo, hi], pruned at BOTH levels
    * (a non-intersecting shard is never even read). Public so planners
    * and probes can cost the prune without a Spark read. */
  def pruneRange(spark: SparkSession, dir: String, lo: Long, hi: Long,
                 snapshotId: Option[Long] = None): (SnapshotMeta, Seq[FileEntry]) = {
    require(lo <= hi, s"bad bucket range [$lo, $hi]")
    val meta = snapshotMeta(spark, dir, snapshotId).getOrElse(
      throw new IllegalStateException(s"GraftTable: empty table at $dir"))
    val hit = meta.refs.filter(r => r.maxBucket >= lo && r.minBucket <= hi)
      .flatMap(loadRef(spark, dir, _))
      .filter(e => e.maxBucket >= lo && e.minBucket <= hi)
    (meta, hit)
  }

  /** Manifest-side half of [[readForBuckets]]: the file entries whose
    * range contains any requested bucket — shard refs pruned first,
    * then the surviving shards' entries. Sorted-merge over (sorted
    * ranges, sorted buckets). */
  def pruneForBuckets(spark: SparkSession, dir: String, buckets: Array[Long],
                      snapshotId: Option[Long] = None): (SnapshotMeta, Seq[FileEntry]) = {
    val meta = snapshotMeta(spark, dir, snapshotId).getOrElse(
      throw new IllegalStateException(s"GraftTable: empty table at $dir"))
    val bs = buckets.distinct.sorted
    def anyIn(lo: Long, hi: Long): Boolean = {
      // any bucket in [lo, hi]? binary-search the sorted set
      val i = java.util.Arrays.binarySearch(bs, lo)
      val from = if (i >= 0) i else -i - 1
      from < bs.length && bs(from) <= hi
    }
    val hit = meta.refs.filter(r => anyIn(r.minBucket, r.maxBucket))
      .flatMap(loadRef(spark, dir, _))
      .filter(e => anyIn(e.minBucket, e.maxBucket))
    (meta, hit)
  }

  /** Manifest-side half of [[readWhere]]: entries whose recorded
    * [min, max] for `column` intersects [lo, hi] — shard refs pruned
    * first. A ref or entry with NO recorded range for the column is
    * kept (unbounded), so pruning is sound for files that predate the
    * column's stats declaration. */
  def pruneWhere(spark: SparkSession, dir: String, column: String,
                 lo: Long, hi: Long,
                 snapshotId: Option[Long] = None): (SnapshotMeta, Seq[FileEntry]) = {
    require(lo <= hi, s"bad range [$lo, $hi]")
    val meta = snapshotMeta(spark, dir, snapshotId).getOrElse(
      throw new IllegalStateException(s"GraftTable: empty table at $dir"))
    if (column == meta.bucketCol) return pruneRange(spark, dir, lo, hi, snapshotId)
    val hit = meta.refs
      .filter(_.stats.get(column).forall { case (l, h) => h >= lo && l <= hi })
      .flatMap(loadRef(spark, dir, _))
      .filter(_.stats.get(column).forall { case (l, h) => h >= lo && l <= hi })
    (meta, hit)
  }

  /** Generalized zone-map scan (round-12): a range predicate on ANY
    * declared stats column opens only the [[pruneWhere]] survivors,
    * then the exact residual filter applies. With a z-order
    * [[compact]] layout over the same columns this is multi-dimensional
    * data skipping on a plain parquet table. */
  def readWhere(spark: SparkSession, dir: String, column: String,
                lo: Long, hi: Long,
                snapshotId: Option[Long] = None): DataFrame = {
    val (meta, hit) = pruneWhere(spark, dir, column, lo, hi, snapshotId)
    readFiles(spark, meta, hit, firstFilePath(spark, dir, meta).getOrElse(
      throw new IllegalStateException("empty snapshot")))
      .filter(col(column).cast("long").between(lo, hi))
  }

  /** Bucket-RANGE scan: only the [[pruneRange]] survivors are handed to
    * Spark (nothing else is listed or opened), then the exact residual
    * filter applies. */
  def readBuckets(spark: SparkSession, dir: String, lo: Long, hi: Long,
                  snapshotId: Option[Long] = None): DataFrame = {
    val (meta, hit) = pruneRange(spark, dir, lo, hi, snapshotId)
    readFiles(spark, meta, hit, firstFilePath(spark, dir, meta).getOrElse(
      throw new IllegalStateException("empty snapshot")))
      .filter(col(meta.bucketCol).between(lo, hi))
  }

  /** Bucket-SET scan (the incremental-index shape: a small batch's
    * bucket set against a large clustered table): the [[pruneForBuckets]]
    * survivors, then the exact residual filter. */
  def readForBuckets(spark: SparkSession, dir: String, buckets: Array[Long],
                     snapshotId: Option[Long] = None,
                     residualFilter: Boolean = true): DataFrame = {
    val (meta, hit) = pruneForBuckets(spark, dir, buckets, snapshotId)
    val pruned = readFiles(spark, meta, hit, firstFilePath(spark, dir, meta).getOrElse(
      throw new IllegalStateException("empty snapshot")))
    // residualFilter=false when the caller's own equality predicate (a
    // bucket-keyed JOIN) already applies exactly — a 100k-literal isin
    // would only duplicate it
    if (residualFilter)
      pruned.filter(col(meta.bucketCol).isin(
        buckets.distinct.sorted.map(java.lang.Long.valueOf): _*))
    else pruned
  }

  /** Rows appended AFTER snapshot `fromId` up to and including `toId`
    * (latest by default): the append-kind shards in that id range, read
    * directly — exact regardless of intervening compactions (compaction
    * adds no rows; the superseded append files stay on disk until
    * [[expire]], which therefore bounds delta lookback). Shard-level
    * addedAt makes the walk O(#lists + #hit shards) — no full
    * materialization of any snapshot. */
  def delta(spark: SparkSession, dir: String, fromId: Long,
            toId: Option[Long] = None): DataFrame = {
    val ids = snapshotIds(spark, dir)
    require(ids.nonEmpty, s"GraftTable.delta: empty table at $dir")
    val to = toId.getOrElse(ids.last)
    // fromId == 0 means "everything since the table existed" — which is
    // only answerable while snapshot 1 is still present. After expire()
    // drops early manifests, compaction snapshots list no append-kind
    // shards for the pre-compaction rows, so delta(0) would silently
    // return only post-compaction appends (round-11 ADVICE): reject it
    // like any other expired lookback and send the caller to read().
    require(ids.contains(fromId) || (fromId == 0L && ids.head == 1L),
      s"GraftTable.delta: snapshot $fromId expired or never existed " +
        s"(present: ${ids.mkString(",")}) — expire() bounded the lookback" +
        (if (fromId == 0L) "; use read() for the full current state" else ""))
    val hitRefs = (math.max(fromId + 1, ids.head) to to)
      .flatMap(i => snapshotMeta(spark, dir, Some(i)))
      .flatMap(m => m.refs.filter(r => r.addedAt > fromId && r.addedAt <= to &&
        r.kind == "append"))
      .distinctBy(_.name)
    // distinct by PATH, not just shard name: a deleteWhere replacement
    // shard lists a subset of its original's files under a new shard
    // name — both shards appear across the walked window and would
    // otherwise hand the shared paths to the reader twice
    val entries = hitRefs.flatMap(loadRef(spark, dir, _)).distinctBy(_.path)
    val base = snapshotMeta(spark, dir, Some(to)).get
    readFiles(spark, base, entries, firstFilePath(spark, dir, base).getOrElse(
      throw new IllegalStateException("empty snapshot")))
  }
}
