package graft

import graft.operators.{AHP, Apriori, AutoFeatureTransformer, BpeTrain, Canopy, Dedup, FCMModel, Joins, Layout, MeanImputer, Multimodal, OnlineAHP, OnlineTopsis, QualityClassifier, Quantiles, Sampling, Similarity, StandardScalerEst, TextAnalysis, Topsis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every query takes (spark, sfDir) and reads `sfDir/<table>.parquet`.
  * Double outputs are rounded to a fixed scale on BOTH the Spark and the
  * DuckDB side so reduction-order float noise cannot break the hash compare.
  */
object SparkEntry {

  /** Reads `dir/name.parquet`, absorbing physical-type drift across
    * testdata generations in ONE place (so queries never carry per-site
    * casts). `events.ts` has shipped as int64-nanos (read as LongType
    * under nanosAsLong=true), TIMESTAMP and TIMESTAMP_NTZ — every
    * event-time query wants epoch millis, normalized here. Sessions pin
    * spark.sql.session.timeZone=UTC, so the NTZ read hashes identically
    * to the DuckDB oracle's epoch_ms(ts). */
  private[graft] def tbl(s: SparkSession, dir: String, name: String): DataFrame = {
    val df = s.read.parquet(s"$dir/$name.parquet")
    if (name == "events") df.withColumn("ts", epochMillis(df, "ts")) else df
  }

  /** Column `c` as epoch-millis LONG whatever its physical carrier. */
  private def epochMillis(df: DataFrame, c: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types._
    df.schema(c).dataType match {
      case LongType => expr(s"$c div 1000000") // int64-nanos parquet read
      case TimestampType => unix_millis(col(c))
      case TimestampNTZType => unix_millis(col(c).cast(TimestampType)) // naive-as-UTC
      case other => throw new IllegalArgumentException(
        s"events.$c: unsupported event-time carrier $other")
    }
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_topsis")(spark, "/root/testdata/sf0.001")

  // ---- shared query configs (Spark impl and oracle SQL must agree) ----

  // 4x4 perfectly-consistent judgment matrix (CR = 0) over
  // (l_quantity, l_extendedprice, l_discount, l_tax).
  private val ahpJudgment = Array(
    Array(1.0, 2.0, 4.0, 8.0),
    Array(0.5, 1.0, 2.0, 4.0),
    Array(0.25, 0.5, 1.0, 2.0),
    Array(0.125, 0.25, 0.5, 1.0))
  private val ahpIndicator = Array(1, 1, 0, 0)
  private lazy val ahpW: Array[Double] = AHP.weightVector(ahpJudgment)

  // Fixed centroids over (l_quantity, l_extendedprice, l_discount, l_tax)
  // so the FCM predict path has a DuckDB-expressible oracle (fit itself is
  // golden-tested in FCMSpec; iterative fit has no SQL equivalent).
  private val fcmCentroids = Array(
    Array(10.0, 20000.0, 0.02, 0.02),
    Array(25.0, 50000.0, 0.05, 0.04),
    Array(40.0, 80000.0, 0.08, 0.06))

  // Explicit FCM-fit seeds over (l_quantity/50, l_discount*10, l_tax*10):
  // deterministic init + tol=0 pins the fit to exactly maxIter rounds, so
  // the whole iterative path has an unrolled SQL oracle (the seeded-sample
  // init path is golden-tested in FCMSpec — sampling is partition-layout-
  // dependent and has no SQL equivalent).
  private val fcmFitInit = Array(
    Array(0.2, 0.02, 0.1), Array(0.5, 0.5, 0.3),
    Array(0.9, 0.9, 0.6), Array(1.0, 0.1, 0.8))

  /** Unrolled-FCM oracle generator (m=2, explicit-init semantics): each
    * round is a membership CTE (squared distances with the reference's
    * zero guard, u_i = (dmin/d_i)/Σ) and a centroid CTE ((1/Σu²)·Σu²x,
    * mirroring the scal-by-reciprocal in FCM.runBlocks). The tol-based
    * early stop is emulated: dd$t = max |u$t - u$(t-1)| per round, and
    * the final centroids come from the first round whose delta <= tol —
    * exactly FCM.runBlocks' loop. Shared by q_fcm_fit (literal init) and
    * q_fcm_fit_hash (hash-sample init); `xCte` must expose rid plus
    * x0..x{dim-1}, `c0Cte` a one-row c0 with c{i}_{j} columns. */
  private def fcmFitOracle(xCte: String, c0Cte: String, k: Int, dim: Int,
                           iters: Int, tol: Double,
                           recursive: Boolean = false,
                           preC0Ctes: String = ""): String = {
    val xs = (0 until dim).map(j => s"x$j").mkString(", ")
    def round(t: Int): String = {
      val ds = (0 until k).map { i =>
        val s = (0 until dim).map(j => s"(x$j - c${i}_$j)*(x$j - c${i}_$j)").mkString(" + ")
        s"CASE WHEN $s = 0 THEN 1e-20 ELSE $s END AS d$i"
      }.mkString(",\n    ")
      val dmin = s"least(${(0 until k).map(i => s"d$i").mkString(", ")})"
      val rsum = (0 until k).map(i => s"($dmin/d$i)").mkString(" + ")
      val us = (0 until k).map(i => s"($dmin/d$i) / ($rsum) AS u$i").mkString(",\n    ")
      val cs = (0 until k).flatMap(i => (0 until dim).map(j =>
        s"(1.0/sum(u$i*u$i)) * sum(u$i*u$i*x$j) AS c${i}_$j")).mkString(",\n    ")
      // MATERIALIZED: u_t is read three times (c_t, dd_t, dd_{t+1}) and
      // c_t twice (d_{t+1}, fin) — DuckDB's default inlining re-expands
      // the whole upstream chain per reference, exponentially in iters
      // (q_canopy_fcm's 10-round unroll cost ~50 s at sf0.01 un-hinted).
      // These CTEs are never referenced from a recursive half, so the
      // MATERIALIZED-kills-recursion quirk below does not apply to them
      s"""d$t AS MATERIALIZED (SELECT rid, $xs,
         |    $ds
         |  FROM x, c${t - 1}),
         |u$t AS MATERIALIZED (SELECT rid, $xs,
         |    $us
         |  FROM d$t),
         |c$t AS MATERIALIZED (SELECT
         |    $cs
         |  FROM u$t)""".stripMargin
    }
    // dd$t joins consecutive membership generations on rid (x is
    // MATERIALIZED so row_number is assigned once)
    def delta(t: Int): String = {
      val terms = (0 until k).map(i => s"abs(a.u$i - b.u$i)").mkString(", ")
      s"""dd$t AS MATERIALIZED (SELECT max(greatest($terms)) AS v
         |  FROM u$t a JOIN u${t - 1} b ON a.rid = b.rid)""".stripMargin
    }
    val pick = (0 until k).flatMap { i =>
      (0 until dim).map { j =>
        val cases = (2 until iters)
          .map(t => s"WHEN dd$t.v <= $tol THEN c$t.c${i}_$j").mkString(" ")
        s"CASE $cases ELSE c$iters.c${i}_$j END AS c${i}_$j"
      }
    }.mkString(",\n    ")
    val srcs = ((2 until iters).map(t => s"dd$t") ++ (2 to iters).map(t => s"c$t")).mkString(", ")
    val finalRows = (0 until k).map { i =>
      val cols = (0 until dim).map(j => s"round(c${i}_$j, 6) AS c$j").mkString(", ")
      s"SELECT $i AS cluster_id, $cols FROM fin"
    }.mkString("\nUNION ALL\n")
    val withKw = if (recursive) "WITH RECURSIVE" else "WITH"
    // DuckDB quirk: a MATERIALIZED CTE referenced from inside a recursive
    // CTE's recursive half silently terminates the recursion at iter 0 —
    // so the recursive form skips MATERIALIZED, and its caller must make
    // rid deterministic (row_number over an explicit ORDER BY) since x
    // may be re-evaluated per reference.
    val xDef = if (recursive) "x AS (" else "x AS MATERIALIZED ("
    val pre = if (preC0Ctes.isEmpty) "" else preC0Ctes + ",\n"
    s"""$withKw $xDef
       |$xCte),
       |$pre$c0Cte,
       |${(1 to iters).map(round).mkString(",\n")},
       |${(2 until iters).map(delta).mkString(",\n")},
       |fin AS (SELECT
       |    $pick
       |  FROM $srcs)
       |$finalRows""".stripMargin
  }

  /** Unrolled deterministic-k-means oracle (KMeansDet): each round is an
    * assignment CTE (first-min CASE chain over squared distances, the
    * same text-order arithmetic as KMeansDet.assignExpr) and a centroid
    * CTE whose per-dimension means run as DECIMAL(28,12) conditional
    * sums over the member count — exact and associative, so each round's
    * centroids are bit-identical to the Spark fit's. Empty clusters keep
    * the previous centroid via max() over the carried-along prev columns.
    * tol=0 on the Spark side means early stop happens only at an exact
    * fixpoint, which later unrolled rounds reproduce — so a fixed
    * `iters` unroll needs no delta emulation. `xCte` must expose rid +
    * x0..x{dim-1}; `c0Cte` a one-row c0 with c{i}_{j} columns. The final
    * SELECT re-assigns under the last centroids and emits per-cluster
    * member counts, exercising the predict path too. */
  private def kmeansFitOracle(xCte: String, c0Cte: String, k: Int, dim: Int,
                              iters: Int, finalOverride: String = ""): String = {
    val xs = (0 until dim).map(j => s"x$j").mkString(", ")
    val prevCols = (0 until k).flatMap(i => (0 until dim).map(j => s"c${i}_$j")).mkString(", ")
    def assignBody(src: String): String = {
      val ds = (0 until k).map { i =>
        val s = (0 until dim).map(j => s"(x$j - c${i}_$j)*(x$j - c${i}_$j)").mkString(" + ")
        s"$s AS d$i"
      }.mkString(",\n      ")
      val cases = (0 until k - 1).map { i =>
        val beats = (i + 1 until k).map(l => s"d$i <= d$l").mkString(" AND ")
        s"WHEN $beats THEN $i"
      }.mkString(" ")
      s"""SELECT rid, $xs, $prevCols,
         |    CASE $cases ELSE ${k - 1} END AS cl
         |  FROM (SELECT rid, $xs, $prevCols,
         |      $ds
         |    FROM $src)""".stripMargin
    }
    def round(t: Int): String = {
      val cs = (0 until k).flatMap(i => (0 until dim).map { j =>
        s"""CASE WHEN count(CASE WHEN cl = $i THEN 1 END) = 0 THEN max(c${i}_$j)
           |      ELSE CAST(sum(CASE WHEN cl = $i THEN CAST(x$j AS DECIMAL(28,12)) END) AS DOUBLE)
           |        / count(CASE WHEN cl = $i THEN 1 END) END AS c${i}_$j""".stripMargin
      }).mkString(",\n    ")
      s"""a$t AS (${assignBody(s"x, c${t - 1}")}),
         |c$t AS (SELECT
         |    $cs
         |  FROM a$t)""".stripMargin
    }
    val cnt = s"af AS (${assignBody(s"x, c$iters")}),\n" +
      "cnt AS (SELECT cl, count(*) AS n FROM af GROUP BY cl)"
    // finalOverride replaces the centroid/count report with a caller
    // SELECT over the oracle's relations (x: rid/id/x*, af: final
    // assignment, cnt) — e.g. the per-cluster balanced take
    val finalRows = if (finalOverride.nonEmpty) finalOverride
    else (0 until k).map { i =>
      val cols = (0 until dim).map(j => s"round(c${i}_$j, 6) AS c$j").mkString(", ")
      s"SELECT $i AS cluster_id, $cols, coalesce((SELECT n FROM cnt WHERE cl = $i), 0) AS n FROM c$iters"
    }.mkString("\nUNION ALL\n")
    s"""WITH x AS MATERIALIZED (
       |$xCte),
       |$c0Cte,
       |${(1 to iters).map(round).mkString(",\n")},
       |$cnt
       |$finalRows""".stripMargin
  }

  // Fixed canopy centers over (l_quantity, l_tax*100) with T1 = 15: the
  // broadcast-assignment path has a DuckDB oracle (center *selection* is
  // order-sequential and covered by CanopySpec invariants instead).
  private val canopyCenters = Array(
    Array(5.0, 2.0), Array(20.0, 4.0), Array(35.0, 6.0))
  private val canopyT1 = 15.0

  // 3x3 consistent judgment matrix for the online (windowed) queries over
  // the events table; features (value, user_id%100, event_id%50).
  private val onlineJudgment = Array(
    Array(1.0, 2.0, 4.0), Array(0.5, 1.0, 2.0), Array(0.25, 0.5, 1.0))
  private lazy val onlineAhpW: Array[Double] = AHP.weightVector(onlineJudgment)
  private val onlineWindowMs = 3L * 86400000L

  private val streamRun = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The entries of `dir`, failing with a message that names it when it
    * does not exist (`File.listFiles` returns null then). */
  private def listDir(dir: String): Array[java.io.File] =
    Option(new java.io.File(dir).listFiles()).getOrElse(
      throw new IllegalStateException(s"expected directory $dir does not exist"))

  /** `table` replayed as a file stream. The file source wants a
    * DIRECTORY: point it at `$table.parquet` when that is itself a
    * directory of part files (Spark-written layout, as ScaleData
    * produces), else glob-filter the parent to the one file (the
    * driver's single-file testdata layout). */
  private def replaySource(s: SparkSession, dir: String, table: String): DataFrame = {
    val path = s"$dir/$table.parquet"
    val schema = s.read.parquet(path).schema
    if (new java.io.File(path).isDirectory) s.readStream.schema(schema).parquet(path)
    else s.readStream.schema(schema).option("pathGlobFilter", s"$table.parquet").parquet(dir)
  }

  /** Runs `body` with `confs` set on the session and restores each key's
    * previous value (or unsets it) after. Streaming reads the state
    * store provider and shuffle-partition count at query START, so
    * scoping the start is enough. NOT thread-safe: the session conf is
    * shared, so two streams starting concurrently could capture each
    * other's values — every caller here starts streams from the single
    * driver thread (the Bench/Verify mains are sequential). */
  private def withConfs[A](s: SparkSession, confs: (String, String)*)(body: => A): A = {
    val prev = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** The spark.sql.shuffle.partitions setting for a streaming drain's
    * STATEFUL exchange, derived from the replay input's size (round 12).
    * Streaming disables AQE, so the post-shuffle coalescing that
    * right-sizes every batch exchange never runs — a stateful query
    * commits one state store per shuffle partition per microbatch
    * instead, a pure fixed cost (~40–60 ms/store/batch measured for the
    * RocksDB drains: the q_hll_window+q_sessionize_stream pair reads
    * 9.8 s at 32 partitions, 6.3 s at 8, 6.5 s at 4 — linear in
    * partitions past the knee). Derivation, not a local constant: one
    * partition per `perPartBytes` of replay input, floored at 4 (keep
    * the post-exchange compute parallel), CAPPED at the session's
    * configured spark.sql.shuffle.partitions — the cluster-tuned value —
    * so a corpus-sized replay keeps full parallelism and only provably
    * tiny inputs shed the commit overhead. */
  private def streamShuffleConf(s: SparkSession, inputPath: String,
      perPartBytes: Long = 4L << 20): (String, String) = {
    val key = "spark.sql.shuffle.partitions"
    val p = new org.apache.hadoop.fs.Path(inputPath)
    val bytes =
      try p.getFileSystem(s.sparkContext.hadoopConfiguration)
        .getContentSummary(p).getLength
      catch { case _: Exception => Long.MaxValue } // unknown => keep session value
    key -> math.min(s.conf.get(key).toLong,
      math.max(4L, (bytes + perPartBytes - 1) / perPartBytes)).toString
  }

  /** Complete-mode drain for BOUNDED streaming aggregations (sketch
    * grids, O(cells) rollups): replays `table` as a file stream, runs
    * `build` (which must end in a streaming agg whose group count is
    * bounded by construction, NOT by the data), drains to a
    * complete-mode memory sink, and returns the final table localized.
    * No watermark/sentinel machinery — complete mode re-emits the whole
    * bounded result each batch, so end-of-stream state IS batch parity.
    * The memory sink holds exactly the agg's group count (4096 rows for
    * the 4x1024 sketch) — driver-bounded by the operator's shape. */
  private def runTableStreamComplete(s: SparkSession, dir: String,
      table: String, name: String)(
      build: DataFrame => DataFrame): DataFrame = {
    val raw = replaySource(s, dir, table)
    val qn = s"graft_docstream_${name}_${streamRun.incrementAndGet()}"
    val query = withConfs(s, streamShuffleConf(s, s"$dir/$table.parquet")) {
      build(raw).writeStream
        .format("memory").queryName(qn)
        .outputMode("complete").start()
    }
    try {
      query.processAllAvailable()
      val rows = s.table(qn).collect()
      s.createDataFrame(
        java.util.Arrays.asList(rows: _*), s.table(qn).schema)
    } finally query.stop()
  }

  /** Run totals of one event drain: every microbatch's progress, folded
    * in as it arrives — not read back from query.recentProgress, which
    * keeps only the last spark.sql.streaming.numRecentProgressUpdates
    * (default 100) and would silently understate longer drains. */
  private final class DrainTotals {
    var batches = 0L
    var peakStateRows = 0L
    var lastStateRows = 0L
    var stateShufflePartitions = 0L
    val phaseMs = scala.collection.mutable.Map.empty[String, Long]
    val terminated = new java.util.concurrent.CountDownLatch(1)
  }

  /** Accumulates [[DrainTotals]] per run id. The listener bus delivers one
    * listener's events in order on one thread, so a run's termination
    * event arrives after all of its progress events. */
  private final class DrainForensics
      extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    private val runs = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, DrainTotals]()
    private def totals(id: java.util.UUID) = runs.computeIfAbsent(id, _ => new DrainTotals)
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val t = totals(p.runId)
      t.batches += 1
      p.durationMs.forEach((k, v) => t.phaseMs(k) = t.phaseMs.getOrElse(k, 0L) + v)
      if (p.stateOperators.nonEmpty) {
        t.lastStateRows = p.stateOperators.map(_.numRowsTotal).sum
        t.peakStateRows = math.max(t.peakStateRows, t.lastStateRows)
        t.stateShufflePartitions = p.stateOperators.head.numShufflePartitions
      }
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      totals(e.runId).terminated.countDown()

    /** Prints run `runId`'s `[stream]` line (stderr, not stdout — Bench's
      * JSON line owns stdout) once its termination event has arrived;
      * waits at most 30 s for it, and marks the line partial past that.
      * Peak rows = worst microbatch's retained state over the WHOLE run,
      * last rows = what survived the sentinel's watermark (the eviction
      * check the 1000x stress runs record in SCALE.md); phases (round 13)
      * = durationMs summed over every microbatch (addBatch = the batch's
      * jobs, stateCommit etc. inside triggerExecution). */
    def report(name: String, runId: java.util.UUID): Unit = {
      val t = totals(runId)
      val complete = t.terminated.await(30, java.util.concurrent.TimeUnit.SECONDS)
      val phases = t.phaseMs.toSeq.sortBy(-_._2)
        .map { case (k, v) => s"$k=${v}ms" }.mkString(" ")
      System.err.println(s"[stream] $name: peakStateRows=${t.peakStateRows}" +
        s" lastStateRows=${t.lastStateRows}" +
        s" stateShufflePartitions=${t.stateShufflePartitions}" +
        s" batches=${t.batches} $phases" +
        (if (complete) "" else " (partial: no termination event within 30 s)"))
    }
  }

  /** Streaming-parity harness: replays the events table through a REAL
    * file-source stream (no driver-side data beyond ONE sentinel row),
    * runs `build` on it, and drains to a parquet sink. The far-future
    * sentinel (user_id = -1) advances the event-time watermark past every
    * window/left so append-mode state flushes completely — end-of-stream
    * batch parity, which is what the DuckDB oracle checks. Spark's
    * no-data micro-batches then emit the final results before stop().
    * At scale the same `build` pipeline runs unmodified on a live
    * readStream; only this drain harness is test-shaped. */
  private def runEventStream(s: SparkSession, dir: String, name: String)(
      build: DataFrame => DataFrame): DataFrame = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val raw = replaySource(s, dir, "events")
    val ev = raw.withColumn("ts", epochMillis(raw, "ts")).selectExpr(
      "event_id", "ts AS tms", "user_id", "event_type",
      "CAST(value AS DOUBLE) AS v")
    val mem = MemoryStream[(Long, Long, Long, String, Double)]
    val union = ev.unionByName(
      mem.toDS().toDF("event_id", "tms", "user_id", "event_type", "v"))
    // drain to a FILE sink, not a memory sink: the memory sink collects
    // every result row into the driver (measured 54s vs 1.3s batch at the
    // 100x point — 9M closed sessions on one JVM heap); the parquet sink
    // is the production shape, distributed end to end, and the batch
    // read-back underneath the same checker. Results, checkpoint and
    // RocksDB state (GBs at the 100x point) share one temp dir, deleted at
    // JVM exit rather than eagerly: the returned DataFrame reads
    // `$out/data` lazily, possibly long after this returns.
    val out = graft.core.Stage.tempDir(s"graft_stream_$name").toString
    val forensics = new DrainForensics
    s.streams.addListener(forensics)
    try {
      // RocksDB state store: the replay-everything drain holds EVERY
      // session/left of the corpus in state at once — the default
      // HDFS-backed provider keeps that on the JVM heap (9.1M entries at
      // the 100x point; an OOM at 1000x), RocksDB spills it off-heap/disk.
      // Changelog checkpointing: each commit uploads the batch's DELTA
      // instead of a full RocksDB snapshot (snapshots move to the
      // background maintenance thread). The drain runs 4 microbatches x
      // #shuffle-partitions store commits against the virtio disk; full
      // snapshots made every commit an fsync-bound copy, and episodic
      // host-side disk stalls multiplied exactly that fixed cost (the
      // q_asof_stream 6.4s<->29.8s swing in BASELINE.md — root cause
      // written down in SCALE.md round 11)
      val query = withConfs(s,
          "spark.sql.streaming.stateStore.providerClass" ->
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
          "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
          streamShuffleConf(s, s"$dir/events.parquet")) {
        build(union).writeStream
          .format("parquet").option("path", s"$out/data")
          .option("checkpointLocation", s"$out/ckpt")
          .outputMode("append").start()
      }
      try {
        query.processAllAvailable()
        // 2100-01-01: past every real event, inside the timestamp range
        mem.addData((-1L, 4102444800000L, -1L, "sentinel", 0.0))
        query.processAllAvailable()
      } finally query.stop()
      forensics.report(name, query.runId)
    } finally s.streams.removeListener(forensics)
    s.read.parquet(s"$out/data")
  }

  // events.ts arrives normalized to epoch millis by tbl().
  private def eventFeatures(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "events").selectExpr(
      "event_id", "ts AS tms", "CAST(value AS DOUBLE) AS x0",
      "CAST(user_id % 100 AS DOUBLE) AS x1", "CAST(event_id % 50 AS DOUBLE) AS x2")

  // MinHash LSH query config: 3-gram shingles, 16 hashes in 4 bands of 4.
  // Shingling matters on shared-vocabulary corpora: unigram Jaccard between
  // unrelated docs here is ~0.6, 3-gram Jaccard ~0 — shingles make LSH
  // candidates mean something. Params seeded so the DuckDB oracle inlines
  // the exact same (a, b) pairs.
  private val mhHashes = 16
  private val mhBands = 4
  private val mhSeed = 42L
  private val mhShingle = 3
  private lazy val mhParams: Array[(Long, Long)] = Dedup.hashParams(mhHashes, mhSeed)

  // Shared DuckDB CTE block for the minhash queries: hashed 3-gram
  // shingles (one md5 per word, rolling combine mod P — Dedup.hashedTokens
  // semantics), 16-function signatures, 4 banded buckets, candidate pairs.
  // Hashed 3-gram shingle set per document (Dedup.hashedTokens semantics:
  // one md5 per word, rolling combine mod P) — shared by the minhash,
  // decontamination, and curation oracles; `src` is the doc relation.
  private def mhShingleCtesFor(src: String): String =
    s"""w AS (SELECT doc_id,
       |    list_transform(string_split_regex(lower(text), '\\s+'),
       |      t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % ${Dedup.P}) AS wh
       |  FROM $src),
       |h AS (
       |  SELECT DISTINCT doc_id, unnest(list_distinct(
       |    list_transform(range(1, greatest(len(wh) - ${mhShingle - 2}, 1)),
       |      i -> ((wh[i] * ${Dedup.B} + wh[i+1]) % ${Dedup.P} * ${Dedup.B} + wh[i+2]) % ${Dedup.P}))) AS hm
       |  FROM w)""".stripMargin

  private lazy val mhShingleCtes: String = mhShingleCtesFor("documents")

  // q_lr_train / q_lr_predict hyperparameters — shared by the builders
  // and the unrolled oracle. lr/lrBias are powers of two so g*lr stays
  // exact; tau=61 (milli) splits the corpus ~50/50 on the target.
  // Tuned by replaying the exact integer dynamics offline: lr=32 gives
  // monotone convergence to ~94% train accuracy in 10 steps; 512 was
  // measured to diverge (weights blow past |20|, accuracy pins at 50%).
  private val lrDim = 256
  private val lrIters = 10
  private val lrLr = 32.0
  private val lrLrBias = 0.25
  private val lrTau = 61
  private val lrStopwords = Seq("the", "a")
  // The training target: a stopword-DENSITY gate (>= tau milli-ratio of
  // {the, a} tokens) — a deliberately LINEAR function of the token
  // stream, so the mean-margin hash-TF hypothesis class contains the
  // true model and training measurably recovers it (heuristic-gate
  // distillation, the way production fastText quality filters are
  // actually built). All-integer comparison: engine-exact.
  private def lrLabelCol: org.apache.spark.sql.Column = {
    val toks = split(regexp_replace(lower(col("text")), "\\s+$", ""), "\\s+")
    val sw = filter(toks, t => t.isInCollection(lrStopwords))
    lit(1000) * size(sw) >= lit(lrTau) * size(toks)
  }

  /**
   * Unrolled-SQL replay of [[graft.operators.QualityClassifier
   * .trainLogisticMilli]] — the q_fcm_fit pattern for a trainer: each
   * of the T full-batch steps is (score s_k via a tok⋈w_k join, margin →
   * algebraic sigmoid → integer residuals e/f, dim-keyed gradient g_k,
   * one fixed-shape double update back to integer milli weights). All
   * cross-row sums are BIGINT; the only doubles are the per-row margin/
   * link (fixed op order) and the per-bucket update expression — the
   * same ops the JVM trainer runs, so the trajectory is bit-identical.
   */
  private def lrTrainCtes(iters: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""tok AS MATERIALIZED (SELECT doc_id,
         |    ('0x' || substr(md5(unnest(string_split_regex(lower(text), '\\s+'))), 1, 15))::BIGINT
         |      % $lrDim AS b
         |  FROM documents WHERE text IS NOT NULL),
         |d AS MATERIALIZED (SELECT tok.doc_id, count(*) AS n FROM tok GROUP BY tok.doc_id),
         |dy AS MATERIALIZED (SELECT doc_id, CASE WHEN 1000 * len(list_filter(
         |      string_split_regex(regexp_replace(lower(text), '\\s+$$', ''), '\\s+'),
         |      t -> t IN (${lrStopwords.map(w => s"'$w'").mkString(", ")})))
         |    >= $lrTau * len(string_split_regex(regexp_replace(lower(text), '\\s+$$', ''), '\\s+'))
         |    THEN 1 ELSE 0 END AS y
         |  FROM documents WHERE text IS NOT NULL),
         |nn AS MATERIALIZED (SELECT count(*) AS nd FROM d),
         |w0 AS MATERIALIZED (SELECT CAST(range AS BIGINT) AS b, CAST(0 AS BIGINT) AS wm FROM range($lrDim)),
         |b0 AS MATERIALIZED (SELECT CAST(0 AS BIGINT) AS bm)""".stripMargin)
    for (k <- 1 to iters) {
      val (wp, bp) = (s"w${k - 1}", s"b${k - 1}")
      sb.append(
        s""",
           |s$k AS MATERIALIZED (SELECT tok.doc_id, CAST(sum($wp.wm) AS BIGINT) AS sm
           |  FROM tok JOIN $wp ON tok.b = $wp.b GROUP BY tok.doc_id),
           |e$k AS MATERIALIZED (SELECT doc_id,
           |    CAST(floor(((p - y) / n) * 1000000000.0 + 0.5) AS BIGINT) AS e,
           |    CAST(floor((p - y) * 1000000000.0 + 0.5) AS BIGINT) AS f
           |  FROM (SELECT q$k.doc_id, CAST(dy.y AS DOUBLE) AS y, CAST(d.n AS DOUBLE) AS n,
           |      0.5 * (1.0 + m / (1.0 + abs(m))) AS p
           |    FROM (SELECT s$k.doc_id,
           |        (CAST(s$k.sm AS DOUBLE) / 1000.0) / CAST(d.n AS DOUBLE)
           |          + CAST((SELECT bm FROM $bp) AS DOUBLE) / 1000.0 AS m
           |      FROM s$k JOIN d USING (doc_id)) q$k
           |      JOIN d ON q$k.doc_id = d.doc_id JOIN dy ON q$k.doc_id = dy.doc_id)),
           |g$k AS MATERIALIZED (SELECT tok.b, CAST(sum(e$k.e) AS BIGINT) AS g
           |  FROM tok JOIN e$k USING (doc_id) GROUP BY tok.b),
           |w$k AS MATERIALIZED (SELECT $wp.b, $wp.wm
           |    - CAST(floor(CAST(coalesce(g$k.g, 0) AS DOUBLE) * $lrLr
           |        / (1000000.0 * (SELECT nd FROM nn)) + 0.5) AS BIGINT) AS wm
           |  FROM $wp LEFT JOIN g$k ON $wp.b = g$k.b),
           |b$k AS MATERIALIZED (SELECT (SELECT bm FROM $bp)
           |    - CAST(floor(CAST((SELECT sum(f) FROM e$k) AS DOUBLE) * $lrLrBias
           |        / (1000000.0 * (SELECT nd FROM nn)) + 0.5) AS BIGINT) AS bm)""".stripMargin)
    }
    sb.toString
  }

  // DSIR hashed-unigram model + per-doc exact milli-sum — shared by the
  // q_dsir scoring oracle and the q_dsir_resample selection oracle:
  // tok = (doc, bucket) stream with the src0 target flag; w = Laplace-
  // smoothed integer milli log-ratios; s = per-doc (sum, count).
  private lazy val dsirCtes: String = {
    val dim = 2048
    s"""tok AS (SELECT doc_id,
       |    CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS ist,
       |    ('0x' || substr(md5(unnest(string_split_regex(lower(text), '\\s+'))), 1, 15))::BIGINT
       |      % $dim AS b
       |  FROM documents),
       |cnt AS (SELECT b, count(*) AS cr, CAST(sum(ist) AS BIGINT) AS ct
       |  FROM tok GROUP BY b),
       |tot AS (SELECT CAST(sum(cr) AS BIGINT) AS nr, CAST(sum(ct) AS BIGINT) AS nt FROM cnt),
       |w AS (SELECT b,
       |    CAST(floor(1000.0 * ln(((ct + 1.0) / (nt + 1.0 * $dim))
       |         / ((cr + 1.0) / (nr + 1.0 * $dim))) + 0.5) AS BIGINT) AS wm
       |  FROM cnt, tot),
       |s AS (SELECT doc_id, CAST(sum(wm) AS BIGINT) AS sm, count(*) AS n
       |  FROM tok JOIN w USING (b) GROUP BY doc_id)""".stripMargin
  }

  // Recursive-CTE replay of the fixed BPE merge walk (BpeTokenizer.merges):
  // `m` inlines the merge table rank by rank; `walk` renders each DISTINCT
  // word codepoint-spaced with sentinel spaces and applies one literal
  // leftmost non-overlapping replace per recursion step, advancing to the
  // next rank only when a pass changes nothing (the fixpoint that makes a
  // rank merge EVERY occurrence, exactly the kernel's loop). `wc(w, c)` =
  // per-word token counts; `tok(doc_id, w)` = the word stream. Joining per
  // doc through the distinct-word table is the SQL mirror of the kernel's
  // memo cache.
  private lazy val bpeMergeValues: String =
    graft.functions.BpeTokenizer.merges.zipWithIndex
      .map { case ((a, b), r) => s"($r, ' $a $b ', ' $a$b ')" }
      .mkString(", ")
  private def bpeWalkCtes(src: String): String = {
    val n = graft.functions.BpeTokenizer.merges.length
    s"""m(r, pat, rep) AS (VALUES $bpeMergeValues),
       |wds AS (SELECT DISTINCT unnest(string_split_regex(lower(text), '\\s+')) AS w
       |        FROM $src WHERE text IS NOT NULL),
       |walk(w, s, r) AS (
       |  SELECT w, ' ' || regexp_replace(w, '(.)', '\\1 ', 'g'), 0 FROM wds WHERE w <> ''
       |  UNION ALL
       |  SELECT walk.w,
       |    CASE WHEN replace(walk.s, m.pat, m.rep) <> walk.s
       |         THEN replace(walk.s, m.pat, m.rep) ELSE walk.s END,
       |    CASE WHEN replace(walk.s, m.pat, m.rep) <> walk.s THEN walk.r ELSE walk.r + 1 END
       |  FROM walk JOIN m ON m.r = walk.r),
       |wc AS (SELECT w, len(string_split(trim(s), ' ')) AS c FROM walk WHERE r = $n),
       |tok AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS w
       |        FROM $src WHERE text IS NOT NULL)""".stripMargin
  }

  // shared by q_embed_cov (kernel path) and q_embed_cov_stream (the
  // complete-mode streaming agg) — identical cell values by the decimal
  // discipline, identical final formula
  private val embedCovSql: String =
    """WITH f AS (SELECT a.d AS i, b.d AS j,
      |    CAST(list_extract(embedding, CAST(a.d + 1 AS INTEGER)) AS DOUBLE) AS xi,
      |    CAST(list_extract(embedding, CAST(b.d + 1 AS INTEGER)) AS DOUBLE) AS xj
      |  FROM embeddings, range(64) a(d), range(64) b(d) WHERE b.d >= a.d),
      |s AS (SELECT i, j, count(*) AS n,
      |    sum(CAST(xi AS DECIMAL(28,12))) AS si,
      |    sum(CAST(xj AS DECIMAL(28,12))) AS sj,
      |    sum(CAST(xi * xj AS DECIMAL(28,12))) AS sij
      |  FROM f GROUP BY i, j)
      |SELECT CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j, n,
      |  round(CAST(sij AS DOUBLE) / n
      |    - (CAST(si AS DOUBLE) / n) * (CAST(sj AS DOUBLE) / n), 6) + 0.0 AS cov
      |FROM s""".stripMargin

  // The DoReMi replay chain shared by q_doremi and q_doremi_sample:
  // unigram + bigram per-doc NLL (one shared term table), per-source
  // excess aggregation, round-9 exp update, decimal weight total.
  private val doremiCtes: String =
    """w AS (SELECT doc_id, source,
      |    string_split_regex(lower(text), '\s+') AS w FROM documents),
      |t AS (SELECT doc_id, unnest(w) AS term FROM w),
      |lm AS (SELECT term, count(*) AS c FROM t GROUP BY 1),
      |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS tot, CAST(count(*) AS DOUBLE) AS v FROM lm),
      |u AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |    round(CAST(sum(CAST(-ln((c + 1.0) / (tot + v)) AS DECIMAL(28,12))) AS DOUBLE)
      |      / count(*), 6) AS mean_nll
      |  FROM t JOIN lm USING (term), tot GROUP BY doc_id),
      |bgt AS (SELECT doc_id, bg['a'] AS w1, bg['b'] AS w2 FROM (
      |  SELECT doc_id, unnest(list_transform(range(1, len(w)),
      |    i -> {'a': w[i], 'b': w[i+1]})) AS bg FROM w)),
      |bi AS (SELECT w1, w2, count(*) AS cb FROM bgt GROUP BY 1, 2),
      |b AS (SELECT doc_id,
      |    round(CAST(sum(CAST(-ln((cb + 1.0) / (c + v)) AS DECIMAL(28,12))) AS DOUBLE)
      |      / count(*), 6) AS mean_nll2
      |  FROM bgt JOIN bi USING (w1, w2) JOIN lm ON bgt.w1 = lm.term, tot
      |  GROUP BY doc_id),
      |j AS (SELECT d.source, u.n_tokens,
      |    greatest(0.0, u.mean_nll - b.mean_nll2) AS ex
      |  FROM (SELECT doc_id, source FROM documents) d
      |  JOIN u USING (doc_id) JOIN b USING (doc_id)),
      |g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(n_tokens) AS BIGINT) AS tokens,
      |    sum(CAST(ex AS DECIMAL(18,6))) AS se FROM j GROUP BY source),
      |g2 AS (SELECT source, n_docs, tokens,
      |    round(CAST(se AS DOUBLE) / n_docs, 6) AS excess FROM g),
      |wt AS (SELECT *, CAST(tokens AS DOUBLE) * round(exp(1.0 * excess), 9) AS wr
      |  FROM g2),
      |tw AS (SELECT CAST(sum(CAST(wr AS DECIMAL(28,6))) AS DOUBLE) AS tw FROM wt)""".stripMargin

  // PCA power iteration unrolled step by step: the moment cells (the
  // q_embed_cov aggregate kept raw), the symmetric matrix, the graded
  // start, then per step a decimal matvec (n_k), a decimal norm (s_k)
  // and the round-9 normalize (v_k) — exactly the arithmetic
  // Similarity.pcaLeadingComponent runs on the driver. The final SELECT
  // is the centered projection, decimal-summed per vector.
  private def pcaProjectSql(dims: Int, steps: Int,
                            finalOverride: String = ""): String = {
    // every step CTE is MATERIALIZED: v_k references n_k twice (directly
    // and through s_k), so DuckDB's default CTE inlining re-expands the
    // whole upstream chain 2^steps times — the un-hinted form of this
    // oracle cost 150+ seconds at sf0.01 and was the round-8 correctness
    // gate's budget killer; materialized it is sub-second, same rows
    val stepCtes = (1 to steps).map { k =>
      s"""n$k AS MATERIALIZED (SELECT a.i AS i,
         |    sum(CAST(a.cov * v${k - 1}.v AS DECIMAL(28,12))) AS num
         |  FROM a JOIN v${k - 1} ON a.j = v${k - 1}.i GROUP BY a.i),
         |s$k AS MATERIALIZED (SELECT CAST(sum(CAST(CAST(num AS DOUBLE) * CAST(num AS DOUBLE)
         |    AS DECIMAL(28,12))) AS DOUBLE) AS ss FROM n$k),
         |v$k AS MATERIALIZED (SELECT i, round(CAST(num AS DOUBLE) / sqrt(ss), 9) AS v
         |  FROM n$k, s$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH f AS (SELECT a.d AS i, b.d AS j,
       |    CAST(list_extract(embedding, CAST(a.d + 1 AS INTEGER)) AS DOUBLE) AS xi,
       |    CAST(list_extract(embedding, CAST(b.d + 1 AS INTEGER)) AS DOUBLE) AS xj
       |  FROM embeddings, range($dims) a(d), range($dims) b(d) WHERE b.d >= a.d),
       |s AS MATERIALIZED (SELECT i, j, count(*) AS n,
       |    sum(CAST(xi AS DECIMAL(28,12))) AS si,
       |    sum(CAST(xj AS DECIMAL(28,12))) AS sj,
       |    sum(CAST(xi * xj AS DECIMAL(28,12))) AS sij
       |  FROM f GROUP BY i, j),
       |c AS (SELECT i, j, round(CAST(sij AS DOUBLE) / n
       |    - (CAST(si AS DOUBLE) / n) * (CAST(sj AS DOUBLE) / n), 6) + 0.0 AS cov
       |  FROM s),
       |a AS MATERIALIZED (SELECT i, j, cov FROM c
       |      UNION ALL SELECT j AS i, i AS j, cov FROM c WHERE i <> j),
       |m AS (SELECT i, CAST(si AS DOUBLE) / n AS m FROM s WHERE i = j),
       |v0 AS (SELECT t.d AS i,
       |    CAST(1.0 AS DOUBLE) + CAST(0.001 AS DOUBLE) * (t.d + 1) AS v
       |  FROM range($dims) t(d)),
       |$stepCtes,
       |p AS (SELECT vec_id, t.d AS i,
       |    CAST(list_extract(embedding, CAST(t.d + 1 AS INTEGER)) AS DOUBLE) AS x
       |  FROM embeddings, range($dims) t(d)),
       |pj AS (SELECT vec_id,
       |    round(CAST(sum(CAST((p.x - m.m) * v$steps.v AS DECIMAL(28,12)))
       |      AS DOUBLE), 6) + 0.0 AS pc1
       |  FROM p JOIN m ON p.i = m.i JOIN v$steps ON p.i = v$steps.i
       |  GROUP BY vec_id)${if (finalOverride.nonEmpty) ",\n" + finalOverride
          else "\nSELECT vec_id, pc1 FROM pj"}""".stripMargin
  }

  // q_whiten's oracle: pcaProjectSql generalized to k components with
  // Hotelling deflation. The iterate/Rayleigh sums replay
  // Similarity.pcaTopComponents' FIXED-ORDER double folds via
  // `list_reduce(list(term ORDER BY …), +)` — NOT decimal sums: the
  // iterate multiplies short decimals (round-6 cov × round-9 v), whose
  // exact products land on scale-12 half boundaries ~1/1000 of the
  // time, where Scala/Spark (shortest-repr HALF_UP) and DuckDB
  // (exact-binary half-away) casts disagree. The final select emits
  // w_c = round(pc_c/√λ_c, 6) + 0.0; the projection keeps the decimal
  // discipline (raw-mantissa products — boundary-safe, and the Spark
  // side is a distributed scan that needs order independence).
  private def pcaWhitenSql(dims: Int, steps: Int, k: Int): String = {
    // MATERIALIZED on every step CTE — same exponential-inlining trap as
    // pcaProjectSql (v_k reads n_k twice); see the comment there
    def stepCtes(c: Int, mat: String): String = (1 to steps).map { s =>
      s"""n${c}_$s AS MATERIALIZED (SELECT i,
         |    list_reduce(list(t ORDER BY j), (x, y) -> x + y) AS num
         |  FROM (SELECT mm.i AS i, mm.j AS j, mm.cov * vv.v AS t
         |        FROM $mat mm JOIN v${c}_${s - 1} vv ON mm.j = vv.i)
         |  GROUP BY i),
         |s${c}_$s AS MATERIALIZED (SELECT sqrt(list_reduce(list(num * num ORDER BY i),
         |    (x, y) -> x + y)) AS nrm FROM n${c}_$s),
         |v${c}_$s AS MATERIALIZED (SELECT i, round(num / nrm, 9) AS v
         |  FROM n${c}_$s, s${c}_$s)""".stripMargin
    }.mkString(",\n")
    val perComp = (1 to k).map { c =>
      val mat = s"a$c"
      val vLast = s"v${c}_$steps"
      val deflate = if (c < k)
        s""",
           |a${c + 1} AS MATERIALIZED (SELECT mm.i, mm.j,
           |    round(mm.cov - lam$c.lam * vi.v * vj.v, 6) + 0.0 AS cov
           |  FROM $mat mm JOIN $vLast vi ON mm.i = vi.i
           |  JOIN $vLast vj ON mm.j = vj.i, lam$c)""".stripMargin
      else ""
      s"""v${c}_0 AS (SELECT t.d AS i,
         |    CAST(1.0 AS DOUBLE) + CAST(0.001 AS DOUBLE) * (t.d + 1) AS v
         |  FROM range($dims) t(d)),
         |${stepCtes(c, mat)},
         |lam$c AS MATERIALIZED (SELECT list_reduce(list(t ORDER BY i, j), (x, y) -> x + y) AS lam
         |  FROM (SELECT mm.i AS i, mm.j AS j, mm.cov * vi.v * vj.v AS t
         |        FROM $mat mm JOIN $vLast vi ON mm.i = vi.i
         |        JOIN $vLast vj ON mm.j = vj.i))$deflate""".stripMargin
    }.mkString(",\n")
    val pjCols = (1 to k).map { c =>
      s"""    round(CAST(sum(CAST((p.x - m.m) * v${c}_$steps.v AS DECIMAL(28,12)))
         |      AS DOUBLE), 6) + 0.0 AS pc$c""".stripMargin
    }.mkString(",\n")
    val pjJoins = (1 to k).map(c => s"JOIN v${c}_$steps ON p.i = v${c}_$steps.i")
      .mkString(" ")
    val finalCols = (1 to k).map(c =>
      s"round(pc$c / sqrt(lam$c.lam), 6) + 0.0 AS w$c").mkString(", ")
    val finalFrom = (1 to k).map(c => s"lam$c").mkString(", ")
    s"""WITH f AS (SELECT a.d AS i, b.d AS j,
       |    CAST(list_extract(embedding, CAST(a.d + 1 AS INTEGER)) AS DOUBLE) AS xi,
       |    CAST(list_extract(embedding, CAST(b.d + 1 AS INTEGER)) AS DOUBLE) AS xj
       |  FROM embeddings, range($dims) a(d), range($dims) b(d) WHERE b.d >= a.d),
       |s AS MATERIALIZED (SELECT i, j, count(*) AS n,
       |    sum(CAST(xi AS DECIMAL(28,12))) AS si,
       |    sum(CAST(xj AS DECIMAL(28,12))) AS sj,
       |    sum(CAST(xi * xj AS DECIMAL(28,12))) AS sij
       |  FROM f GROUP BY i, j),
       |c AS (SELECT i, j, round(CAST(sij AS DOUBLE) / n
       |    - (CAST(si AS DOUBLE) / n) * (CAST(sj AS DOUBLE) / n), 6) + 0.0 AS cov
       |  FROM s),
       |a1 AS MATERIALIZED (SELECT i, j, cov FROM c
       |      UNION ALL SELECT j AS i, i AS j, cov FROM c WHERE i <> j),
       |m AS (SELECT i, CAST(si AS DOUBLE) / n AS m FROM s WHERE i = j),
       |$perComp,
       |p AS (SELECT vec_id, t.d AS i,
       |    CAST(list_extract(embedding, CAST(t.d + 1 AS INTEGER)) AS DOUBLE) AS x
       |  FROM embeddings, range($dims) t(d)),
       |pj AS (SELECT vec_id,
       |$pjCols
       |  FROM p JOIN m ON p.i = m.i $pjJoins
       |  GROUP BY vec_id)
       |SELECT vec_id, $finalCols FROM pj, $finalFrom""".stripMargin
  }

  // BPE TRAINING replayed merge by merge — the q_fcm_fit unrolled-oracle
  // pattern: each learned merge k is a pair-count aggregation (pairs_k),
  // a (count desc, lhs, rhs) argmax (best_k), and a recursive fixpoint
  // application over the dictionary forms (st_k), chained N times. The
  // final SELECT unions the N argmax rows — the learned merge table.
  private def bpeTrainSql(src: String, vocabCap: Int, nMerges: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH RECURSIVE tok AS (
         |  SELECT unnest(string_split_regex(lower(text), '\\s+')) AS w
         |  FROM $src WHERE text IS NOT NULL),
         |wcnt AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS freq
         |         FROM tok WHERE w <> '' GROUP BY w),
         |st0f(w, freq, f) AS MATERIALIZED (
         |  SELECT w, freq, ' ' || regexp_replace(w, '(.)', '\\1 ', 'g')
         |  FROM (SELECT w, freq,
         |          row_number() OVER (ORDER BY freq DESC, w) AS rn FROM wcnt)
         |  WHERE rn <= $vocabCap)""".stripMargin)
    for (k <- 1 to nMerges) {
      val prev = s"st${k - 1}f"
      sb.append(
        s""",
           |pairs$k AS MATERIALIZED (
           |  SELECT a, b, CAST(sum(freq) AS BIGINT) AS cnt FROM (
           |    SELECT x.freq, x.toks[CAST(t.i AS INTEGER)] AS a,
           |           x.toks[CAST(t.i + 1 AS INTEGER)] AS b
           |    FROM (SELECT freq, string_split(trim(f), ' ') AS toks FROM $prev) x,
           |         unnest(generate_series(1, len(x.toks) - 1)) AS t(i))
           |  GROUP BY a, b),
           |best$k AS MATERIALIZED (
           |  SELECT a, b, cnt, ' ' || a || ' ' || b || ' ' AS pat,
           |         ' ' || a || b || ' ' AS rep
           |  FROM pairs$k ORDER BY cnt DESC, a, b LIMIT 1),
           |st$k(w, freq, f, done) AS (
           |  SELECT w, freq, f, 0 FROM $prev
           |  UNION ALL
           |  SELECT s.w, s.freq,
           |    CASE WHEN replace(s.f, b.pat, b.rep) <> s.f
           |         THEN replace(s.f, b.pat, b.rep) ELSE s.f END,
           |    CASE WHEN replace(s.f, b.pat, b.rep) <> s.f THEN 0 ELSE 1 END
           |  FROM st$k s JOIN best$k b ON s.done = 0),
           |st${k}f AS MATERIALIZED (SELECT w, freq, f FROM st$k WHERE done = 1)""".stripMargin)
    }
    sb.append("\n")
    sb.append((1 to nMerges).map(k =>
      s"SELECT CAST($k AS INTEGER) AS rank, a AS lhs, b AS rhs, cnt AS pair_count FROM best$k")
      .mkString("", "\nUNION ALL\n", ""))
    sb.toString
  }

  // Banded candidates + Jaccard verify + symmetric verified edges — the
  // near-dup core, over whatever `h` the caller's shingle CTEs define.
  private lazy val mhVerifiedEdgeCtes: String = mhVerifiedEdgeCtesOver("h")

  // Same verified-edge block over an arbitrary (doc_id, hm) shingle
  // relation — lets a composed oracle cluster a SURVIVOR subset while the
  // full-corpus `h` serves other stages (candidate generation, Jaccard,
  // and closure are all pairwise/subgraph-local, so replaying over the
  // restricted relation matches Spark's computation over the subset).
  private def mhVerifiedEdgeCtesOver(h: String): String =
    s"""sizes AS (SELECT doc_id, count(*) AS sz FROM $h GROUP BY doc_id),
       |inter AS (
       |  SELECT c.id_a, c.id_b, count(*) AS i
       |  FROM cand c
       |  JOIN $h ha ON ha.doc_id = c.id_a
       |  JOIN $h hb ON hb.doc_id = c.id_b AND hb.hm = ha.hm
       |  GROUP BY c.id_a, c.id_b),
       |ver AS (
       |  SELECT c.id_a, c.id_b
       |  FROM cand c
       |  JOIN sizes sa ON sa.doc_id = c.id_a
       |  JOIN sizes sb ON sb.doc_id = c.id_b
       |  JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
       |  WHERE CAST(i.i AS DOUBLE) / (sa.sz + sb.sz - i.i) >= 0.8),
       |sym AS (SELECT id_a AS a, id_b AS b FROM ver
       |        UNION SELECT id_b, id_a FROM ver),
       |reach(a, b) AS (
       |  SELECT a, b FROM sym
       |  UNION
       |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a WHERE s.b <> r.a)""".stripMargin

  // Signature + banded-bucket + candidate-pair CTEs over `h`.
  private lazy val mhSigCandCtes: String = mhSigCandCtesOver("h")

  private def mhSigCandCtesOver(h: String): String = {
    val sigCols = mhParams.zipWithIndex.map { case ((a, b), i) =>
      s"min(($a * hm + $b) % ${Dedup.P}) AS m$i"
    }.mkString(", ")
    val bandRows = mhHashes / mhBands
    val bandSelects = (0 until mhBands).map { bnd =>
      val parts = (0 until bandRows)
        .map(r => s"CAST(m${bnd * bandRows + r} AS VARCHAR)")
        .mkString(" || '_' || ")
      s"SELECT doc_id, $bnd AS band, $parts AS bsig FROM sig"
    }.mkString("\nUNION ALL\n")
    s"""sig AS (SELECT doc_id, $sigCols FROM $h GROUP BY doc_id),
       |bands AS ($bandSelects),
       |cand AS (
       |  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
       |  FROM bands l JOIN bands r
       |    ON l.band = r.band AND l.bsig = r.bsig AND l.doc_id < r.doc_id)""".stripMargin
  }

  private lazy val mhCandidateCtes: String = s"$mhShingleCtes,\n$mhSigCandCtes"

  // Shared DuckDB CTE block for the windowed-TOPSIS queries: per-window
  // mean vectors, positiveization, L2-normalize x weights, ideal-point
  // score per window (sc). x carries both the window start and the raw
  // event millis so the gating oracle can range-join.
  private lazy val onlineTopsisCtes: String =
    s"""x AS (
       |  SELECT event_id, CAST(value AS DOUBLE) AS x0,
       |    CAST(user_id % 100 AS DOUBLE) AS x1, CAST(event_id % 50 AS DOUBLE) AS x2,
       |    epoch_ms(ts) AS tms,
       |    (epoch_ms(ts) // $onlineWindowMs) * $onlineWindowMs AS ws
       |  FROM events),
       |m AS (SELECT ws, avg(x0) AS m0, avg(x1) AS m1, avg(x2) AS m2 FROM x GROUP BY ws),
       |s1 AS (SELECT max(m1) AS mx1 FROM m),
       |p AS (SELECT ws, m0 AS p0, mx1 - m1 AS p1, m2 AS p2 FROM m, s1),
       |s2 AS (SELECT
       |  sum(p0*p0) AS ss0, min(p0) AS pn0, max(p0) AS px0,
       |  sum(p1*p1) AS ss1, min(p1) AS pn1, max(p1) AS px1,
       |  sum(p2*p2) AS ss2, min(p2) AS pn2, max(p2) AS px2 FROM p),
       |z AS (SELECT ws,
       |    p0/sqrt(ss0)*0.5 AS z0, p1/sqrt(ss1)*0.3 AS z1, p2/sqrt(ss2)*0.2 AS z2,
       |    pn0/sqrt(ss0)*0.5 AS zl0, px0/sqrt(ss0)*0.5 AS zh0,
       |    pn1/sqrt(ss1)*0.3 AS zl1, px1/sqrt(ss1)*0.3 AS zh1,
       |    pn2/sqrt(ss2)*0.2 AS zl2, px2/sqrt(ss2)*0.2 AS zh2
       |  FROM p, s2),
       |sc AS (SELECT ws,
       |  sqrt((zl0-z0)*(zl0-z0) + (zl1-z1)*(zl1-z1) + (zl2-z2)*(zl2-z2))
       |   / (sqrt((zh0-z0)*(zh0-z0) + (zh1-z1)*(zh1-z1) + (zh2-z2)*(zh2-z2))
       |    + sqrt((zl0-z0)*(zl0-z0) + (zl1-z1)*(zl1-z1) + (zl2-z2)*(zl2-z2))) AS score
       |  FROM z)""".stripMargin

  private val topsisWeights = Array(0.4, 0.3, 0.2, 0.1)
  private val topsisTypes = Array(1, 2, 3, 4) // quantity↑, price↓, discount≈0.05, tax∈[0.02,0.06]
  private val topsisBest = 0.05
  private val topsisInterval = Array(0.02, 0.06)

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg" -> ((s, dir) => {
      tbl(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg(col("l_quantity")), 6).as("avg_qty"),
          round(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
    }),

    "q3_join" -> ((s, dir) => {
      val c = tbl(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = tbl(s, dir, "orders").filter(col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      val l = tbl(s, dir, "lineitem").filter(col("l_shipdate") > lit("1997-01-01").cast("timestamp"))
      // customer is the small side at every SF -> broadcast; lineitem⋈orders
      // shuffles on the join key only after both filters are pushed to scan.
      // SHUFFLE_HASH on orders: o_orderkey is near-unique (no hash-side
      // skew) and the filtered orders partition slices stay far under task
      // memory at any SF, so hashing the smaller side beats sort-merge's
      // two big sorts — 26.3s -> measured win at the 300x stress point
      // (180M-row lineitem), same plan shape a cluster wants.
      l.join(o.hint("SHUFFLE_HASH"), l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        // Sum in decimal: double summation order differs between engines and
        // flips the 2nd decimal at .xx5 boundaries; decimal sums are exact.
        .agg(round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,6)")), 2).cast("double").as("revenue"))
        .select(col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"), col("revenue"))
    }),

    // PIVOT: per-nation revenue spread over order years as columns — the
    // OLAP cross-tab shape. Explicit pivot values keep the plan static
    // (no values-discovery pass) and the output schema engine-portable;
    // one Expand-free aggregate, dims broadcast like q3.
    "q_pivot" -> ((s, dir) => {
      val l = tbl(s, dir, "lineitem")
      // RAW date-range predicate, not year(o_orderdate) BETWEEN: a
      // computed-column filter cannot push to the parquet scan, so the
      // full orders table (and through the join, all of lineitem) flowed
      // into the shuffle — measured 1.75x over linear at the 300x point.
      // The range form pushes down AND lets the join prune lineitem rows.
      val o = tbl(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
      val c = tbl(s, dir, "customer")
      val n = tbl(s, dir, "nation")
      l.join(o.hint("SHUFFLE_HASH"), l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .withColumn("yr", year(col("o_orderdate")))
        .groupBy(col("n_name"))
        .pivot("yr", Seq(1995, 1996, 1997, 1998))
        .agg(round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,6)")), 2).cast("double"))
    }),

    // Deterministic stratified take-n: exactly 25 docs per language by
    // smallest content hash. See Sampling.takeStratified.
    "q_take_stratified" -> ((s, dir) => {
      Sampling.takeStratified(
          tbl(s, dir, "documents").select(col("doc_id"), col("lang")),
          col("lang"), col("doc_id"), n = 25)
        .select(col("doc_id"), col("lang"))
    }),

    // Exact per-group mode: two partial-agg levels, distinct pairs on
    // the wire, greatest-value tie-break. See Quantiles.modePerGroup.
    "q_mode" -> ((s, dir) => {
      Quantiles.modePerGroup(tbl(s, dir, "lineitem"), "l_returnflag", "l_quantity")
        .withColumnRenamed("l_returnflag", "flag")
    }),

    // Winsorized prices: clamp into the exact [5%, 95%] quantiles —
    // outputs are actual data values, so the compare is bit-exact.
    "q_winsorize" -> ((s, dir) => {
      Quantiles.winsorize(tbl(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice")),
          "l_extendedprice", 0.05, 0.95)
        .withColumnRenamed("l_extendedprice", "price_w")
    }),

    // BM25 ranked retrieval over the documents corpus: postings exist
    // only for the query's terms, stats broadcast back in, top-k via
    // TakeOrdered. See TextAnalysis.bm25Rank.
    "q_bm25" -> ((s, dir) => {
      TextAnalysis.bm25Rank(tbl(s, dir, "documents"), "text", "doc_id",
        Seq("spark", "hash", "join", "window"), k = 20)
    }),

    // Exact quantiles by recursive histogram selection — no global sort,
    // no approximation; returns actual data elements (percentile_disc
    // semantics), so the oracle compare is bit-exact. See Quantiles.
    "q_quantiles" -> ((s, dir) => {
      Quantiles.exactQuantiles(tbl(s, dir, "lineitem"), "l_extendedprice",
        Seq(0.01, 0.25, 0.5, 0.75, 0.99))
    }),

    // Per-group exact quantiles in the few-groups regime (3 returnflags):
    // per-group recursive histogram selection — parallelism independent
    // of group count, unlike a partitioned window (measured 2.2x faster
    // at the 100x point, and the gap widens with cluster size). Wide
    // bins resolve any n in one level here. See Quantiles.
    "q_group_quantiles" -> ((s, dir) => {
      // bins=1024 tested against 8192 at the 1000x point (600M rows):
      // 232s vs 264s — the recursion is SCAN-bound (each level is a full
      // pass over the column), so wider bins buy nothing; per-level
      // driver state is bins x groups cells either way
      Quantiles.groupedQuantilesHistogram(tbl(s, dir, "lineitem"),
          "l_returnflag", "l_extendedprice", Seq(0.25, 0.5, 0.75),
          bins = 1024)
        .withColumnRenamed("l_returnflag", "flag")
    }),

    // Backward as-of join: each purchase picks the user's latest click at
    // or before it, rejecting clicks staler than 1 day (inner semantics).
    // One shuffle (union + per-user running last) — see Joins.asofBackward.
    "q_asof_join" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
      val p = ev.filter(col("event_type") === "purchase").selectExpr(
        "event_id", "user_id", "ts AS tms",
        "CAST(value AS DOUBLE) AS purchase_value")
      val c = ev.filter(col("event_type") === "click").selectExpr(
        "user_id", "ts AS ctms",
        "CAST(value AS DOUBLE) AS click_value")
      Joins.asofBackward(p, c, Seq("user_id"), "tms", "ctms",
          Seq("click_value"), tolerance = 86400000L)
        // inner-ness test on the match TIME, not the payload — a matched
        // row whose payload value is legitimately null must survive
        .filter(col("matched_time").isNotNull)
        .select(col("event_id"), col("user_id"), col("tms"),
          col("matched_time").as("click_tms"), col("click_value"))
    }),

    // Range join without an equi-key: lineitem prices falling inside the
    // [2.0x, 2.05x] retail-price band of the 20 priciest parts. Binned to
    // an equi-join (never a nested loop) — see Joins.rangePointJoin.
    "q_range_join" -> ((s, dir) => {
      val bands = tbl(s, dir, "part")
        .orderBy(col("p_retailprice").desc, col("p_partkey"))
        .limit(20)
        .select(col("p_partkey"), (col("p_retailprice") * 2.0).as("lo"),
          (col("p_retailprice") * 2.05).as("hi"))
      val li = tbl(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      Joins.rangePointJoin(li, "l_extendedprice", bands, "lo", "hi",
          binWidth = 16.0)
        .select(col("p_partkey"), col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice"))
    }),

    "q_window" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val bySupp = tbl(s, dir, "lineitem")
        .groupBy(col("l_suppkey"))
        .agg(sum(col("l_extendedprice")).as("total"))
      // global top-k via orderBy+limit -> TakeOrderedAndProject (each
      // partition keeps k, driver merges k·p rows) — NOT row_number over
      // an unpartitioned window, which drags every row to one task.
      // The rank is then assigned over just the k survivors.
      val top = bySupp.orderBy(col("total").desc, col("l_suppkey")).limit(10)
      val w = Window.orderBy(col("total").desc, col("l_suppkey"))
      top.withColumn("rn", row_number().over(w))
        .select(col("l_suppkey"), col("rn"), round(col("total"), 2).as("total"))
    }),

    "q_moving_avg" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // per-user 10-minute trailing moving aggregate over event time: a
      // RANGE frame on the millis epoch — tie-safe by construction (the
      // frame is a value interval, so equal timestamps are peers in both
      // engines regardless of within-tie order). The value goes through
      // decimal(18,6) because the two engines walk the frame differently
      // (Spark slides, DuckDB segment-trees): double sums would diverge
      // in the last bits, decimal sums are order-independent. One
      // shuffle on user_id; frames never cross partitions.
      val ev = tbl(s, dir, "events").selectExpr(
        "event_id", "user_id", "ts AS tms",
        "CAST(value AS DECIMAL(18,6)) AS v")
      val w = Window.partitionBy("user_id").orderBy("tms")
        .rangeBetween(-600000L, 0L)
      ev.select(col("event_id"), col("user_id"), col("tms"),
        round(sum("v").over(w).cast("double"), 6).as("mov_sum"),
        count(lit(1)).over(w).as("mov_n"),
        round((sum("v").over(w).cast("double") / count(lit(1)).over(w)), 6)
          .as("mov_avg"))
    }),

    // Time-series gap fill: per-user 6-hour grid from first to last
    // event, forward-filling the latest value seen. Grid generation is
    // generator-shaped (sequence+explode: O(slots) rows from O(1) input
    // per user, no driver loop); a bucket pre-agg keeps the grid join
    // 1:1; the fill is one last(ignoreNulls) frame over the user
    // partition. Single shuffle on user_id end to end, and the grid
    // scales with time-span x users, not event count.
    "q_gap_fill" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val step = 21600000L // 6 h
      val ev = tbl(s, dir, "events").selectExpr(
        "event_id", "user_id", "ts AS tms",
        "CAST(value AS DOUBLE) AS v")
      // latest value per bucket, picked by the unique event_id sequence —
      // deterministic in both engines (max_by / arg_max)
      val bucketed = ev
        .groupBy(col("user_id"), expr(s"(tms div $step) * $step").as("gts"))
        .agg(max_by(col("v"), col("event_id")).as("v_bucket"))
      val spans = ev.groupBy(col("user_id"))
        .agg(expr(s"(min(tms) div $step) * $step").as("t0"),
          expr(s"(max(tms) div $step) * $step").as("t1"))
      val grid = spans.select(col("user_id"),
        explode(sequence(col("t0"), col("t1"), lit(step))).as("gts"))
      val w = Window.partitionBy("user_id").orderBy("gts")
      grid.join(bucketed, Seq("user_id", "gts"), "left")
        .select(col("user_id"), col("gts"),
          round(last(col("v_bucket"), ignoreNulls = true).over(w), 2)
            .as("v_fill"))
    }),

    // SCD-2 dimension build: compress each user's event-type history into
    // validity intervals [valid_from, valid_to) — lag keeps only change
    // points, lead over the survivors supplies the closing edge (open
    // interval = null). Both windows use the same user_id partitioning
    // and (tms, event_id) order, so Catalyst plans one shuffle + one
    // sort; the tie-break on the unique event_id makes it deterministic.
    "q_scd2" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = tbl(s, dir, "events").selectExpr(
        "event_id", "user_id", "ts AS tms", "event_type")
      val w = Window.partitionBy("user_id").orderBy("tms", "event_id")
      ev.withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(!(col("event_type") <=> col("prev_type")))
        .withColumn("valid_to", lead(col("tms"), 1).over(w))
        .select(col("user_id"), col("event_type"),
          col("tms").as("valid_from"), col("valid_to"))
    }),

    // Incremental aggregate maintenance (materialized-view refresh
    // shape): per-(user, type) totals kept as a mergeable snapshot; the
    // last days of data are aggregated ALONE and merged by re-aggregating
    // the two partial states — at 100 TB the snapshot is O(keys) and each
    // refresh scans only the delta. Decimal sums make the merged state
    // bit-equal to a from-scratch rebuild (which is what the oracle runs).
    "q_incr_agg" -> ((s, dir) => {
      val split = 1706140800000L // 2024-01-25 00:00 UTC
      val ev = tbl(s, dir, "events").selectExpr(
        "user_id", "event_type", "ts AS tms",
        "CAST(value AS DECIMAL(18,6)) AS v")
      def part(d: DataFrame) = d.groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n"), sum("v").as("sv"))
      val snapshot = part(ev.filter(col("tms") < split))
      val delta = part(ev.filter(col("tms") >= split))
      snapshot.unionByName(delta)
        .groupBy("user_id", "event_type")
        .agg(sum(col("n")).as("n"), sum(col("sv")).as("sv"))
        .select(col("user_id"), col("event_type"), col("n"),
          round(col("sv").cast("double"), 4).as("sum_value"))
    }),

    // Statistical profile from exact co-moments: Pearson correlation,
    // sample covariance and stddev of (quantity, price) per return flag.
    // The five co-moment sums run in decimal — order-independent, unlike
    // a streaming corr's double co-moments, which merge in partition
    // order and differ between engines in the last bits — and the
    // closed-form stats are then scalar math on exact inputs. One
    // partial-agg pass over the scan, O(groups) merge state.
    "q_corr" -> ((s, dir) => {
      // decimal(9,2)/(13,2) capture the data exactly — but the
      // AGGREGATION runs on scaled int64 (xi = 100x, yi = 100y), with
      // the two wide products (x·y, y·y) hi/lo-SPLIT at 2^31 so every
      // per-row op and every sum stays a plain codegen long: a decimal
      // product past precision 18 falls off Spark's long-backed fast
      // path, and the BigDecimal-buffered agg measured 262s at 100x
      // where the long form runs the scan-bound cost. The exact sums
      // are reconstructed in decimal AFTER the agg (3 rows) and cast
      // to double exactly as the oracle casts its exact decimal sums —
      // ONE correct rounding of the same rational on both sides, so
      // the hash-compare still holds. Headroom: Σlo ≤ rows·2^31 and
      // Σhi ≤ rows·(maxProduct/2^31) both clear int64 past 10^10 rows.
      val M = 2147483648L // 2^31
      val li = tbl(s, dir, "lineitem").select(col("l_returnflag"),
        (col("l_quantity").cast("decimal(9,2)") * 100).cast("long").as("xi"),
        (col("l_extendedprice").cast("decimal(13,2)") * 100).cast("long").as("yi"))
      val withP = li
        .withColumn("pxy", col("xi") * col("yi"))
        .withColumn("pyy", col("yi") * col("yi"))
      val a = withP.groupBy("l_returnflag").agg(
        count(lit(1)).as("n"),
        sum(col("xi")).as("sxl"),
        sum(col("yi")).as("syl"),
        sum(shiftright(col("pxy"), 31)).as("hxy"),
        sum(col("pxy").bitwiseAND(lit(M - 1))).as("lxy"),
        sum(col("xi") * col("xi")).as("sxxl"),
        sum(shiftright(col("pyy"), 31)).as("hyy"),
        sum(col("pyy").bitwiseAND(lit(M - 1))).as("lyy"))
      // exact Σ(product)/10^4 as ONE decimal value, then one cast
      def wide(hi: org.apache.spark.sql.Column,
               lo: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        ((hi.cast("decimal(26,0)") * lit(M).cast("decimal(12,0)") + lo)
          .cast("decimal(38,4)") / 10000).cast("double")
      val sx = col("sxl").cast("double") / 100.0
      val sy = col("syl").cast("double") / 100.0
      val sxy = wide(col("hxy"), col("lxy"))
      val sxx = (col("sxxl").cast("decimal(38,4)") / 10000).cast("double")
      val syy = wide(col("hyy"), col("lyy"))
      a.select(col("l_returnflag"), col("n"),
        round((col("n") * sxy - sx * sy) /
          (sqrt(col("n") * sxx - sx * sx) * sqrt(col("n") * syy - sy * sy)), 6)
          .as("corr_qty_price"),
        round((sxy - sx * sy / col("n")) / (col("n") - 1), 4).as("covar_samp"),
        round(sqrt((sxx - sx * sx / col("n")) / (col("n") - 1)), 6)
          .as("stddev_qty"))
    }),

    // hierarchical totals via ROLLUP (beyond the reference's kit): per
    // (flag, status), per flag, and grand total in ONE pass — Spark plans
    // a single Expand + hash agg, not three scans
    "q_rollup" -> ((s, dir) => {
      // revenue sums as scaled int64 (price×100 — the decimal(13,2)
      // capture is exact, so the long capture is too): the previous
      // decimal(28,6)-buffered sum fell off Spark's long-backed agg
      // fast path and measured 209.8s at 100× for the same values (the
      // q_corr disease). Exact Σ reconstructed AFTER the agg (9 rows)
      // and cast back to the previous output type decimal(25,2) — the
      // value has exactly 2 decimal digits, so every step is lossless.
      // Headroom: Σ(price×100) ≤ 10^7·rows·3(rollup expand) — int64-safe
      // past 10^10 lineitem rows.
      tbl(s, dir, "lineitem")
        .withColumn("__pi",
          (col("l_extendedprice").cast("decimal(13,2)") * 100).cast("long"))
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sum(col("__pi")).as("__syl"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("n"),
          (col("__syl").cast("decimal(38,6)") / 100).cast("decimal(25,2)")
            .as("revenue"))
    }),

    // full CUBE (all 4 grouping sets in one Expand pass, complementing
    // q_rollup's hierarchy)
    "q_cube" -> ((s, dir) => {
      tbl(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 2).as("qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("n"), col("qty"))
    }),

    // set operations (SURVEY §2.2 set-ops row): customers with BOTH an
    // urgent and a high order but NO low order — intersect/except are
    // hash-agg-based distinct set ops in Spark (no sort), same semantics
    // as SQL INTERSECT/EXCEPT
    "q_setops" -> ((s, dir) => {
      val o = tbl(s, dir, "orders")
      def custsWith(p: String) =
        o.filter(col("o_orderpriority") === p).select(col("o_custkey"))
      custsWith("1-URGENT")
        .intersect(custsWith("2-HIGH"))
        .except(custsWith("5-LOW"))
    }),

    // semi/anti join coverage: per-nation counts of customers with at
    // least one order (left semi) and with none (left anti) — both plan
    // as hash joins that never materialize the matched orders
    "q_semi_anti" -> ((s, dir) => {
      val c = tbl(s, dir, "customer")
      val o = tbl(s, dir, "orders")
      val semi = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("with_orders"))
      val anti = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("no_orders"))
      semi.join(anti, Seq("c_nationkey"), "full")
        .select(col("c_nationkey"),
          coalesce(col("with_orders"), lit(0L)).as("with_orders"),
          coalesce(col("no_orders"), lit(0L)).as("no_orders"))
    }),

    "q_topsis" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax"))
          .as("features"))
      Topsis.score(li, "features", topsisWeights, topsisTypes, topsisBest, topsisInterval, "score")
        .select(col("l_orderkey"), col("l_linenumber"), round(col("score"), 6).as("score"))
    }),

    "q_ahp" -> ((s, dir) => {
      val cols = Array("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val li = tbl(s, dir, "lineitem")
        .select((Seq("l_orderkey", "l_linenumber") ++ cols).map(col): _*)
      AHP.score(li, cols, ahpJudgment, ahpIndicator, "score")
        .select(col("l_orderkey"), col("l_linenumber"), round(col("score"), 6).as("score"))
    }),

    "q_fcm" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax"))
          .as("features"))
      new FCMModel().setCentroids(fcmCentroids)
        .transform(li)
        .select(col("l_orderkey"), col("l_linenumber"), col("prediction"))
    }),

    "q_canopy" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        array(col("l_quantity"), col("l_tax") * 100).as("features"))
      Canopy.assign(li, "features", canopyCenters, canopyT1, "euclidean")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("__canopy_id").as("canopy_id"))
    }),

    "q_fcm_fit" -> ((s, dir) => {
      // the real iterative fit path (driver loop + treeAggregate) on data
      // scaled to comparable magnitudes; explicit init makes every round
      // deterministic and the oracle unrolls all rounds AND the tol-based
      // early stop, so the default convergence check stays on
      val li = tbl(s, dir, "lineitem").select(
        array(col("l_quantity") / 50, col("l_discount") * 10, col("l_tax") * 10)
          .as("features"))
      val model = new graft.operators.FCM().setMaxIter(10)
        .setInitialCentroids(fcmFitInit).fit(li)
      // scalar per-dim columns: the driver's rows-only check still sorts the
      // output, and array columns are unsortable on its side
      model.modelData(s).select(col("cluster_id"),
        round(col("centroid")(0), 6).as("c0"),
        round(col("centroid")(1), 6).as("c1"),
        round(col("centroid")(2), 6).as("c2"))
    }),

    "q_canopy_full" -> ((s, dir) => {
      // the COMPLETE canopy pipeline, end to end and exact: deterministic
      // min-key sweep picks the centers (partition-layout-independent),
      // then the exploded per-row assignment — one row per strict
      // membership (1e-6 < d < T1), center id = selection order. The
      // oracle replays the sweep as a recursive CTE and the assignment as
      // a distance join. (Until r4 this was the order-dependent reference
      // default and rows-only — the last no-oracle entry in the suite.)
      val li = tbl(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        array(col("l_quantity"), col("l_tax") * 100).as("features"))
      val centers = Canopy.selectCentersSequential(li, "features",
        Seq("l_orderkey", "l_linenumber"), t1 = 20.0, t2 = 10.0,
        maxIter = 50, measure = "euclidean")
      Canopy.assign(li, "features", centers, t1 = 20.0, "euclidean")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("__canopy_id").as("canopy_id"),
          round(col("__center")(0), 6).as("c0"),
          round(col("__center")(1), 6).as("c1"))
    }),

    "q_fcm_fit_hash" -> ((s, dir) => {
      // the deterministic "sample k rows" init: smallest-k by md5(id) —
      // partition-independent AND replayable by the oracle, unlike an RDD
      // takeSample; same unrolled-round oracle shape as q_fcm_fit
      val li = tbl(s, dir, "lineitem").select(
        (col("l_orderkey") * 10 + col("l_linenumber")).as("init_id"),
        array(col("l_quantity") / 50, col("l_discount") * 10, col("l_tax") * 10)
          .as("features"))
      val model = new graft.operators.FCM().setK(3).setMaxIter(10)
        .setInitIdCol("init_id").fit(li)
      model.modelData(s).select(col("cluster_id"),
        round(col("centroid")(0), 6).as("c0"),
        round(col("centroid")(1), 6).as("c1"),
        round(col("centroid")(2), 6).as("c2"))
    }),

    "q_kmeans" -> ((s, dir) => {
      // deterministic Lloyd's: hash-sample init + decimal per-round means
      // make every round's centroids bit-identical across engines and
      // partitionings, so the ITERATIVE fit (not just predict) is
      // hash-exact; final per-cluster counts exercise the predict path
      val li = tbl(s, dir, "lineitem").select(
        (col("l_orderkey") * 10 + col("l_linenumber")).as("init_id"),
        array(col("l_quantity") / 50, col("l_discount") * 10, col("l_tax") * 10)
          .as("features"))
      val model = new graft.operators.KMeansDet().setK(4).setMaxIter(8)
        .setInitIdCol("init_id").fit(li)
      val counts = model.transform(li)
        .groupBy(col("prediction").as("cluster_id"))
        .agg(count(lit(1)).as("n"))
      model.modelData(s).select(col("cluster_id"),
          round(col("centroid")(0), 6).as("c0"),
          round(col("centroid")(1), 6).as("c1"),
          round(col("centroid")(2), 6).as("c2"))
        .join(counts, Seq("cluster_id"), "left")
        .select(col("cluster_id"), col("c0"), col("c1"), col("c2"),
          coalesce(col("n"), lit(0L)).as("n"))
    }),

    // cluster-balanced diverse selection (the SemDeDup/DiverseSelect
    // companion): JL-project 64->4 (engine-exact kernel, round-6), a
    // deterministic k-means fit over the projections, then a capped
    // per-cluster hash take — equal representation from every region of
    // embedding space instead of a density-biased uniform sample. The
    // whole composition (projection, iterative fit, threshold-pruned
    // take) replays hash-exactly in the oracle
    "q_cluster_balance" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val proj = Similarity.randomProjection(emb, "embedding", "__p", 64, 4, "4")
        .select(col("vec_id"),
          array((0 until 4).map(i => round(col("__p")(i), 6)): _*).as("features"))
      val model = new graft.operators.KMeansDet().setK(6).setMaxIter(4)
        .setInitIdCol("vec_id").fit(proj)
      val assigned = model.transform(proj)
        .select(col("vec_id"), col("prediction").cast("int").as("cluster_id"))
      Sampling.takeStratified(assigned, col("cluster_id"), col("vec_id"), n = 20)
    }),

    "q_canopy_sweep" -> ((s, dir) => {
      // the deterministic-order sweep: globally sorted by the stable
      // (l_orderkey, l_linenumber) key, so center selection is partition-
      // layout-independent and the DuckDB oracle replays it exactly as a
      // recursive CTE (the order-dependent reference default stays
      // showcased rows-only in q_canopy_full).
      // Member counts come from the exploded assignment + count, NOT the
      // Canopy transformer's reference-shaped member ARRAYS: collect_list
      // of full feature vectors per canopy is O(members) in ONE
      // aggregation buffer — the 100x run's found defect (a single task
      // demanding 1.7 GB; 60M rows / <=50 canopies means millions of
      // vectors in one list). size(list)+count agree by construction
      // (transform prepends the center, hence the +1)
      val li = tbl(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        array(col("l_quantity"), col("l_tax") * 100).as("features"))
      val centers = Canopy.selectCentersSequential(li, "features",
        Seq("l_orderkey", "l_linenumber"), t1 = 20.0, t2 = 10.0,
        maxIter = 50, measure = "euclidean")
      import s.implicits._
      val seed = centers.zipWithIndex.map { case (c, i) => (i, c) }.toSeq
        .toDF("__canopy_id", "centroids")
      val counts = Canopy.assign(li, "features", centers, t1 = 20.0,
          measure = "euclidean")
        .groupBy(col("__canopy_id")).agg(count(lit(1)).as("__n"))
      seed.join(counts, Seq("__canopy_id"), "left")
        .select(round(col("centroids")(0), 6).as("c0"),
          round(col("centroids")(1), 6).as("c1"),
          (coalesce(col("__n"), lit(0L)) + 1L).cast("int").as("n_members"))
    }),

    "q_canopy_fcm" -> ((s, dir) => {
      // the intended composition of the two reference clusterers, made
      // fully deterministic: the ORDERED canopy sweep picks k and the
      // starting centroids (partition-layout-independent, maxIter caps k
      // scale-independently), FCM refines them (one treeAggregate per
      // round); the oracle replays the sweep as a recursive CTE feeding
      // the same unrolled-FCM rounds. The order-dependent two-level
      // selection stays showcased in q_canopy_full.
      val li = tbl(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        array(col("l_quantity") / 50, col("l_discount") * 10, col("l_tax") * 10)
          .as("features"))
      val centers = Canopy.selectCentersSequential(li, "features",
        Seq("l_orderkey", "l_linenumber"), t1 = 0.6, t2 = 0.3, maxIter = 4,
        measure = "euclidean")
      val model = new graft.operators.FCM().setMaxIter(10)
        .setInitialCentroids(centers).fit(li.select("features"))
      model.modelData(s).select(col("cluster_id"),
        round(col("centroid")(0), 6).as("c0"),
        round(col("centroid")(1), 6).as("c1"),
        round(col("centroid")(2), 6).as("c2"))
    }),

    "q_apriori" -> ((s, dir) => {
      // Market-basket over lineitem: transaction = order, item = partkey
      // bucket; items sorted so itemset identity is canonical in both
      // engines. Pairs mode (maxItemsetSize=2) keeps the oracle SQL exact.
      // no .distinct() before the groupBy — collect_set dedups within the
      // group, and the pre-distinct costs a whole extra shuffle of the scan
      val it = tbl(s, dir, "lineitem")
        .select(col("l_orderkey"),
          concat(lit("i"), pmod(col("l_partkey"), lit(12))).as("item"))
      val tx = it.groupBy("l_orderkey")
        .agg(concat_ws("/", sort_array(collect_set(col("item")))).as("items"))
      new Apriori().setMinSupport(0.05).setMinConfidence(0.1).setLift(1.0)
        .setItemSeparator("/").setInputCols("items").setMaxItemsetSize(2)
        .transform(tx)
        .select(concat_ws(",", col("itemSet")).as("item_set"), col("count"),
          round(col("support"), 6).as("support"),
          round(col("confidence"), 6).as("confidence"),
          round(col("lift"), 6).as("lift"),
          concat_ws(",", col("prefix")).as("prefix"),
          concat_ws(",", col("suffix")).as("suffix"))
    }),

    // Level-wise Apriori under BOTH scale guards, on baskets where the
    // reference's 2^|tx| enumeration is infeasible: per-CUSTOMER baskets
    // (~28 distinct items of 60, max 51 — 2^51 subsets unbounded) are
    // truncated to their first 20 sorted items (maxBasketSize, ~84% of
    // baskets clipped) and enumerated level-wise to pairs
    // (maxItemsetSize=2). The oracle replays the exact same truncated
    // enumeration, so the guards themselves are hash-checked. The
    // orders join is left to AQE: broadcast at this scale, shuffle
    // join on a cluster (fact-fact).
    "q_apriori_levelwise" -> ((s, dir) => {
      val orders = tbl(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val it = tbl(s, dir, "lineitem")
        .select(col("l_orderkey"),
          concat(lit("i"), pmod(col("l_partkey"), lit(60))).as("item"))
      val tx = it.join(orders, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(concat_ws("/", sort_array(collect_set(col("item")))).as("items"))
      new Apriori().setMinSupport(0.15).setMinConfidence(0.2).setLift(1.0)
        .setItemSeparator("/").setInputCols("items")
        .setMaxItemsetSize(2).setMaxBasketSize(20)
        .transform(tx)
        .select(concat_ws(",", col("itemSet")).as("item_set"), col("count"),
          round(col("support"), 6).as("support"),
          round(col("confidence"), 6).as("confidence"),
          round(col("lift"), 6).as("lift"),
          concat_ws(",", col("prefix")).as("prefix"),
          concat_ws(",", col("suffix")).as("suffix"))
    }),

    "q_online_ahp" -> ((s, dir) => {
      new OnlineAHP()
        .setInputCols("x0", "x1", "x2")
        .setJudgmentMatrix(onlineJudgment)
        .setIndicatorType(Array(1, 0, 1))
        .setTimeCol("tms").setWindowDuration("3 days").setOutputCol("score")
        .transform(eventFeatures(s, dir))
        .select(col("event_id"), round(col("score"), 6).as("score"))
    }),

    "q_online_ahp_sliding" -> ((s, dir) => {
      // sliding windows (3-day window, 1-day slide): each event scored in
      // each of its 3 overlapping windows — a capability extension over
      // the reference's tumbling/global windows
      new OnlineAHP()
        .setInputCols("x0", "x1", "x2")
        .setJudgmentMatrix(onlineJudgment)
        .setIndicatorType(Array(1, 0, 1))
        .setTimeCol("tms").setWindowDuration("3 days").setSlideDuration("1 day")
        .setOutputCol("score")
        .transform(eventFeatures(s, dir))
        .select(col("event_id"), col("window_start"),
          round(col("score"), 6).as("score"))
    }),

    "q_sessionize" -> ((s, dir) => {
      // session windows (1-hour gap) per user: id + per-session aggregates
      val ev = tbl(s, dir, "events").selectExpr(
        "event_id", "user_id", "ts AS tms", "CAST(value AS DOUBLE) AS v")
      graft.operators.EventWindows.sessionize(ev, "tms", Seq("user_id"), 3600000L)
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          (max(col("tms")) - min(col("tms"))).as("duration_ms"),
          round(sum(col("v").cast("decimal(18,6)")), 4).cast("double").as("value_sum"))
    }),

    // Streaming CORRECTNESS, not just spec parity: the native
    // session_window pipeline runs over the events table replayed through
    // a file-source stream, closed sessions drain via the watermark
    // sentinel, and the DuckDB oracle recomputes the sessions in SQL.
    // State is bounded by OPEN sessions throughout (append + eviction).
    "q_sessionize_stream" -> ((s, dir) =>
      runEventStream(s, dir, "sessionize") { ev =>
        graft.operators.EventWindows.sessionizeStream(
          ev, "tms", Seq("user_id"), gap = "1 hour", delay = "0 seconds")
      }.filter(col("user_id") >= 0)
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"), col("duration_ms"))),

    // Event-time windowed HLL: distinct users per day as register
    // tables, maintained as a WATERMARKED append-mode streaming agg —
    // unlike the complete-mode sketch drains (count-min grid, HLL per
    // source), windows EVICT when the watermark passes, so standing
    // state is (open windows) x m registers, bounded by the watermark
    // horizon at any corpus size. The registers are the same
    // engine-exact contract as q_hll_vocab's; the oracle replays the
    // batch window assignment.
    "q_hll_window" -> ((s, dir) =>
      runEventStream(s, dir, "hll_window") { ev =>
        val t = ev.withColumn("__t", timestamp_millis(col("tms")))
          .withWatermark("__t", "0 seconds")
        graft.operators.TextAnalysis.hllWindowRegisters(
          t, col("__t"), "1 day", col("user_id"), m = 1024)
      }.filter(col("w_start") < 4102444800000L) // the flush sentinel's window never emits; belt-and-braces
        .select(col("w_start"), col("register"), col("max_rho"))),

    // Streaming windowed AHP over the same replay: the
    // flatMapGroupsWithState window buffer (the reference's Flink
    // trigger-point semantics) scores each 3-day tumbling window once the
    // watermark passes its end — checked against the batch AHP+entropy
    // SQL. Output keyed by (tms, score) multiset: ScoredRow carries no
    // event id, and the batch q_online_ahp already pins per-event
    // attribution.
    "q_online_ahp_stream" -> ((s, dir) =>
      runEventStream(s, dir, "online_ahp") { ev =>
        val feats = ev.select(col("tms"),
          array(col("v"), (col("user_id") % 100).cast("double"),
            (col("event_id") % 50).cast("double")).as("features"))
        graft.streaming.OnlineStreaming.onlineAhpStream(
          feats, onlineJudgment, Array(1, 0, 1), "3 days", "0 seconds").toDF()
      }.filter(col("tms") < 4102444800000L)
        .select(col("tms"), round(col("score"), 6).as("score"))),

    // Streaming as-of join over the same replay: purchases (lefts) match
    // their latest preceding click within 1 day, finalized per key as the
    // watermark passes — the batch q_asof_join semantics, checked against
    // the SAME ASOF JOIN oracle.
    "q_asof_stream" -> ((s, dir) =>
      runEventStream(s, dir, "asof") { ev =>
        val shaped = ev
          .filter(col("event_type").isin("purchase", "click", "sentinel"))
          .select(col("user_id").as("key"), col("tms"),
            when(col("event_type") === "purchase", 1).otherwise(0).as("side"),
            col("event_id").as("id"), col("v").as("value"))
        graft.streaming.AsofStreaming.asofStream(
          shaped, tolerance = 86400000L, lateness = "0 seconds").toDF()
      }.filter(col("key") >= 0 && col("matchedTms").isNotNull)
        .select(col("id").as("event_id"), col("key").as("user_id"),
          col("tms"), col("matchedTms").as("click_tms"),
          col("value").as("click_value"))),

    "q_online_topsis" -> ((s, dir) => {
      val ev = eventFeatures(s, dir)
        .withColumn("features", array(col("x0"), col("x1"), col("x2")))
      val model = new OnlineTopsis()
        .setCriteriaTypes(1, 2, 1).setWeights(0.5, 0.3, 0.2)
        .setTimeCol("tms").setWindowDuration("3 days")
        .fit(ev)
      model.transform(ev)
        .select(col("event_id"), round(col("prediction"), 6).as("score"))
    }),

    // Canonical ingest normalization: control chars -> spaces, whitespace
    // collapse, trim, lowercase. Pure codegen'd projection — zero shuffle.
    "q_normalize" -> ((s, dir) => {
      tbl(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.normalizeText(col("text")).as("norm_text"))
        .withColumn("n_chars_norm", length(col("norm_text")).cast("long"))
    }),

    // Unicode NFC normalization (functions/NfcNormalize.scala): the
    // dedup-key prep step — composed and decomposed spellings of the
    // same text must md5 identically. Planted suffixes rotate composed
    // é, decomposed e+COMBINING ACUTE, and a+COMBINING RING; the oracle
    // is DuckDB's INDEPENDENT nfc_normalize implementation over the
    // same construction (two engines agreeing on the Unicode algorithm,
    // not a replay), with the md5 key checked on the normalized form.
    // Zero-shuffle codegen projection
    "q_nfc_normalize" -> ((s, dir) => {
      val suffix = when(pmod(col("doc_id"), lit(4L)) === 0, lit(" e\u0301")) // DECOMPOSED: e + COMBINING ACUTE
        .when(pmod(col("doc_id"), lit(4L)) === 1, lit(" \u00E9")) // composed: must key identically after NFC
        .when(pmod(col("doc_id"), lit(4L)) === 2, lit(" a\u030A")) // decomposed ring
        .otherwise(lit(""))
      tbl(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"),
          graft.functions.NfcNormalize(concat(col("text"), suffix)).as("norm"))
        .withColumn("dedup_key", md5(col("norm")))
    }),

    // robots.txt opt-out gate (RFC 9309, operators/robots.scala): per-
    // domain robots parsed ONCE and broadcast (model-sized rule table),
    // URL corpus gated in a projection. The synthesized policies put
    // every semantic on the oracle-checked path: group selection (the
    // graftbot group must win over the Disallow-everything '*' group —
    // /pub paths stay ALLOWED), longest-match precedence, Allow-beats-
    // Disallow ties, '$' anchors, '*' wildcards, and absent robots
    // (every domain with (doc_id%50)%7==0 has no row -> allowed). The
    // oracle replays the full decision table from doc_id arithmetic
    "q_robots_gate" -> ((s, dir) => {
      val restrictive =
        """User-agent: evilbot
          |Disallow: /
          |
          |User-agent: graftbot
          |User-agent: otherbot
          |Disallow: /private*
          |Allow: /private/ok$
          |Disallow: /tmp/
          |
          |User-agent: *
          |Disallow: /
          |""".stripMargin
      val permissive =
        """# odd domains: tmp is closed except the open subtree
          |User-agent: *
          |Disallow: /tmp/
          |Allow: /tmp/open
          |""".stripMargin
      val docs = tbl(s, dir, "documents").filter(col("text").isNotNull)
      val k = pmod(col("doc_id"), lit(50L))
      val domain = concat(lit("example"), k.cast("string"), lit(".com"))
      val m = pmod(col("doc_id"), lit(5L))
      val path = when(m === 0, concat(lit("/private/x"), col("doc_id").cast("string")))
        .when(m === 1, lit("/private/ok"))
        .when(m === 2, concat(lit("/pub/"), col("doc_id").cast("string")))
        .when(m === 3, concat(lit("/tmp/"), col("doc_id").cast("string")))
        .otherwise(concat(lit("/tmp/open"), col("doc_id").cast("string")))
      val urls = docs.select(col("doc_id"), domain.as("domain"),
        concat(lit("http://"), domain, path).as("url"))
      val robotsDf = s.range(0, 50)
        .filter(pmod(col("id"), lit(7L)) =!= 0)
        .select(concat(lit("example"), col("id").cast("string"), lit(".com"))
            .as("domain"),
          when(pmod(col("id"), lit(2L)) === 0, lit(restrictive))
            .otherwise(lit(permissive)).as("content"))
      graft.operators.Robots.robotsGate(urls, col("url"), col("domain"),
          robotsDf, "domain", "content", userAgent = "graftbot/1.0")
        .select(col("doc_id"), col("domain"), col("robots_allowed"))
    }),

    // the CORPUS-SIZED rule-table leg of the robots gate: rules parsed
    // executor-side, decision in a domain-keyed left join + projection,
    // zero driver state — same fixture, same decisions, same oracle as
    // q_robots_gate (the broadcast form); the shape that holds when the
    // robots table is a crawl-wide 10^8-domain relation
    "q_robots_join" -> ((s, dir) => {
      val restrictive =
        """User-agent: evilbot
          |Disallow: /
          |
          |User-agent: graftbot
          |User-agent: otherbot
          |Disallow: /private*
          |Allow: /private/ok$
          |Disallow: /tmp/
          |
          |User-agent: *
          |Disallow: /
          |""".stripMargin
      val permissive =
        """# odd domains: tmp is closed except the open subtree
          |User-agent: *
          |Disallow: /tmp/
          |Allow: /tmp/open
          |""".stripMargin
      val docs = tbl(s, dir, "documents").filter(col("text").isNotNull)
      val k = pmod(col("doc_id"), lit(50L))
      val domain = concat(lit("example"), k.cast("string"), lit(".com"))
      val m = pmod(col("doc_id"), lit(5L))
      val path = when(m === 0, concat(lit("/private/x"), col("doc_id").cast("string")))
        .when(m === 1, lit("/private/ok"))
        .when(m === 2, concat(lit("/pub/"), col("doc_id").cast("string")))
        .when(m === 3, concat(lit("/tmp/"), col("doc_id").cast("string")))
        .otherwise(concat(lit("/tmp/open"), col("doc_id").cast("string")))
      val urls = docs.select(col("doc_id"), domain.as("domain"),
        concat(lit("http://"), domain, path).as("url"))
      val robotsDf = s.range(0, 50)
        .filter(pmod(col("id"), lit(7L)) =!= 0)
        .select(concat(lit("example"), col("id").cast("string"), lit(".com"))
            .as("domain"),
          when(pmod(col("id"), lit(2L)) === 0, lit(restrictive))
            .otherwise(lit(permissive)).as("content"))
      graft.operators.Robots.robotsGateJoined(urls, col("url"), col("domain"),
          robotsDf, "domain", "content", userAgent = "graftbot/1.0")
        .select(col("doc_id"), col("domain"), col("robots_allowed"))
    }),

    // curation v10 — the round-9 web-ingest front door COMPOSED:
    // robots.txt opt-out gate (RFC 9309 decision table) -> fused HTML
    // extraction -> Unicode NFC -> md5 dedup key + token accounting.
    // A decomposed e+COMBINING ACUTE is planted in every page so the
    // NFC step is load-bearing for the key (skip it and every key
    // changes). The oracle replays the whole composition from ground
    // truth: the robots CASE table picks the surviving rows, the clean
    // text is rebuilt from raw columns, and the key is DuckDB's own
    // md5(nfc_normalize(...)) — independent implementations end to end
    "q_curate10" -> ((s, dir) => {
      import graft.operators.{TextAnalysis, Robots}
      val restrictive =
        """User-agent: evilbot
          |Disallow: /
          |
          |User-agent: graftbot
          |User-agent: otherbot
          |Disallow: /private*
          |Allow: /private/ok$
          |Disallow: /tmp/
          |
          |User-agent: *
          |Disallow: /
          |""".stripMargin
      val permissive =
        """User-agent: *
          |Disallow: /tmp/
          |Allow: /tmp/open
          |""".stripMargin
      val docs = tbl(s, dir, "documents").filter(col("text").isNotNull)
      val safeText = regexp_replace(col("text"), "[<&\\s\\x00-\\x1f\\x7f]+", " ")
      val k = pmod(col("doc_id"), lit(50L))
      val domain = concat(lit("example"), k.cast("string"), lit(".com"))
      val m = pmod(col("doc_id"), lit(5L))
      val path = when(m === 0, concat(lit("/private/x"), col("doc_id").cast("string")))
        .when(m === 1, lit("/private/ok"))
        .when(m === 2, concat(lit("/pub/"), col("doc_id").cast("string")))
        .when(m === 3, concat(lit("/tmp/"), col("doc_id").cast("string")))
        .otherwise(concat(lit("/tmp/open"), col("doc_id").cast("string")))
      val html = concat(
        lit("<html><head><script>if(a<b&&c>d){x()}</script></head><body><h1>"),
        col("lang"), lit("</h1><p>"), safeText,
        lit(" e\u0301-suffix&nbsp;&quot;end&quot;</p></body></html>"))
      val pages = docs.select(col("doc_id"), domain.as("domain"),
        concat(lit("http://"), domain, path).as("url"), html.as("html"))
      val robotsDf = s.range(0, 50)
        .filter(pmod(col("id"), lit(7L)) =!= 0)
        .select(concat(lit("example"), col("id").cast("string"), lit(".com"))
            .as("domain"),
          when(pmod(col("id"), lit(2L)) === 0, lit(restrictive))
            .otherwise(lit(permissive)).as("content"))
      Robots.robotsGate(pages, col("url"), col("domain"), robotsDf,
          "domain", "content", userAgent = "graftbot/1.0")
        .filter(col("robots_allowed"))
        .select(col("doc_id"), col("domain"),
          TextAnalysis.htmlToTextFused(col("html")).as("clean_text"))
        .select(col("doc_id"), col("domain"),
          size(split(lower(col("clean_text")), "\\s+")).cast("long")
            .as("n_tokens"),
          md5(graft.functions.NfcNormalize(col("clean_text"))).as("dedup_key"))
    }),

    // curation v11 — the ROUND-10 pieces composed end-to-end: corpus →
    // sharded WARC egress → parallel ranged re-ingest (the archive leg:
    // content must survive byte-exact, combining chars included) →
    // PSL/IDN registrable domains (the .aichi.jp rows key as DISTINCT
    // 3-label domains — a last-two-labels bug pools them AND misses
    // their robots rows; the BÜCHER.de rows pool under ONE punycode
    // key) → robots gate in the JOIN shape (rules as data, zero driver
    // state) → fused HTML extraction → NFC dedup keys → per-domain
    // sqrt caps. The oracle replays the whole composition from ground
    // truth, nfc_normalize and md5 included
    // composed curation v12 — the INCREMENTAL RE-CURATION loop on the
    // GraftTable leg (round 11): the standing corpus is snapshot 1 of a
    // manifest table, the new crawl lands as snapshot 2, and the
    // recurate pass reads GraftTable.delta (exactly the appended rows)
    // against a TIME-TRAVEL read of snapshot 1 (the standing hashes at
    // ingest time — a later append can't race the dedup decision):
    // exact-dedup within the delta (min-id per content hash), anti-join
    // vs standing content, token-band quality gate. At 100 TB this is
    // the shape that re-curates a crawl increment without touching the
    // corpus: the table prunes, the delta is the only full-width read.
    "q_curate12" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"), pmod(col("doc_id"), lit(64)).as("bucket"),
          md5(col("text").cast("string")).as("__h"),
          size(split(lower(col("text")), "\\s+")).cast("long").as("n_tokens"))
      val t = graft.sources.GraftTable.scratchTable("curate12")
      graft.sources.GraftTable.append(
        docs.filter(pmod(col("doc_id"), lit(3)) === 0), t, "bucket") // standing
      graft.sources.GraftTable.append(
        docs.filter(pmod(col("doc_id"), lit(3)) =!= 0), t, "bucket") // crawl
      val standingH = graft.sources.GraftTable.read(s, t, Some(1L))
        .select(col("__h")).distinct()
      val delta = graft.sources.GraftTable.delta(s, t, fromId = 1L)
      val fresh = delta.join(standingH, Seq("__h"), "left_anti")
      val keepIds = fresh.groupBy(col("__h"))
        .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id"))
      fresh.join(keepIds, Seq("doc_id"), "left_semi")
        .filter(col("n_tokens").between(5, 5000))
        .select(col("doc_id"), col("bucket"), col("n_tokens"))
    }),

    // curation v13 — the MULTIMODAL front door (round 12): the codec kit
    // composed into one gated pipeline. Each doc carries a media blob
    // (doc_id%3: PNG image / MP3 audio / H.264 video, all real encoders),
    // then per-modality codec gates — image: real decode + dHash56
    // near-dup keep-min (docs 6k and 6k+3 share an md5-noise base, the
    // odd one +3/channel brightness — the gradient hash provably cancels
    // it, so every planted pair drops its later member); audio: MP3
    // frame walk with duration >= 130 ms, bitrate >= 128 kbps, zero bad
    // frames; video: H.264 SPS walk with fps >= 25, frames >= 5,
    // width >= 48, zero bad NALs — and finally the CCNet-style per-source
    // sqrt cap over the union. The oracle replays everything from the
    // fixture formulas: the dHash grid arithmetic, the MP3/H.264 header
    // math, and the md5-rank cap rule. At 100 TB the shape is: blobs
    // never shuffle (codec gates are mapPartitions projections), only
    // (id, hash/meta) rows move — the dHash band join and the
    // O(#sources) cap are the exchanges.
    "q_curate13" -> ((s, dir) => {
      import graft.operators.{Mp3Codec, H264Codec}
      val docs = tbl(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"), col("source"))
      val imgUdf = udf { (id: Long) =>
        val seed = id / 6
        val bright = (3 * ((id / 3) % 2)).toInt
        Multimodal.RealCodecs.encodePng(16, 12, (x, y) => {
          val h = graft.operators.Dedup.md5LongJvm(s"cx_${seed}_${x}_$y")
          ((h % 247).toInt + bright, ((h / 247) % 247).toInt + bright,
            ((h / 247 / 247) % 247).toInt + bright)
        })
      }
      val mp3Udf = udf { (id: Long) =>
        Mp3Codec.encodeSilent(
          sampleRate = if (id % 2 == 1) 44100 else 32000, channels = 1,
          frames = (3 + id % 5).toInt,
          bitrateKbps = if (id % 4 < 2) 192 else 96, withCrc = false)
      }
      val vidUdf = udf { (id: Long) =>
        H264Codec.encodeFixture(
          width = 16 * (2 + (id % 4).toInt),
          height = 16 * (3 + (id % 3).toInt),
          frames = (3 + id % 6).toInt,
          fps = if (id % 2 == 0) 30.0 else 24.0,
          profileIdc = 66, levelIdc = 31, slicesPerFrame = 1, cropRight = 0)
      }
      // image leg: decode-verified stats + near-dup keep-min. Radius
      // adapts on the same corpus-count rule as q_image_dedup (and the
      // oracle replays the identical CASE), so the band join stays
      // selective at every scale factor.
      val radius =
        if (tbl(s, dir, "documents").count() > 200000L) 1 else 3
      // staged once (round 12): the blob leg feeds BOTH imageStats and
      // the dHash fingerprint stage — un-staged, the 192-md5s-per-image
      // encode UDF re-ran for each consumer (two full encode passes)
      val img = graft.core.Stage.materialize(
        docs.filter(pmod(col("doc_id"), lit(3L)) === 0)
          .select(col("doc_id"), imgUdf(col("doc_id")).as("blob")),
        "curate13_img")
      val imgOk = Multimodal.imageStats(img, "doc_id", "blob", batchSize = 32)
        .filter(col("width").isNotNull && col("width") * col("height") >= 64)
        .select(col("media_id").as("doc_id"))
      val losers = Multimodal.imageNearDupPairs(img, "doc_id", "blob",
          radius = radius)
        .select(col("id_b").as("doc_id")).distinct()
      val imgKept = imgOk.join(losers, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), lit("image").as("kind"))
      // audio leg: MP3 frame-walk gates
      val aud = docs.filter(pmod(col("doc_id"), lit(3L)) === 1)
        .select(col("doc_id"), mp3Udf(col("doc_id")).as("blob"))
      val audKept = Multimodal.mp3Info(aud, "doc_id", "blob", batchSize = 32)
        .filter(col("format") === "mp3" && col("bad_frames") === 0 &&
          col("duration_ms") >= 130 && col("bitrate_kbps") >= 128)
        .select(col("media_id").as("doc_id"), lit("audio").as("kind"))
      // video leg: H.264 SPS-walk gates
      val vid = docs.filter(pmod(col("doc_id"), lit(3L)) === 2)
        .select(col("doc_id"), vidUdf(col("doc_id")).as("blob"))
      val vidKept = Multimodal.h264Info(vid, "doc_id", "blob", batchSize = 32)
        .filter(col("format") === "h264" && col("bad_nals") === 0 &&
          col("fps") >= 25.0 && col("frames") >= 5 && col("width") >= 48)
        .select(col("media_id").as("doc_id"), lit("video").as("kind"))
      val gated = imgKept.unionByName(audKept).unionByName(vidKept)
        .join(docs, Seq("doc_id"))
      Sampling.sourceCap(gated, col("source"), col("doc_id"))
        .select(col("doc_id"), col("kind"), col("source"))
    }),

    "q_curate11" -> ((s, dir) => {
      import graft.operators.{TextAnalysis, Robots, Sampling}
      val restrictive =
        """User-agent: evilbot
          |Disallow: /
          |
          |User-agent: graftbot
          |User-agent: otherbot
          |Disallow: /private*
          |Allow: /private/ok$
          |Disallow: /tmp/
          |
          |User-agent: *
          |Disallow: /
          |""".stripMargin
      val permissive =
        """User-agent: *
          |Disallow: /tmp/
          |Allow: /tmp/open
          |""".stripMargin
      val docs = tbl(s, dir, "documents").filter(col("text").isNotNull)
      val safeText = regexp_replace(col("text"), "[<&\\s\\x00-\\x1f\\x7f]+", " ")
      val html = concat(
        lit("<html><head><script>if(a<b&&c>d){x()}</script></head><body><h1>"),
        col("lang"), lit("</h1><p>"), safeText,
        lit(" e\u0301-suffix&nbsp;&quot;end&quot;</p></body></html>"))
      // ARCHIVE LEG: pages through the per-partition shard egress and
      // the splittable ranged read — the production ingest pair
      val archived = graft.sources.Warc.roundTripShards(
        docs.select(concat(lit("http://corpus.local/doc/"),
            col("doc_id").cast("string")).as("uri"), html.as("html")),
          "uri", "html", "curate11", blockBytes = 64L * 1024)
        .select(regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
          .cast("long").as("doc_id"), col("content").as("html"))
      val k = pmod(col("doc_id"), lit(50L))
      val host = when(pmod(col("doc_id"), lit(17L)) === 0, lit("WWW.BÜCHER.de"))
        .when(pmod(col("doc_id"), lit(9L)) === 0,
          concat(lit("www.example"), k.cast("string"), lit(".aichi.jp")))
        .otherwise(concat(lit("www.example"), k.cast("string"), lit(".com")))
      val m = pmod(col("doc_id"), lit(5L))
      val path = when(m === 0, concat(lit("/private/x"), col("doc_id").cast("string")))
        .when(m === 1, lit("/private/ok"))
        .when(m === 2, concat(lit("/pub/"), col("doc_id").cast("string")))
        .when(m === 3, concat(lit("/tmp/"), col("doc_id").cast("string")))
        .otherwise(concat(lit("/tmp/open"), col("doc_id").cast("string")))
      val pages = archived
        .withColumn("url", concat(lit("http://"), host, path))
        .withColumn("domain", TextAnalysis.urlDomain(col("url")))
      // robots rows for BOTH registrable-domain families (com + aichi.jp,
      // each K%7!=0) — the PSL extraction is what finds them; no row for
      // the punycode domain (absent = allowed)
      val family = s.range(0, 50).filter(pmod(col("id"), lit(7L)) =!= 0)
        .select(col("id"),
          when(pmod(col("id"), lit(2L)) === 0, lit(restrictive))
            .otherwise(lit(permissive)).as("content"))
      val robotsDf = family.select(concat(lit("example"),
          col("id").cast("string"), lit(".com")).as("domain"), col("content"))
        .unionAll(family.select(concat(lit("example"),
          col("id").cast("string"), lit(".aichi.jp")).as("domain"),
          col("content")))
      val gated = Robots.robotsGateJoined(pages, col("url"), col("domain"),
          robotsDf, "domain", "content", userAgent = "graftbot/1.0")
        .filter(col("robots_allowed"))
        .select(col("doc_id"), col("domain"),
          TextAnalysis.htmlToTextFused(col("html")).as("clean_text"))
      Sampling.sourceCap(gated, col("domain"), col("doc_id"))
        .select(col("doc_id"), col("domain"),
          size(split(lower(col("clean_text")), "\\s+")).cast("long")
            .as("n_tokens"),
          md5(graft.functions.NfcNormalize(col("clean_text"))).as("dedup_key"))
    }),

    // Deterministic train/val/test split: per-row hash-bucket label —
    // reproducible at any scale/partitioning, auditable row by row, and
    // a pure projection (the 100 TB answer to "which rows did we train
    // on?" is re-derivable, never stored state).
    "q_split" -> ((s, dir) => {
      tbl(s, dir, "documents").select(col("doc_id"), col("lang"),
        Sampling.hashSplit(col("doc_id"), trainPct = 80, valPct = 10).as("split"))
    }),

    // Leakage-free split: q_split's deterministic hash split keyed on the
    // near-dup CLUSTER id instead of the doc id, so a train doc's
    // near-duplicate can never land in val/test (the train-on-eval leak
    // fuzzy dedup exists to prevent — splitting by doc hash alone
    // re-introduces it). Same verified-cluster machinery as
    // q_dedup_minhash; singletons key on their own id, so for them the
    // assignment IS q_split's
    "q_split_leakfree" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val pairs = Dedup.minhashNearDupPairs(docs, "text", "doc_id",
        mhHashes, mhBands, mhSeed, mhShingle, threshold = 0.8)
      val clusters = Dedup.clusters(pairs).withColumnRenamed("id", "doc_id")
      docs.select(col("doc_id")).join(clusters, Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
        .select(col("doc_id"), col("cluster_id"),
          Sampling.hashSplit(col("cluster_id"), trainPct = 80, valPct = 10)
            .as("split"))
    }),

    // Near-dup retention POLICY beyond min-id: within every verified
    // near-dup cluster keep the highest-QUALITY member (ties -> smallest
    // id); singletons keep themselves. Same banded-LSH candidate +
    // verify + label-propagation machinery as q_dedup_minhash, then one
    // window over cluster_id (clusters are tiny — the partition-by is
    // skew-free by construction).
    "q_dedup_keep_best" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = tbl(s, dir, "documents")
      val pairs = Dedup.minhashNearDupPairs(docs, "text", "doc_id",
        mhHashes, mhBands, mhSeed, mhShingle, threshold = 0.8)
      val clusters = Dedup.clusters(pairs).withColumnRenamed("id", "doc_id")
      val scored = docs.select(col("doc_id"),
        TextAnalysis.qualityUdf(col("text"), col("n_chars")).as("q"))
      val labeled = scored.join(clusters, Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      val w = Window.partitionBy("cluster_id")
        .orderBy(round(col("q"), 4).desc, col("doc_id"))
      labeled.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("cluster_id"), col("doc_id").as("kept_doc_id"),
          round(col("q"), 4).as("quality"))
    }),

    // ---- training-data pipeline extensions (documents / embeddings) ----

    "q_dedup_exact" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      // normalize: first 3 lowercase words — creates real duplicate groups
      val key = concat_ws(" ", slice(split(lower(col("text")), "\\s+"), 1, 3))
      Dedup.exact(docs.withColumn("__k", key), col("__k"), "doc_id")
        .select(col("doc_id"))
    }),

    // CCNet-style boilerplate removal: the corpus has no newlines, so
    // "lines" are the segments between occurrences of " the " — a
    // deterministic segmentation both engines split identically. A
    // segment appearing in >= 3 distinct docs is boilerplate and is cut
    // from every doc; docs are reassembled from surviving segments.
    "q_boilerplate" -> ((s, dir) => {
      Dedup.removeBoilerplateLines(tbl(s, dir, "documents"),
        "text", "doc_id", sep = " the ", minDocs = 3)
        .select(col("doc_id"), substring(col("text"), 1, 60).as("head"),
          col("n_lines_kept"), col("n_lines_removed"))
    }),

    // Learned quality-scorer inference (fastText-style hash-TF linear
    // model): deterministic synthetic weights stand in for a trained
    // model; scoring is a codegen'd expression over a plan-embedded
    // weight array — zero shuffle, no UDF, no corpus-to-model join. The
    // model rides through its DataFrame form to exercise that surface.
    "q_quality_clf" -> ((s, dir) => {
      val w = QualityClassifier.syntheticWeightsMilli(512)
      QualityClassifier.classifyWithModel(tbl(s, dir, "documents"),
        "text", "doc_id", QualityClassifier.weightsDF(s, w), bias = 0.1)
    }),

    // DSIR importance resampling: hashed-unigram importance of every doc
    // against the src0 slice as the target distribution — dim-bounded
    // count agg -> O(dim) driver model -> zero-shuffle codegen'd scoring.
    "q_dsir" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val (w, _) = QualityClassifier.dsirWeightsMilli(
        docs, "text", col("source") === "src0", dim = 2048)
      QualityClassifier.dsirScore(docs, "text", "doc_id", w)
    }),

    // DSIR end-to-end (the full Xie et al. algorithm): the importance
    // RESAMPLING step over the scoring pass — Efraimidis-Spirakis
    // weighted take with weight exp(log_importance), so selection
    // probability tracks the target/raw likelihood ratio. Zero-shuffle
    // scoring projection + TakeOrderedAndProject: no new shuffle at all
    "q_dsir_resample" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val (w, _) = QualityClassifier.dsirWeightsMilli(
        docs, "text", col("source") === "src0", dim = 2048)
      val scored = QualityClassifier.dsirScore(docs, "text", "doc_id", w)
        .select(col("doc_id"), col("log_importance"))
      Sampling.weightedTake(scored, col("doc_id"),
          exp(col("log_importance")), n = 100)
        .select(col("doc_id"),
          round(col("log_importance"), 6).as("log_importance"),
          col("sample_score"))
    }),

    // IN-ENGINE classifier training (q_lr_train): full-batch gradient
    // descent on the same hash-TF mean-margin model the inference kernel
    // scores — heuristic-gate DISTILLATION (label = the stopword-density
    // gate, a linear function of the token stream, so training
    // measurably recovers it: ~94% train accuracy in 10 steps from the
    // all-zeros model). Algebraic-sigmoid link + integer residuals make
    // every cross-row sum an exact long sum, so the whole trajectory
    // replays bit-identically in the unrolled oracle (the q_fcm_fit
    // discipline applied to a trainer). Per iteration: one zero-shuffle
    // scoring scan of the cached tokenized projection + one dim-bounded
    // gradient agg + O(dim) driver collect.
    "q_lr_train" -> ((s, dir) => {
      val (w, bias) = QualityClassifier.trainLogisticMilli(
        tbl(s, dir, "documents"), "text", lrLabelCol,
        dim = lrDim, iters = lrIters, lr = lrLr, lrBias = lrLrBias)
      QualityClassifier.trainedModelDF(s, w, bias)
    }),

    // The trained model applied: margins/labels over the corpus via the
    // codegen'd inference kernel (zero-shuffle projection — training's
    // driver-side model array is the plan-embedded broadcast), with the
    // true label alongside so the distillation accuracy is auditable
    // row by row.
    "q_lr_predict" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val (w, bias) = QualityClassifier.trainLogisticMilli(
        docs, "text", lrLabelCol,
        dim = lrDim, iters = lrIters, lr = lrLr, lrBias = lrLrBias)
      QualityClassifier.classify(docs.filter(col("text").isNotNull),
          "text", "doc_id", w, bias / 1000.0)
        .withColumnRenamed("label", "pred")
        .join(docs.filter(col("text").isNotNull).select(col("doc_id"),
          lrLabelCol.cast("int").as("y")), Seq("doc_id"))
    }),

    // Substring-level dedup (the suffix-array-style "k-token span appears
    // in N docs" pass): any 8-token window repeated across >= 2 distinct
    // docs is cut from EVERY doc, overlapping hot windows merging into one
    // removed region; docs are rebuilt from surviving tokens. One corpus
    // shuffle (hash->doc-count), hot-set broadcast, zero-shuffle rebuild.
    "q_span_dedup" -> ((s, dir) => {
      // maxHotSpans sized for the scaled corpora: ScaleData's per-copy
      // token suffixing preserves each copy's hot spans, so the hot set
      // grows linearly with the factor (~1.6M at 100x) — 5M sorted longs
      // is a 40 MB broadcast, still binary-search cheap
      Dedup.removeRepeatedSpans(tbl(s, dir, "documents"),
        "text", "doc_id", spanTokens = 8, minDocs = 2,
        maxHotSpans = 5000000)
        .select(col("doc_id"), substring(col("text"), 1, 60).as("head"),
          col("n_tokens_kept"), col("n_tokens_removed"))
    }),

    // Decontamination by REDACTION: cut only the 3-token spans that
    // overlap the benchmark (docs 0-4), keep the rest — the surgical
    // alternative to dropping whole docs; the benchmark's own docs are
    // fully covered and vanish. Same positional-rebuild kernel as
    // q_span_dedup, hot set = benchmark spans instead of corpus counts
    "q_redact" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val bench = docs.filter(col("doc_id") < 5)
      Dedup.redactContamination(docs, "text", "doc_id", bench, "text",
          spanTokens = 3)
        .select(col("doc_id"), substring(col("text"), 1, 60).as("head"),
          col("n_tokens_kept"), col("n_tokens_removed"))
    }),

    // Per-doc novelty: fraction of a doc's distinct 3-gram shingles first
    // seen (min doc_id) in that doc — late near-copies score ~0. One
    // shingle-keyed shuffle (partial-min agg) + AQE-splittable join back.
    "q_novelty" -> ((s, dir) => {
      Dedup.noveltyScores(tbl(s, dir, "documents"), "text", "doc_id",
        shingleN = mhShingle)
    }),

    "q_minhash_pairs" -> ((s, dir) => {
      Dedup.minhashCandidatePairs(tbl(s, dir, "documents"), "text", "doc_id",
        mhHashes, mhBands, mhSeed, mhShingle)
    }),

    "q_dedup_minhash" -> ((s, dir) => {
      // full near-dup pipeline: LSH candidates -> exact Jaccard verify ->
      // min-id label propagation; iterative clustering has no single-query
      // SQL oracle (rows-only check). The verify pass prunes the edge list
      // before the iterative step — at scale that's the difference between
      // propagating over true near-dups and over every vocab collision.
      val docs = tbl(s, dir, "documents")
      // fused bucket-local candidates + Jaccard verify (one shuffle; no
      // text join-backs), then cluster resolution
      val verified = Dedup.minhashNearDupPairs(docs, "text", "doc_id",
        mhHashes, mhBands, mhSeed, mhShingle, threshold = 0.8)
      Dedup.clusters(verified).select(col("id").as("doc_id"), col("cluster_id"))
    }),

    // The STREAMING ingestion leg of the incremental near-dup index
    // (round 12): documents replayed as a 3-microbatch file stream
    // (doc_id % 3, strictly increasing file mtimes + maxFilesPerTrigger=1
    // fix the batch order), each batch deduped against the standing
    // GraftTable index via the foreachBatch sink — one atomic manifest
    // publish per microbatch, per-batch commit markers for exactly-once
    // restarts, survivors as per-batch parquet. The oracle replays the
    // full incremental semantics in SQL: within-batch near-dup clusters
    // keep their min id, clusters touching an earlier-batch survivor are
    // poisoned, and index matches drop — over the same banded-minhash +
    // Jaccard edge relation as q_dedup_minhash.
    "q_index_stream" -> ((s, dir) => {
      import graft.operators.Dedup
      val base = graft.core.Stage.tempDir("graft_idxstream")
      val docs = tbl(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"), col("text"),
          pmod(col("doc_id"), lit(3L)).as("batch"))
      val inDir = base.resolve("in")
      java.nio.file.Files.createDirectories(inDir)
      // ONE staging job for all three batch files (round 12: was three
      // filter+coalesce(1) writes = three sequential scans of the
      // corpus): partitionBy(__part) lays each batch out as one file in
      // its own key dir (each key lives in exactly one post-repartition
      // partition), and `batch` stays a DATA column so the streamed
      // schema is unchanged
      val tmp = base.resolve("tmp").toString
      docs.withColumn("__part", col("batch"))
        .repartition(col("__part"))
        .write.partitionBy("__part").mode("overwrite").parquet(tmp)
      (0 until 3).foreach { b =>
        val part = listDir(s"$tmp/__part=$b")
          .find(_.getName.endsWith(".parquet")).get
        val dest = inDir.resolve(s"b$b.parquet").toFile
        require(part.renameTo(dest), s"stage move failed: $dest")
        // deterministic arrival order for the file source's mtime sort
        require(dest.setLastModified(1700000000000L + b * 60000L))
      }
      val idx = base.resolve("index").toString
      val surv = base.resolve("surv").toString
      val schema = s.read.parquet(inDir.toString).schema
      // the foreachBatch body's joins/aggs read the session
      // shuffle-partition conf at each batch's plan time — scope the
      // whole drain to the input-derived size (same rationale as the
      // stateful drains: a ~1.7k-doc microbatch over 32-partition
      // exchanges is pure task-scheduling overhead; results are
      // partitioning-independent)
      withConfs(s, streamShuffleConf(s, inDir.toString)) {
        val q = Dedup.incrementalNearDupSink(
          s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
            .parquet(inDir.toString),
          idx, surv, base.resolve("ckpt").toString,
          "text", "doc_id", mhHashes, mhBands, mhSeed, mhShingle,
          threshold = 0.8)
        try q.processAllAvailable() finally q.stop()
      }
      // Read the per-batch survivor dirs as EXPLICIT paths, not a
      // batch-* glob: with a single glob path Spark's FileStreamSink
      // sink-detection probe logs a scary FileNotFoundException stack
      // (benign, but it was the first thing in every round's
      // entry_tail); multiple resolved paths skip the probe entirely.
      val batchDirs = listDir(surv)
        .filter(f => f.isDirectory && f.getName.startsWith("batch-"))
        .map(_.toString).sorted
      s.read.parquet(batchDirs.toIndexedSeq: _*)
        .select(col("doc_id"), col("batch"))
    }),

    // Distributed connected components, standalone and FORCED onto the
    // iterative min-label-propagation path (driverEdgeLimit = 0): the
    // q_dedup_minhash oracle covers the driver union-find that small
    // edge lists take; this one pins the 100 TB path — O(log diameter)
    // join+min rounds, per-generation cache discipline — under the same
    // recursive-closure oracle. SCALE.md records the two paths agreeing
    // on 1000x edges; this makes the distributed path's exactness a
    // per-round gate instead of a one-off experiment.
    "q_cc" -> ((s, dir) => {
      val verified = Dedup.minhashNearDupPairs(tbl(s, dir, "documents"),
        "text", "doc_id", mhHashes, mhBands, mhSeed, mhShingle,
        threshold = 0.8)
      Dedup.clusters(verified, driverEdgeLimit = 0)
    }),

    // per-source corpus profiling: counts + mean + EXACT interpolated
    // percentiles (Spark `percentile` ≡ DuckDB quantile_cont; the 100 TB
    // swap is percentile_approx — same plan shape, mergeable sketch)
    "q_profile" -> ((s, dir) => {
      tbl(s, dir, "documents")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("n_chars")), 6).as("mean_chars"),
          round(expr("percentile(n_chars, 0.5)"), 4).as("p50_chars"),
          round(expr("percentile(n_chars, 0.9)"), 4).as("p90_chars"))
    }),

    // weighted sample without replacement (Efraimidis-Spirakis key in log
    // form, hash-derived u): exactly 100 docs, inclusion odds ∝ n_chars,
    // re-derivable row by row; the take is a TakeOrderedAndProject
    "q_weighted_take" -> ((s, dir) => {
      Sampling.weightedTake(
        tbl(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        col("doc_id"), col("n_chars"), n = 100)
    }),

    // Round-7 composed curation: Gopher rule gate (minStopHits=1 — the
    // synthetic corpus carries only "the" from the paper's required set)
    // -> temperature-flattened language mixture -> per-language BPE token
    // budget. Three stages, hash-checked end to end
    "q_curate4" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val pass = TextAnalysis.gopherQualityRules(docs, "text", "doc_id",
          minStopHits = 1)
        .filter(col("gopher_pass") === 1).select("doc_id")
      val surv = docs.join(pass, "doc_id")
        .select(col("doc_id"), col("lang"), col("text"))
      val mixed = Sampling.temperatureSample(surv, col("lang"), col("doc_id"),
        targetN = 150L)
      val withTok = mixed.withColumn("n_tokens_bpe",
        graft.functions.BpeTokenCount(col("text")))
      Sampling.tokenBudget(withTok, col("lang"), col("doc_id"),
          col("n_tokens_bpe"), budget = 5000L)
        .select(col("doc_id"), col("lang"), col("n_tokens_bpe"))
    }),

    // Round-7 composed curation v5, the "ship a training set" endpoint:
    // OOV gate (vocab coverage <= 0.35) -> Bloom decontamination drop
    // (benchmark docs, their near-dups, AND the filter's deterministic
    // false positives all leave — one-sided error is the right direction
    // for decontamination) -> leakage-free TRAIN fold (near-dup clusters
    // computed over the SURVIVORS — cheap scans gate first, the LSH
    // machinery runs on the reduced set; candidates/verify/closure are
    // pairwise, so the subset computation is exact)
    "q_curate5" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val oov = TextAnalysis.oovRate(docs, "text", "doc_id", 20)
        .filter(col("oov_rate") <= 0.35)
        .select(col("doc_id"), col("n_tokens"), col("oov_rate"))
      val bench = docs.filter(col("doc_id") < 5)
      val clean = Dedup.bloomContamination(docs, "text", "doc_id",
          bench, "text", mhShingle, mBits = 4096, k = 4)
        .filter(col("flagged") === 0).select("doc_id")
      val surv = docs.join(oov, "doc_id").join(clean, "doc_id")
      val pairs = Dedup.minhashNearDupPairs(surv, "text", "doc_id",
        mhHashes, mhBands, mhSeed, mhShingle, threshold = 0.8)
      val clusters = Dedup.clusters(pairs).withColumnRenamed("id", "doc_id")
      surv.select("doc_id", "n_tokens", "oov_rate")
        .join(clusters, Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
        .withColumn("split",
          Sampling.hashSplit(col("cluster_id"), trainPct = 80, valPct = 10))
        .filter(col("split") === "train")
        .select(col("doc_id"), col("cluster_id"), col("n_tokens"),
          round(col("oov_rate"), 6).as("oov_rate"))
    }),

    // composed curation v6 — the standard web-pretraining mixture recipe
    // as one pipeline: flatten head domains (CCNet/RefinedWeb caps), then
    // balance languages over the SURVIVORS with the UniMax waterfill and
    // apply its milli-epoch rates. Allocation reacts to capping (the caps
    // change per-lang token mass), which is why the stages compose rather
    // than run independently
    // composed curation v7 — this round's selection tier end to end:
    // (1) relative-bar DOMAIN gate (zero-shuffle margins -> source means),
    // (2) Moore-Lewis CE-difference selection trained ON THE GATED corpus
    // (in-domain = English slice), (3) substring blocklist veto. The
    // surviving (doc, source, ce_diff) set is the hash-checked output
    "q_curate7" -> ((s, dir) => {
      val w = QualityClassifier.syntheticWeightsMilli(512)
      val docs = tbl(s, dir, "documents").filter(col("text").isNotNull)
      val scored = docs.select(col("doc_id"), col("source"),
        graft.functions.HashTfLinearMargin(col("text"), w, 0.1).as("__m"))
      val bySrc = scored.groupBy(col("source"))
        .agg(round(sum(col("__m").cast("decimal(28,12)")).cast("double")
          / count(lit(1)), 6).as("source_quality"))
      val bar = bySrc.agg(
        round(sum(col("source_quality").cast("decimal(28,12)")).cast("double")
          / count(lit(1)), 6).as("quality_bar"))
      val keptSrc = bySrc.crossJoin(broadcast(bar))
        .filter(col("source_quality") >= col("quality_bar")).select(col("source"))
      val kept = docs.join(broadcast(keptSrc), Seq("source"))
      val ml = TextAnalysis.mooreLewis(kept, "text", "doc_id", col("lang") === "en")
      val hits = kept.select(col("doc_id"),
        aggregate(graft.functions.BlocklistHits(col("text")), lit(0L),
          (a, x) => a + x).as("__hits"))
      ml.filter(col("selected"))
        .join(kept.select(col("doc_id"), col("source")), Seq("doc_id"))
        .join(hits, Seq("doc_id"))
        .filter(col("__hits") === 0L)
        .select(col("doc_id"), col("source"), col("ce_diff"))
    }),

    "q_curate6" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents").filter(col("text").isNotNull)
      val capped = Sampling.sourceCap(
        docs.select(col("doc_id"), col("source")), col("source"), col("doc_id"))
      // stage the survivor relation (sum-of-caps rows — SMALL by the cap
      // construction): the allocation's build-time collect AND the final
      // gate both anchor on it, and without the stage each re-runs the
      // whole cap lineage (two corpus scans + the candidate window)
      // broadcast the kept-id set: provably sum-of-caps rows (sublinear in
      // the corpus by the cap construction) — without the hint the
      // window-derived side has no stats and AQE shuffles the text-carrying
      // corpus side instead
      val surv = graft.core.Stage.materialize(
        docs.join(broadcast(capped.select("doc_id")), Seq("doc_id"))
          .withColumn("n_tokens",
            size(split(lower(col("text")), "\\s+")).cast("long"))
          .select(col("doc_id"), col("source"), col("lang"), col("n_tokens")),
        "curate6_surv")
      val alloc = Sampling.unimaxAllocation(surv, col("lang"), col("n_tokens"),
        budget = 8000L, maxEpochs = 2)
      val copies = expr("epochs_milli div 1000") +
        when(Sampling.bucket(col("doc_id")) <
          pmod(col("epochs_milli"), lit(1000L)) * 10L, 1L).otherwise(0L)
      surv.select(col("doc_id"), col("source"), col("lang"))
        .join(broadcast(alloc.select(col("lang"), col("epochs_milli"))), Seq("lang"))
        .withColumn("copy_id",
          explode(when(copies > 0, sequence(lit(0L), copies - 1))
            .otherwise(array().cast("array<bigint>"))))
        .select(col("doc_id"), col("source"), col("lang"), col("copy_id"))
    }),

    // Temperature-sampled language mixture (Conneau & Lample 2019): keep
    // ~count^(1/2)-proportional shares of each language, upsampling
    // low-resource langs — integer-exact thresholds, md5 keep gate
    "q_temp_mixture" -> ((s, dir) => {
      Sampling.temperatureSample(
        tbl(s, dir, "documents").select(col("doc_id"), col("lang")),
        col("lang"), col("doc_id"), targetN = 200L)
    }),

    // Head-domain flattening (CCNet/RefinedWeb-style per-domain caps):
    // cap each source at ceil(sqrt(count)) docs by md5 rank. Tail
    // sources pass through with no window; head sources rank a
    // pre-filtered candidate set only
    "q_source_cap" -> ((s, dir) => {
      Sampling.sourceCap(
        tbl(s, dir, "documents").select(col("doc_id"), col("source")),
        col("source"), col("doc_id"))
        .select(col("doc_id"), col("source"), col("source_cap"))
    }),

    // UniMax language allocation (Chung et al. 2023): waterfill a token
    // budget across languages, epoch-capping small ones — one
    // lang-keyed agg over the corpus, O(#langs) driver arithmetic,
    // all-integer so the oracle replays the allocation bit-exactly
    "q_unimax" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents").filter(col("text").isNotNull)
        .withColumn("n_tokens",
          size(split(lower(col("text")), "\\s+")).cast("long"))
      // sortWithinPartitions = total order here (the allocation is one
      // partition of #langs rows) without the Exchange orderBy would add
      Sampling.unimaxAllocation(docs, col("lang"), col("n_tokens"),
        budget = 40000L, maxEpochs = 2).sortWithinPartitions("lang")
    }),

    // the allocation APPLIED (UniMax's actual sampling step): milli-epoch
    // rates broadcast back onto the corpus as an all-integer md5 gate —
    // whole epochs replicate (copy_id), the fractional epoch keeps
    // rem/1000 of docs deterministically. Epoch-capped langs upsample,
    // the budget-limited lang downsamples, in one explode
    "q_unimax_sample" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents").filter(col("text").isNotNull)
        .withColumn("n_tokens",
          size(split(lower(col("text")), "\\s+")).cast("long"))
      val alloc = Sampling.unimaxAllocation(docs, col("lang"), col("n_tokens"),
        budget = 40000L, maxEpochs = 2)
      val copies = expr("epochs_milli div 1000") +
        when(Sampling.bucket(col("doc_id")) <
          pmod(col("epochs_milli"), lit(1000L)) * 10L, 1L).otherwise(0L)
      docs.select(col("doc_id"), col("lang"))
        .join(broadcast(alloc.select(col("lang"), col("epochs_milli"))), Seq("lang"))
        .withColumn("copy_id",
          explode(when(copies > 0, sequence(lit(0L), copies - 1))
            .otherwise(array().cast("array<bigint>"))))
        .select(col("doc_id"), col("lang"), col("copy_id"))
    }),

    // Gopher quality rules (Rae et al. 2021 §A1.1): the document-shape
    // rule set next to the repetition trio — word-count band, mean word
    // length, symbol ratio, bullet/ellipsis lines, alphabetic fraction,
    // required stopwords. One pure-Column projection, scan-bound
    "q_gopher_rules" -> ((s, dir) =>
      TextAnalysis.gopherQualityRules(tbl(s, dir, "documents"), "text", "doc_id")),

    // deterministic BPE token counting (fixed pretrained-style merge
    // table, greedy rank-order merge walk): the token economics every
    // budget/pack/chunk decision should run on — whitespace words
    // understate budgets by the subword fan-out. Zero-shuffle codegen'd
    // projection; the oracle replays the identical walk in a recursive CTE
    "q_bpe_tokens" -> ((s, dir) => {
      tbl(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"),
          size(split(lower(col("text")), "\\s+")).cast("long").as("n_words"),
          graft.functions.BpeTokenCount(col("text")).as("n_tokens_bpe"))
    }),

    // the mixture-budget op re-based on BPE tokens (the q_token_budget
    // semantics, real token economics): keep docs in doc_id order while
    // the per-source running BPE-token total stays <= 4000
    "q_token_budget_bpe" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents").filter(col("text").isNotNull)
        .withColumn("n_tokens_bpe", graft.functions.BpeTokenCount(col("text")))
      Sampling.tokenBudget(docs, col("source"), col("doc_id"),
          col("n_tokens_bpe"), budget = 4000L)
        .select(col("doc_id"), col("source"), col("n_tokens_bpe"))
    }),

    // deterministic stratified sampling (data-mixture weighting): md5
    // bucket under a per-language threshold — reproducible at any scale /
    // partitioning / engine, which RNG sampling is not
    "q_sample" -> ((s, dir) => {
      Sampling.stratifiedHashSample(tbl(s, dir, "documents"),
        col("lang"), col("doc_id"),
        Map("en" -> 0.5, "de" -> 0.2), default = 0.1)
        .select(col("doc_id"), col("lang"))
    }),

    // vocabulary stats per source: explode -> multi-distinct agg (the one
    // relational shape no other oracle query exercises); exact
    // count_distinct here, approx_count_distinct is the documented swap
    // at 100 TB (same plan shape, partial-mergeable HLL sketch)
    "q_vocab" -> ((s, dir) => {
      tbl(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          explode(split(lower(col("text")), "\\s+")).as("token"))
        .groupBy("source")
        .agg(countDistinct(col("token")).as("vocab"),
          countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_tokens"))
    }),

    // tokenizer-vocab coverage: OOV rate of every document against the
    // corpus top-20 vocabulary (count desc, term asc at the boundary;
    // 20 of the 31 distinct corpus tokens, so the rate discriminates).
    // Two-phase: term agg -> TakeOrdered top-V (O(V) driver, bounded by
    // the parameter) -> zero-shuffle In-list probe
    "q_oov_rate" -> ((s, dir) =>
      TextAnalysis.oovRate(tbl(s, dir, "documents"), "text", "doc_id", 20)
        .select(col("doc_id"), col("n_tokens"), col("n_oov"),
          round(col("oov_rate"), 6).as("oov_rate"))),

    // epoch weighting in a data mixture: en 2.5 epochs, de 1.0, rest 0.3;
    // floor(w) deterministic copies + hash-fraction extra, copy_id keeps
    // replicas distinct
    "q_upsample" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val w = when(col("lang") === "en", 2.5)
        .when(col("lang") === "de", 1.0).otherwise(0.3)
      Sampling.weightedResample(docs.withColumn("__w", w), col("doc_id"), col("__w"))
        .select(col("doc_id"), col("copy_id"))
    }),

    // mixture construction to a per-source token budget: keep docs in
    // doc_id order while the running token total stays <= 2000
    "q_token_budget" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
        .withColumn("n_tokens", size(split(lower(col("text")), "\\s+")).cast("long"))
      Sampling.tokenBudget(docs, col("source"), col("doc_id"), col("n_tokens"), budget = 2000L)
        .select(col("doc_id"), col("source"), col("n_tokens"))
    }),

    // eval-set decontamination: 3-gram shingle overlap of every document
    // against the benchmark set (docs 0-4); the benchmark's own docs
    // score 1.0 by construction
    "q_decontaminate" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val bench = docs.filter(col("doc_id") < 5)
      Dedup.contamination(docs, "text", "doc_id", bench, "text", mhShingle)
        .select(col("doc_id"), col("n_shingles"), col("n_contaminated"),
          round(col("contamination"), 6).as("contamination"))
    }),

    // Join-path containment (the corpus-sized-reference leg of the
    // decontamination triad): every document's shingle containment in
    // the src0 snapshot — the "how much of this crawl have we already
    // got" report. Two shingle-keyed shuffles, zero driver state at any
    // reference size; src0's own docs read 1.0 by construction
    "q_containment" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val ref = docs.filter(col("source") === "src0")
      Dedup.containmentJoin(docs, "text", "doc_id", ref, "text", mhShingle)
        .select(col("doc_id"), col("n_shingles"), col("n_seen"),
          round(col("containment"), 6).as("containment"))
    }),

    // Bloom-filter decontamination: same benchmark (docs 0-4) as
    // q_decontaminate, but membership through a deliberately SMALL
    // 4096-bit Bloom filter (k=4 md5-derived positions per shingle) so
    // the false-positive path is exercised, not just reasoned about:
    // n_bloom_hits >= n_contaminated per doc by the filter's one-sided
    // error, and the oracle replays the identical bit positions — false
    // positives match exactly. Production sizes mBits to the benchmark
    // (~1.2 GB for 1e9 shingles at 1% FPR vs 8 GB exact)
    "q_bloom_decontam" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val bench = docs.filter(col("doc_id") < 5)
      Dedup.bloomContamination(docs, "text", "doc_id", bench, "text",
          mhShingle, mBits = 4096, k = 4)
        .select(col("doc_id"), col("n_shingles"), col("n_bloom_hits"),
          round(col("bloom_frac"), 6).as("bloom_frac"), col("flagged"))
    }),

    // simhash near-dup pairing: 60-bit 3-gram-shingled fingerprints,
    // 4x15-bit bands (pigeonhole-exact candidates for hamming <= 3),
    // bit_count verify. Shingles matter twice here: they make the
    // fingerprints distinguish documents AND keep band buckets small
    "q_simhash_pairs" -> ((s, dir) => {
      Dedup.simhashNearDupPairs(tbl(s, dir, "documents"), "text", "doc_id",
        bits = 60, radius = 3, shingleN = 3)
    }),

    "q_simhash" -> ((s, dir) => {
      Dedup.simhash(tbl(s, dir, "documents"), "text", "doc_id", bits = 16)
    }),

    "q_jaccard_pairs" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      val a = d.select(col("doc_id").as("id_a"), col("text").as("ta"))
      val b = d.select(col("doc_id").as("id_b"), col("text").as("tb"))
      val pairs = a.join(b, col("id_b") === col("id_a") + 1)
      // fused set-op kernel (spec-pinned equal to the Column-chain
      // ngramJaccard reference form): 144s -> scan-bound at 100x
      pairs.select(col("id_a"), col("id_b"),
        round(Dedup.ngramJaccardFused(col("ta"), col("tb"), 1), 6).as("jaccard"))
    }),

    "q_ann_topk" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        queries, "qid", "qvec", k = 3)
    }),

    // contrastive-training data: per anchor, the top-3 most-similar
    // vectors with a DIFFERENT label (the hard negatives); the label
    // test rides the same broadcast scan as the cosine
    "q_hard_negatives" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val anchors = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
          col("label").as("qlabel"))
      Similarity.hardNegatives(emb, "vec_id", "embedding", "label",
        anchors, "qid", "qvec", "qlabel", k = 3)
    }),

    // embedding-quality monitoring: every vector's L2 distance to its
    // own label centroid — mislabel / garbage-embedding candidates
    "q_embed_outliers" -> ((s, dir) => {
      Similarity.centroidOutlierScores(tbl(s, dir, "embeddings"),
        "vec_id", "embedding", "label")
        .select(col("vec_id"), col("label"), col("centroid_dist"))
    }),

    "q_ann_lsh" -> ((s, dir) => {
      // LSH-bucketed ANN (scale path); approximate vs brute force but
      // deterministic — md5-derived hyperplanes give it an exact oracle
      val emb = tbl(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.lshTopK(emb, "vec_id", "embedding",
        queries, "qid", "qvec", k = 3, nbits = 8, dims = 64)
    }),

    "q_embed_neardup" -> ((s, dir) => {
      // embedding-space similar-pair mining: LSH-bucketed candidates +
      // exact cosine verify (md5-derived hyperplanes -> exact oracle).
      // The synthetic embeddings have no true clones (max pairwise
      // cosine ~0.39), so the threshold demonstrates the pipeline at the
      // corpus's actual similarity scale; production near-dup would run
      // 0.95+ (clone recovery is covered in PipelineOpsSpec).
      // nbits=0 auto-sizes bits per table to the corpus (~256-vector
      // buckets at any scale); 4 OR'd tables keep recall up
      Dedup.embeddingNearDupPairs(tbl(s, dir, "embeddings"),
        "vec_id", "embedding", threshold = 0.25, nbits = 0, dims = 64,
        tables = 4)
    }),

    // SemDeDup semantic dedup: deterministic centroid cells (hash-sample
    // init), within-cell cosine-to-lower-id pruning — lowest id of each
    // semantic-dup chain survives. tau at the synthetic corpus's actual
    // similarity scale (max pairwise cosine ~0.39; production runs 0.95+).
    "q_semdedup" -> ((s, dir) => {
      Dedup.semDedup(tbl(s, dir, "embeddings"), "vec_id", "embedding",
        tau = 0.2, targetClusterSize = 256)
    }),

    // embedding-table health: per-dimension mean/variance (drift and
    // collapsed-dimension check) — decimal-exact sums, d-group agg
    "q_embed_stats" -> ((s, dir) => {
      Similarity.embeddingStats(tbl(s, dir, "embeddings"), "embedding")
    }),

    // embedding covariance (the PCA/whitening input): upper-triangle
    // (i,j) cells, decimal-exact sums; pair explode -> d^2-bounded agg
    "q_embed_cov" -> ((s, dir) => {
      Similarity.embeddingCovariance(tbl(s, dir, "embeddings"), "embedding")
    }),

    // PCA projection (the first whitening coordinate): one d^2-cell
    // moment scan collected model-sized, a FIXED 8-step power iterate on
    // the driver under the decimal discipline (the iterate IS the
    // contract — engine-exact, converged or not), then a zero-shuffle
    // centered projection with the component riding as literals
    "q_pca_project" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val (means, comp) = Similarity.pcaLeadingComponent(
        Similarity.pcaMomentCells(emb, "embedding"))
      Similarity.pcaProject(emb, "vec_id", "embedding", means, comp)
    }),

    // PCA WHITENING: top-2 components by Hotelling deflation (Rayleigh
    // eigenvalue + round-6 deflated matrix, every step engine-exact),
    // then the decorrelated unit-variance coordinates w_c = pc_c/√λ_c —
    // the preprocessing contrastive embedding work and Mahalanobis-ish
    // outlier scores want. Same scale shape as q_pca_project: one
    // moment scan + one zero-shuffle projection scan; the whole model
    // (2 components, means, 2 scales) rides the plan as literals.
    "q_whiten" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val (means, comps) = Similarity.pcaTopComponents(
        Similarity.pcaMomentCells(emb, "embedding"), k = 2)
      Similarity.pcaWhitenProject(emb, "vec_id", "embedding", means, comps)
    }),

    // PCA spectrum health report: variance along the 8-step leading
    // component vs total variance (trace) — the one-row answer to "is
    // this embedding space collapsing onto one direction?" (a
    // var_ratio near 1/d is healthy isotropy; near 1 is collapse).
    // Derived entirely from engine-exact pieces: the projection's
    // decimal variance over the cov-diagonal trace
    "q_pca_var" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val cells = Similarity.pcaMomentCells(emb, "embedding")
      val (means, comp) = Similarity.pcaLeadingComponent(cells)
      val n = cells.head._3
      // trace = sum of diagonal covs (the round-6 values, exact sum in
      // decimal — setScale(6, HALF_UP) IS round(x, 6) as a decimal);
      // computed driver-side from the same cells
      val trace = cells.filter(c => c._1 == c._2).map { case (_, _, nn, si, _, sij) =>
        java.math.BigDecimal.valueOf(sij.doubleValue() / nn
            - (si.doubleValue() / nn) * (si.doubleValue() / nn))
          .setScale(6, java.math.RoundingMode.HALF_UP)
      }.foldLeft(java.math.BigDecimal.ZERO)(_.add(_)).doubleValue()
      Similarity.pcaProject(emb, "vec_id", "embedding", means, comp)
        .agg(count(lit(1)).as("n"),
          sum(col("pc1").cast("decimal(28,6)")).as("__s"),
          sum((col("pc1") * col("pc1")).cast("decimal(28,12)")).as("__ss"))
        .select(col("n"),
          round(col("__ss").cast("double") / col("n")
            - (col("__s").cast("double") / col("n"))
              * (col("__s").cast("double") / col("n")), 6).as("pc1_var"),
          round(lit(trace), 6).as("trace"),
          round((col("__ss").cast("double") / col("n")
            - (col("__s").cast("double") / col("n"))
              * (col("__s").cast("double") / col("n"))) / lit(trace), 6)
            .as("var_ratio"))
    }),

    // JL random projection (the ANN compute/bytes lever): 64 → 16 dims
    // through the codegen'd ±1 kernel — zero-shuffle, engine-exact
    // ordered fold; output exploded so the oracle compares scalars
    "q_rand_proj" -> ((s, dir) => {
      Similarity.randomProjection(tbl(s, dir, "embeddings"),
          "embedding", "proj", inDims = 64, outDims = 16, tag = "16")
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("dim", "__v")))
        .select(col("vec_id"), col("dim"), round(col("__v"), 6).as("v"))
    }),

    // two-stage ANN: JL-projected dot-product candidates (top-10),
    // exact-cosine re-rank (top-3) — approximate vs brute force but the
    // whole cascade is deterministic, so the oracle replays it exactly
    "q_ann_proj" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.projTopK(emb, "vec_id", "embedding", queries, "qid", "qvec",
        k = 3, candK = 10, inDims = 64, outDims = 16)
    }),

    // int8 embedding quantization (the ANN memory lever): per-vector
    // scale + code stats — checksum-style output keeps the oracle scalar
    "q_quantize" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      Similarity.quantizeInt8(emb, "embedding")
        .select(col("vec_id"), round(col("scale"), 8).as("scale"),
          aggregate(col("codes"), lit(0L), (a, x) => a + x).as("code_sum"),
          array_min(col("codes")).cast("int").as("code_min"),
          array_max(col("codes")).cast("int").as("code_max"))
    }),

    // deterministic training-shard assembly: 8 shards, stable in-shard
    // pseudo-shuffle by an independent hash
    // EXACT set-similarity self-join by prefix filtering (the PPJoin
    // family) at the LSH pipeline's own threshold and shingle sets:
    // every pair with hashed-3-gram Jaccard >= 0.8, no probabilistic
    // misses — the exact ground truth q_minhash_pairs approximates
    // (DedupSpec pins verified-LSH ⊆ this). Candidates come only from
    // RARE shingles (rarest-first prefixes); verification is
    // all-integer (inter*100 >= union*80).
    "q_ssjoin" -> ((s, dir) =>
      Dedup.prefixFilterJoin(tbl(s, dir, "documents"), "text", "doc_id",
        tauPct = 80)),

    // Z-order layout key: the Morton interleave of (partkey, suppkey)
    // grid coordinates — written range-partitioned on this column, a
    // box predicate on EITHER key prunes parquet files by min/max stats
    // instead of scanning the table (LayoutSpec measures the file-skip
    // directly). The key is pure integer bit arithmetic, replayed
    // verbatim by the oracle.
    "q_zorder" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem")
      li.select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        Layout.zValue(pmod(col("l_partkey"), lit(1024)),
          pmod(col("l_suppkey"), lit(1024)), bits = 10).as("zval"))
    }),

    "q_shards" -> ((s, dir) => {
      Sampling.shardAssignment(
        tbl(s, dir, "documents").select("doc_id"), col("doc_id"), nShards = 8)
        .select(col("doc_id"), col("shard"), col("shard_pos"))
    }),

    // blocked fuzzy entity matching (entity resolution): catalog names
    // carry a stable 8-hex id suffix (the normalized-key situation); the
    // dirty feed corrupts the final character; candidates come from a
    // discriminative (first token | suffix prefix, length band)
    // equi-join — the key's cardinality grows with the data, which is
    // what keeps the blocks from going quadratic at scale (the naive
    // first-token key measured minutes at 100x on the fixed name vocab).
    // The prefix WIDTH is derived from the catalog count
    // (suffixPrefixWidth: 4 hex at sf0.01 — oracle byte-stable — up to
    // 7 at corpus scale, always inside the corruption-safe 7 chars)
    "q_fuzzy_match" -> ((s, dir) => {
      val part = tbl(s, dir, "part")
      val w = Joins.suffixPrefixWidth(part.count(), baseCardinality = 25)
      val cat = part.select(col("p_partkey"),
        concat(col("p_name"), lit(" "),
          substring(md5(col("p_partkey").cast("string")), 1, 8)).as("name"))
      val dirty = cat.filter(pmod(col("p_partkey"), lit(5)) === 0)
        .select(col("p_partkey").as("k"),
          concat(col("name").substr(lit(1), length(col("name")) - 1),
            lit("q")).as("nm"))
      val block = (c: org.apache.spark.sql.Column) => concat(split(c, " ").getItem(0), lit("|"),
        substring(element_at(split(c, " "), -1), 1, w))
      Joins.fuzzyMatch(dirty, col("k"), col("nm"),
        cat, col("p_partkey"), col("name"), maxDist = 2, blockOf = block)
    }),

    // one-row corpus DATA CARD (the summary a dataset release ships):
    // doc/token/char totals, language/source breadth, null-text and
    // exact-duplicate rates — single scan + exact distinct aggs
    // Ingest/egress format edges: the corpus pushed through Spark's
    // native CSV / JSON-Lines writers and read back under the same
    // schema — the round trip is LOSSLESS by contract (nulls as an
    // explicit token, quote-escaped text, schema-driven parse), and the
    // oracle is the original parquet table itself: any quoting, null,
    // or type drift through the format edge is a hash mismatch. The
    // Spark-first counterpart of the reference's BufferedReader CSV
    // parsing (AHPExample.java:51-72).
    "q_csv_source" -> ((s, dir) =>
      graft.sources.TextFormats.csvRoundTrip(
        tbl(s, dir, "documents"), "docs")),

    // the single-huge-file CSV hazard closed as a first-class path: the
    // corpus written as ONE quoted CSV file, read back through
    // SplittableCsv's parallel byte ranges (64 KiB blocks force many
    // quote-aware cuts at every sf) — the oracle is again the parquet
    // table verbatim, so any mis-owned record at a range boundary is a
    // hash mismatch
    "q_csv_split" -> ((s, dir) =>
      graft.sources.TextFormats.csvSplittableRoundTrip(
        tbl(s, dir, "documents"), "docsplit", blockBytes = 64L * 1024)),

    // WARC web-archive ingest (the format crawl corpora actually ship
    // in): corpus -> ONE .warc.gz of per-record gzip members -> the
    // splittable ranged read (member-start ownership, full gzip
    // CRC+ISIZE+WARC/ validation per candidate — sources/Warc.scala),
    // doc_id recovered from WARC-Target-URI. blockBytes=64k forces ~10+
    // range cuts at sf0.01 so member boundaries land mid-range. Oracle =
    // the parquet table verbatim (lossless ingest, like q_csv_split)
    "q_warc_source" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
        .withColumn("url", concat(lit("http://corpus.local/doc/"),
          col("doc_id").cast("string")))
      graft.sources.Warc.roundTrip(docs, "url", "text", "warcsrc",
          blockBytes = 64L * 1024)
        .select(
          regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
            .cast("long").as("doc_id"),
          col("content").as("text"))
    }),

    // the PRODUCTION egress+ingest pair: one .warc.gz shard per
    // partition written executor-side (no driver hop), then the
    // parallel ranged read over the shard directory — same content
    // oracle as the single-file fixture form above
    "q_warc_shards" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
        .withColumn("url", concat(lit("http://corpus.local/doc/"),
          col("doc_id").cast("string")))
      graft.sources.Warc.roundTripShards(docs, "url", "text", "warcshards",
          blockBytes = 64L * 1024)
        .select(
          regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
            .cast("long").as("doc_id"),
          col("content").as("text"))
    }),

    // HTML -> text extraction (the web-ingest front door): each doc
    // wrapped in a full page — style/script bodies with <, >, && bait,
    // a comment, heading, entities — then stripped by the pure-Column
    // regex chain. The oracle computes the EXPECTED text from the raw
    // columns (ground truth), not by replaying the strip, so a regex
    // that leaks script bodies, eats text, or mis-decodes entities
    // hash-fails. Zero-shuffle codegen projection
    "q_html_text" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents").filter(col("text").isNotNull)
      // the PLANTED body text is sanitized ('<', '&' and whitespace runs
      // to one space) with a DuckDB-replayable expression, so the oracle
      // can rebuild ground truth however hostile the corpus text is —
      // un-sanitized text containing tag-like spans or entities would
      // make the extractor's output diverge from a verbatim-append
      // oracle at other scale factors
      val safeText = regexp_replace(col("text"), "[<&\\s\\x00-\\x1f\\x7f]+", " ")
      val html = concat(
        lit("<html><head><title></title><style>p { color: #fff; }</style>"),
        lit("<script type=\"text/javascript\">if (a < b && c > d) { alert(\"x\"); }</script></head>"),
        lit("<body><!-- doc "), col("doc_id").cast("string"),
        lit(" --><h1>"), col("lang"),
        lit("</h1>\n  <p>Tom &amp; Jerry &lt;3</p>\n<p>"), safeText,
        lit("&nbsp;&quot;end&quot;</p></body></html>"))
      docs.select(col("doc_id"),
        graft.operators.TextAnalysis.htmlToText(html).as("clean_text"))
    }),

    // the SAME extraction through the fused single-pass kernel
    // (functions/HtmlExtract.scala) instead of the 15-regex chain —
    // byte-identical by property pin (HtmlFusedSpec), so it shares
    // q_html_text's ground-truth oracle verbatim; this is the form a
    // 100 TB ingest runs (one codegen'd static call per doc, the regex
    // NFA cost gone). Same zero-shuffle projection plan
    "q_html_fused" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents").filter(col("text").isNotNull)
      val safeText = regexp_replace(col("text"), "[<&\\s\\x00-\\x1f\\x7f]+", " ")
      val html = concat(
        lit("<html><head><title></title><style>p { color: #fff; }</style>"),
        lit("<script type=\"text/javascript\">if (a < b && c > d) { alert(\"x\"); }</script></head>"),
        lit("<body><!-- doc "), col("doc_id").cast("string"),
        lit(" --><h1>"), col("lang"),
        lit("</h1>\n  <p>Tom &amp; Jerry &lt;3</p>\n<p>"), safeText,
        lit("&nbsp;&quot;end&quot;</p></body></html>"))
      docs.select(col("doc_id"),
        graft.operators.TextAnalysis.htmlToTextFused(html).as("clean_text"))
    }),

    // URL canonicalization + registrable domain (the key for per-domain
    // caps and exact URL dedup): synthetic URLs exercise every rule —
    // mixed-case scheme/host (lowered) vs mixed-case path (preserved),
    // default :80 port (stripped), fragments (dropped), trailing
    // slashes (stripped), query strings (byte-exact passthrough),
    // percent-encoding normalization (mixed-case %7e -> ~ decoded,
    // reserved %2f only case-uppered to %2F), and public-suffix
    // domains (every 7th URL is a .CO.UK host, whose registrable
    // domain keeps THREE labels). The oracle recomputes ground truth
    // from doc_id, not by replaying the regex chain. Zero-shuffle
    // codegen projection
    "q_url_normalize" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents").filter(col("text").isNotNull)
      // host plants exercise every PSL rule class: .CO.UK (2-label exact
      // rule -> 3-label registrable), .Pref.AICHI.JP (JP prefecture rule;
      // the www+example labels must BOTH fall away -> pref.aichi.jp),
      // .Biy.CK (*.ck wildcard -> 3-label registrable), bare WWW.CK
      // (!www.ck exception -> the host itself), .COM (default rule) —
      // plus an IDN host (BÜCHER.de) that must unify to its punycode
      // wire form (the oracle hardcodes the RFC 3492 ACE constant)
      val host = when(pmod(col("doc_id"), lit(13L)) === 0, lit("WWW.CK"))
        .when(pmod(col("doc_id"), lit(17L)) === 0, lit("WWW.BÜCHER.de"))
        .otherwise(concat(lit("WWW.Example"),
          pmod(col("doc_id"), lit(50L)).cast("string"),
          when(pmod(col("doc_id"), lit(7L)) === 0, lit(".CO.UK"))
            .when(pmod(col("doc_id"), lit(9L)) === 0, lit(".Pref.AICHI.JP"))
            .when(pmod(col("doc_id"), lit(10L)) === 0, lit(".Biy.CK"))
            .otherwise(lit(".COM"))))
      val url = concat(lit("HTTP://"), host,
        lit(":80/Path/"), col("doc_id").cast("string"),
        when(pmod(col("doc_id"), lit(6L)) === 0, lit("/%7e%41b%2fC"))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(3L)) === 0, lit("/")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(4L)) === 0, lit("?b=2&a=1")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(5L)) === 0, lit("#Frag")).otherwise(lit("")))
      docs.select(col("doc_id"),
        graft.operators.TextAnalysis.urlNormalize(url).as("url_norm"),
        graft.operators.TextAnalysis.urlDomain(url).as("domain"))
    }),

    // curation v9 — the WEB-INGEST front door composed: raw HTML pages
    // with source URLs → text extraction (script/entity strip) + domain
    // extraction → per-DOMAIN sqrt caps (the CCNet head-flattening rule
    // keyed on the extracted registrable domain instead of a clean
    // source label) → token accounting on the EXTRACTED text. The
    // oracle replays the whole composition from ground truth.
    // Extraction runs through the FUSED kernel (the production form —
    // 35x the regex chain at 1000x, byte-identical by HtmlFusedSpec's
    // property pin, so the ground-truth oracle is unchanged)
    "q_curate9" -> ((s, dir) => {
      import graft.operators.{TextAnalysis, Sampling}
      val docs = tbl(s, dir, "documents").filter(col("text").isNotNull)
      // sanitized planted text — same DuckDB-replayable cleanup as
      // q_html_text, so hostile corpus text can't desync the oracle.
      // Every 7th page lives under a .CO.UK host: its cap bucket must
      // key on the THREE-label registrable domain (PSL rule), which is
      // exactly the mis-cap the last-two-labels heuristic had
      val safeText = regexp_replace(col("text"), "[<&\\s\\x00-\\x1f\\x7f]+", " ")
      val html = concat(
        lit("<html><head><style>p{color:#000}</style>"),
        lit("<script>if(a<b&&c>d){x()}</script></head><body><h1>"),
        col("lang"), lit("</h1><p>"), safeText,
        lit("&nbsp;&quot;end&quot;</p></body></html>"))
      val url = concat(lit("HTTP://WWW.Example"),
        pmod(col("doc_id"), lit(50L)).cast("string"),
        when(pmod(col("doc_id"), lit(7L)) === 0, lit(".CO.UK"))
          .otherwise(lit(".COM")),
        lit(":80/Doc/"), col("doc_id").cast("string"), lit("#top"))
      val page = docs.select(col("doc_id"),
        TextAnalysis.urlDomain(url).as("domain"),
        TextAnalysis.htmlToTextFused(html).as("clean_text"))
      Sampling.sourceCap(page, col("domain"), col("doc_id"))
        .withColumn("n_tokens",
          size(split(lower(col("clean_text")), "\\s+")).cast("long"))
        .select(col("doc_id"), col("domain"), col("n_tokens"))
    }),

    // intra-doc consecutive-duplicate-line collapse (crawl de-stutter):
    // planted stutter — 8 lines in consecutive-equal PAIRS (line k =
    // 'w'||((doc_id + k div 2) % 5)) then the real text as ONE final
    // line — collapses to 4 distinct lines + the text line. The text
    // is whitespace-collapsed to a single line and prefixed 't:' (so
    // it can never equal a planted 'w*' line, and the oracle can
    // append it verbatim however many blank-line runs or stutters the
    // raw corpus text contains — those would otherwise collapse on the
    // Spark side only). One aggregate() fold, zero-shuffle
    "q_destutter" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents").filter(col("text").isNotNull)
      val stuttered = concat(
        array_join(transform(sequence(lit(0), lit(7)), k =>
          concat(lit("w"), pmod(col("doc_id") + floor(k / 2), lit(5L))
            .cast("string"))), "\n"),
        lit("\nt:"), regexp_replace(col("text"), "[\\s\\x00-\\x1f\\x7f]+", " "))
      docs.select(col("doc_id"),
        graft.operators.TextAnalysis.dedupConsecutiveLines(stuttered)
          .as("clean_text"))
    }),

    "q_jsonl_source" -> ((s, dir) =>
      graft.sources.TextFormats.jsonlRoundTrip(
        tbl(s, dir, "documents"), "docs")),

    "q_datacard" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      docs.select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          when(col("text").isNotNull,
            size(split(lower(col("text")), "\\s+")).cast("long")).otherwise(0L)
            .as("__nt"),
          col("text").isNull.cast("long").as("__isnull"),
          md5(coalesce(col("text"), lit(""))).as("__h"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("__isnull")).as("n_null_text"),
          sum(col("__nt")).as("n_tokens_ws"),
          countDistinct(col("lang")).as("n_langs"),
          countDistinct(col("source")).as("n_sources"),
          countDistinct(col("__h")).as("n_distinct_texts"),
          sum(col("n_chars").cast("decimal(28,0)")).as("__chars"))
        .select(col("n_docs"), col("n_null_text"), col("n_tokens_ws"),
          col("n_langs"), col("n_sources"),
          round(lit(1.0) - col("n_distinct_texts").cast("double")
            / col("n_docs"), 6).as("dup_rate"),
          round(col("__chars").cast("double") / col("n_docs"), 6)
            .as("mean_chars"))
    }),

    // shard manifests: per-shard counts, id range, and an
    // order-independent bit_xor content checksum — the reproducibility
    // artifact shipped alongside the shards; one scan, 8-cell agg
    "q_manifest" -> ((s, dir) => {
      Sampling.shardManifest(tbl(s, dir, "documents"),
        col("doc_id"), col("text"), nShards = 8)
    }),

    // snapshot delta (incremental-crawl bookkeeping): prev/curr derived
    // deterministically from the corpus (removals, additions, and
    // content edits by id residue), statuses from a hash-only
    // full-outer join — the join never carries text
    "q_snapshot_diff" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val curr = docs.filter(pmod(col("doc_id"), lit(13)) =!= 5)
      val prev = docs.filter(pmod(col("doc_id"), lit(11)) =!= 0)
        .withColumn("text", when(pmod(col("doc_id"), lit(7)) === 3,
          concat(coalesce(col("text"), lit("")), lit(" [prev-rev]")))
          .otherwise(col("text")))
      Dedup.snapshotDiff(prev, curr, "doc_id", "text")
    }),

    // ---- manifest-table leg (GraftTable): snapshot manifests with
    // per-file bucket stats over plain parquet — the Delta/Iceberg
    // semantics the incremental index needs, no table-format jars.
    // Three appends build the table fresh per run; the read path is
    // what each query exercises. GraftTableSpec pins the pruning
    // (inputFiles counts), atomicity, time travel, and expire safety.

    // bucket-range scan: the manifest prunes to files whose
    // [minBucket, maxBucket] intersects [5, 12] BEFORE Spark lists
    // anything (appends are range-clustered so the stats are selective)
    "q_table_prune" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"), pmod(col("doc_id"), lit(64)).as("bucket"),
          size(split(lower(col("text")), "\\s+")).cast("long").as("n_tokens"))
      val t = graft.sources.GraftTable.scratchTable("prune")
      (0 until 3).foreach(k => graft.sources.GraftTable.append(
        docs.filter(pmod(col("doc_id"), lit(3)) === k), t, "bucket"))
      graft.sources.GraftTable.readBuckets(s, t, 5, 12)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
    }),

    // compaction invariance: rewrite the live snapshot range-clustered,
    // expire everything else, read back — the row multiset is unchanged
    "q_table_compact" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"), pmod(col("doc_id"), lit(64)).as("bucket"),
          size(split(lower(col("text")), "\\s+")).cast("long").as("n_tokens"))
      val t = graft.sources.GraftTable.scratchTable("compact")
      (0 until 3).foreach(k => graft.sources.GraftTable.append(
        docs.filter(pmod(col("doc_id"), lit(3)) === k), t, "bucket"))
      graft.sources.GraftTable.compact(s, t, targetFileBytes = 1L << 30)
      graft.sources.GraftTable.expire(s, t, keepSnapshots = 1)
      graft.sources.GraftTable.read(s, t)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
    }),

    // snapshot delta: exactly the rows appended after snapshot 1 (the
    // incremental-recurate read path — at 100 TB you process the delta)
    "q_table_delta" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"), pmod(col("doc_id"), lit(64)).as("bucket"))
      val t = graft.sources.GraftTable.scratchTable("delta")
      (0 until 3).foreach(k => graft.sources.GraftTable.append(
        docs.filter(pmod(col("doc_id"), lit(3)) === k), t, "bucket"))
      graft.sources.GraftTable.delta(s, t, fromId = 1L)
        .groupBy(col("bucket")).agg(count(lit(1)).as("n_docs"))
    }),

    // generalized zone maps + z-order compaction (round 12): n_chars is
    // declared a stats column, the compaction z-orders (bucket, n_chars)
    // so every rewritten file covers a hyper-box in BOTH dimensions, and
    // the read is a readWhere range on n_chars — files pruned by the
    // manifest's per-file [min,max] before Spark opens anything. The
    // value contract is a plain filter; the skipping is spec-measured
    "q_table_where" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"), pmod(col("doc_id"), lit(64)).as("bucket"),
          col("n_chars").cast("long").as("n_chars"),
          size(split(lower(col("text")), "\\s+")).cast("long").as("n_tokens"))
      val t = graft.sources.GraftTable.scratchTable("where")
      (0 until 3).foreach(k => graft.sources.GraftTable.append(
        docs.filter(pmod(col("doc_id"), lit(3)) === k), t, "bucket",
        numFiles = Some(4), statsCols = Seq("n_chars")))
      graft.sources.GraftTable.compact(s, t, targetFileBytes = 1L,
        minFiles = 2, clusterBy = Seq("bucket", "n_chars"))
      graft.sources.GraftTable.readWhere(s, t, "n_chars", 200L, 2000L)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
    }),

    // copy-on-write takedown (round 12): delete rows by content
    // predicate, manifest-pruned to the victims' bucket keys — only
    // files holding victims are rewritten (kind=delete), everything
    // else keeps file identity. The post-delete read must agree with
    // the plain filtered aggregate; a resurrection (lost replacement),
    // over-delete, or double-read of a replaced shard all shift counts
    "q_table_delete" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"), pmod(col("doc_id"), lit(64)).as("bucket"),
          size(split(lower(col("text")), "\\s+")).cast("long").as("n_tokens"))
      val t = graft.sources.GraftTable.scratchTable("delete")
      (0 until 3).foreach(k => graft.sources.GraftTable.append(
        docs.filter(pmod(col("doc_id"), lit(3)) === k), t, "bucket",
        numFiles = Some(4)))
      val victimBuckets = docs.filter(pmod(col("doc_id"), lit(17)) === 3)
        .select(col("bucket")).distinct().collect().map(_.getLong(0))
      graft.sources.GraftTable.deleteWhere(s, t,
        pmod(col("doc_id"), lit(17)) === 3, buckets = Some(victimBuckets))
      graft.sources.GraftTable.read(s, t)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
    }),

    // schema evolution (round 12): the crawl starts shipping a `lang`
    // column mid-stream. mergeSchema appends it to the TABLE schema
    // (stored in the manifest list, the Iceberg shape); rows written
    // before the column existed read back as null through the stored-
    // schema scan — including AFTER a compaction rewrites them. The
    // aggregate groups on coalesce(lang,'_pre'), so a wrong null story
    // (dropped rows, misattributed lang) shifts counts and the oracle
    // catches it
    "q_table_evolve" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"), pmod(col("doc_id"), lit(64)).as("bucket"),
          size(split(lower(col("text")), "\\s+")).cast("long").as("n_tokens"))
      val t = graft.sources.GraftTable.scratchTable("evolve")
      graft.sources.GraftTable.append(
        docs.filter(pmod(col("doc_id"), lit(3)) === 0), t, "bucket")
      graft.sources.GraftTable.append(
        docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
          .withColumn("lang", concat(lit("l"), pmod(col("doc_id"), lit(4)))),
        t, "bucket", mergeSchema = true)
      graft.sources.GraftTable.compact(s, t, targetFileBytes = 1L << 30,
        minFiles = 2)
      graft.sources.GraftTable.read(s, t)
        .groupBy(coalesce(col("lang"), lit("_pre")).as("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
    }),

    // catalog layer (round 12): names → tables with MULTI-TABLE atomic
    // commits. The standing corpus and its content-hash index are two
    // GraftTables under one catalog; the crawl appends advance BOTH
    // table HEADs, but catalog readers keep seeing the pinned standing
    // state until ONE commit moves both pins — a reader can never
    // observe the corpus advanced past the index (the consistency a
    // multi-table curation pipeline needs). The output combines the
    // pinned-v1 reads with the post-commit read: if pins leaked, the
    // standing counts would show crawl rows and the oracle would catch it
    "q_table_catalog" -> ((s, dir) => {
      import graft.sources.{GraftCatalog, GraftTable}
      val docs = tbl(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"), pmod(col("doc_id"), lit(64)).as("bucket"),
          md5(col("text").cast("string")).as("h"))
      val cat = GraftTable.scratchTable("catalog")
      val tc = GraftTable.scratchTable("cat_corpus")
      val ti = GraftTable.scratchTable("cat_index")
      val standing = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
      GraftTable.append(standing, tc, "bucket")
      GraftTable.append(standing.select(col("bucket"), col("h")), ti, "bucket")
      val v1 = GraftCatalog.commit(s, cat, updates = Map.empty,
        register = Map("corpus" -> tc, "index" -> ti))
      val crawl = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
      val c2 = GraftTable.append(crawl, tc, "bucket")
      val i2 = GraftTable.append(crawl.select(col("bucket"), col("h")), ti, "bucket")
      // pinned reads resolve v1's snapshot file lists NOW — immutable
      val standingCorpus = GraftCatalog.read(s, cat, "corpus")
      val standingIdx = GraftCatalog.read(s, cat, "index")
      GraftCatalog.commit(s, cat,
        updates = Map("corpus" -> c2.id, "index" -> i2.id),
        basedOn = Some(v1.version))
      val fullCorpus = GraftCatalog.read(s, cat, "corpus")
      standingCorpus.groupBy(col("bucket"))
        .agg(count(lit(1)).as("standing_docs"))
        .join(fullCorpus.groupBy(col("bucket"))
          .agg(count(lit(1)).as("total_docs")), Seq("bucket"))
        .join(standingIdx.groupBy(col("bucket"))
          .agg(countDistinct(col("h")).as("standing_keys")), Seq("bucket"))
    }),

    // composed curation v8 — the INCREMENTAL ingest path (at 100 TB you
    // re-curate the delta, not the corpus): snapshot diff selects
    // added/changed docs; exact dedup keeps the lowest id per content
    // hash WITHIN the delta and drops anything whose content already
    // stands unchanged in the corpus (hash semi/anti joins — no text
    // ever shuffles); a Gopher word-count band gates what remains.
    // Every stage keyed on the content hash or doc_id — no windows
    "q_curate8" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val curr = docs.filter(pmod(col("doc_id"), lit(13)) =!= 5)
      val prev = docs.filter(pmod(col("doc_id"), lit(11)) =!= 0)
        .withColumn("text", when(pmod(col("doc_id"), lit(7)) === 3,
          concat(coalesce(col("text"), lit("")), lit(" [prev-rev]")))
          .otherwise(col("text")))
      // statuses inline from ONE left join against the prev hashes
      // ('removed' is irrelevant here), then the (id, hash, status,
      // n_tokens) relation — text dropped, ~40 bytes a row — STAGED
      // once: delta and the standing-hash side both anchor on it, and
      // without the stage the diff join replayed per reference (the
      // first cut measured 56s at 1000x; one join + stage runs 31 ->
      // ~15s). The staged relation is metadata-sized relative to the
      // corpus, never the text
      val prevH = prev.select(col("doc_id"),
        md5(coalesce(col("text").cast("string"), lit(""))).as("__hp"))
      val hashed = curr.select(col("doc_id"),
        md5(coalesce(col("text").cast("string"), lit(""))).as("__h"),
        when(col("text").isNotNull,
          size(split(lower(col("text")), "\\s+")).cast("long")).otherwise(0L)
          .as("n_tokens"))
        .join(prevH, Seq("doc_id"), "left")
        .select(col("doc_id"), col("__h"), col("n_tokens"),
          when(col("__hp").isNull, "added")
            .when(col("__hp") === col("__h"), "unchanged")
            .otherwise("changed").as("status"))
      val st = graft.core.Stage.materialize(hashed, "curate8")
      val delta = st.filter(col("status").isin("added", "changed"))
      val standing = delta.join(
        st.filter(col("status") === "unchanged").select(col("__h")).distinct(),
        Seq("__h"), "left_anti")
      val keepIds = standing.groupBy(col("__h"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
      standing.join(keepIds, Seq("doc_id"), "left_semi")
        .filter(col("n_tokens").between(5, 5000))
        .select(col("doc_id"), col("status"), col("n_tokens"))
    }),

    // GPT-style sequence packing: the corpus token stream in doc_id
    // order cut into 512-token training sequences, one row per
    // (doc, sequence) slice — fully replayable from a window prefix sum
    "q_pack" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
        .withColumn("n_tokens", size(split(lower(col("text")), "\\s+")).cast("long"))
      Sampling.packSequences(docs, col("doc_id"), col("n_tokens"), seqLen = 512L)
        .select(col("doc_id"), col("seq_id"), col("seq_offset"),
          col("doc_offset"), col("slice_len"))
    }),

    // GPT-style sequence packing on REAL token economics: the q_pack
    // semantics with BPE counts (the sequences a trainer would actually
    // cut) — same two-phase prefix sum, zero new shuffles over q_pack
    "q_pack_bpe" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents").filter(col("text").isNotNull)
        .withColumn("n_tokens_bpe", graft.functions.BpeTokenCount(col("text")))
      Sampling.packSequences(docs, col("doc_id"), col("n_tokens_bpe"), seqLen = 512L)
        .select(col("doc_id"), col("seq_id"), col("seq_offset"),
          col("doc_offset"), col("slice_len"))
    }),

    // the END of the pipeline: the packed token stream itself —
    // (seq_id, seq_pos, token) ready to write as training shards. The
    // BPE-count packing assignment (two-phase prefix sum) range-joins
    // the encoded (doc, pos, token) sequence on doc_id: one doc-keyed
    // equi-join carrying the token stream, intrinsic to materializing
    // every token; slices are per-doc-bounded so no skew beyond doc
    // length. Counts and positions come from the SAME merge-walk kernel,
    // so the slice arithmetic is exact by construction
    "q_pack_tokens" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents").filter(col("text").isNotNull)
      val slices = Sampling.packSequences(
        docs.withColumn("n_tokens_bpe", graft.functions.BpeTokenCount(col("text"))),
        col("doc_id"), col("n_tokens_bpe"), seqLen = 512L)
        .select(col("doc_id"), col("seq_id"), col("seq_offset"),
          col("doc_offset"), col("slice_len"))
      // join slices to the TEXT and explode AFTER: the doc_id shuffle
      // carries ~#docs + #slices doc-sized records, never the token
      // stream (joining the exploded (doc, pos, token) relation instead
      // shuffles one record PER TOKEN — measured 255s vs 46s at the
      // 5M-doc point, pure shuffle-record overhead). Multi-slice docs
      // re-encode per slice; the word memo makes that re-walk ~free
      slices.join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
        .select(col("seq_id"), col("seq_offset"), col("doc_offset"),
          col("slice_len"),
          posexplode(graft.functions.BpeEncode(col("text"))))
        .filter(col("pos") >= col("doc_offset") &&
          col("pos") < col("doc_offset") + col("slice_len"))
        .select(col("seq_id"),
          (col("seq_offset") + col("pos") - col("doc_offset")).as("seq_pos"),
          col("col").as("token"))
    }),

    // the packed stream with DOCUMENT BOUNDARIES: every doc contributes
    // its BPE tokens plus one trailing </s> (what an actual trainer
    // packs, so attention masks / loss masking can find the seams) —
    // identical join-then-explode shape to q_pack_tokens, the EOS is
    // one array concat in the same codegen'd projection
    "q_pack_eos" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents").filter(col("text").isNotNull)
      val slices = Sampling.packSequences(
        docs.withColumn("n_tok",
          graft.functions.BpeTokenCount(col("text")) + lit(1L)),
        col("doc_id"), col("n_tok"), seqLen = 512L)
        .select(col("doc_id"), col("seq_id"), col("seq_offset"),
          col("doc_offset"), col("slice_len"))
      slices.join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
        .select(col("seq_id"), col("seq_offset"), col("doc_offset"),
          col("slice_len"),
          posexplode(concat(graft.functions.BpeEncode(col("text")),
            array(lit("</s>")))))
        .filter(col("pos") >= col("doc_offset") &&
          col("pos") < col("doc_offset") + col("slice_len"))
        .select(col("seq_id"),
          (col("seq_offset") + col("pos") - col("doc_offset")).as("seq_pos"),
          col("col").as("token"))
    }),

    "q_chunk" -> ((s, dir) => {
      // 64-token chunks with 16-token overlap over the documents corpus
      TextAnalysis.chunk(tbl(s, dir, "documents").select("doc_id", "text"),
        "text", chunkTokens = 64, overlap = 16)
        .select(col("doc_id"), col("chunk_index"), col("n_chunk_tokens"),
          substring(col("chunk_text"), 1, 40).as("chunk_head"))
    }),

    "q_pipeline" -> ((s, dir) => {
      // the composed training-data pipeline a user of this engine runs:
      // quality-filter -> exact-dedup (first-3-words key) -> chunk
      val docs = tbl(s, dir, "documents")
      val scored = docs
        .select(col("doc_id"), col("text"),
          TextAnalysis.qualityUdf(col("text"), col("n_chars")).as("q"))
        .filter(col("q") >= 0.8)
      val key = concat_ws(" ", slice(split(lower(col("text")), "\\s+"), 1, 3))
      val deduped = Dedup.exact(scored.withColumn("__k", key), col("__k"), "doc_id")
        .select("doc_id", "text")
      TextAnalysis.chunk(deduped, "text", chunkTokens = 64, overlap = 16)
        .select(col("doc_id"), col("chunk_index"), col("n_chunk_tokens"))
    }),

    // the full curation pipeline a training-data user runs end-to-end:
    // quality filter -> exact dedup -> minhash NEAR-dup removal (keep the
    // min-id cluster representative) -> per-source token budget. Every
    // stage is the already-oracled operator; the composition is checked
    // exactly too.
    "q_curate" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val scored = docs
        .select(col("doc_id"), col("source"), col("text"),
          TextAnalysis.qualityUdf(col("text"), col("n_chars")).as("q"))
        .filter(col("q") >= 0.8)
      val key = concat_ws(" ", slice(split(lower(col("text")), "\\s+"), 1, 3))
      // NOT cached: the survivor relation is consumed twice (near-dup
      // pairing — whose own result Dedup.clusters caches — and the keep
      // anti-join), and a persist here cannot be unpersisted from a lazy
      // query builder; the leaked cache cost the rest of the suite more
      // than the one extra upstream pass costs this query.
      val exact = Dedup.exact(scored.withColumn("__k", key), col("__k"), "doc_id")
        .select("doc_id", "source", "text")
      val pairs = Dedup.minhashNearDupPairs(exact, "text", "doc_id",
        mhHashes, mhBands, mhSeed, mhShingle, threshold = 0.8)
      val dropIds = Dedup.clusters(pairs)
        .filter(col("id") =!= col("cluster_id"))
        .select(col("id").as("doc_id"))
      val kept = exact.join(dropIds, Seq("doc_id"), "left_anti")
        .withColumn("n_tokens", size(split(lower(col("text")), "\\s+")).cast("long"))
      Sampling.tokenBudget(kept, col("source"), col("doc_id"), col("n_tokens"), 3000L)
        .select(col("doc_id"), col("source"), col("n_tokens"))
    }),

    // second composed pipeline, over the round-4 operators: repetition
    // filter -> boilerplate removal -> exact dedup on the CLEANED text
    // -> sequence packing; the whole composition hash-checks in DuckDB
    "q_curate2" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val f1 = docs
        .select(col("doc_id"), col("text"),
          TextAnalysis.dupWordFrac(col("text")).as("dw"))
        .filter(col("dw") <= 0.5)
        .select("doc_id", "text")
      val reb = Dedup.removeBoilerplateLines(f1, "text", "doc_id",
        sep = " the ", minDocs = 3).select("doc_id", "text")
      val key = concat_ws(" ", slice(split(lower(col("text")), "\\s+"), 1, 3))
      val dd = Dedup.exact(reb.withColumn("__k", key), col("__k"), "doc_id")
        .select("doc_id", "text")
        .withColumn("n_tokens", size(split(lower(col("text")), "\\s+")).cast("long"))
      Sampling.packSequences(dd, col("doc_id"), col("n_tokens"), seqLen = 256L)
        .select(col("doc_id"), col("seq_id"), col("seq_offset"),
          col("doc_offset"), col("slice_len"))
    }),

    // Round-6 composed curation: novelty-gate (drop late near-copies and
    // sub-shingle shorts) -> learned hash-TF quality filter -> perplexity
    // terciles over the SURVIVOR corpus, tail dropped. Every stage is
    // engine-exact (shingle min-ids, long-sum margins, percentile_disc
    // thresholds), so the whole composition hash-checks.
    "q_curate3" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val nov = Dedup.noveltyScores(docs, "text", "doc_id", mhShingle)
        .filter(col("novelty") >= 0.3).select("doc_id", "novelty")
      val surv1 = docs.join(nov, "doc_id")
      val w = QualityClassifier.syntheticWeightsMilli(512)
      val surv2 = surv1
        .withColumn("margin",
          graft.functions.HashTfLinearMargin(col("text"), w, bias = 0.1))
        .filter(col("margin") > 0.0)
      val ppl = TextAnalysis.pplBuckets(surv2, "text", "doc_id")
      surv2.select(col("doc_id"), col("novelty"), col("margin"))
        .join(ppl.filter(col("ppl_bucket") =!= "tail"), "doc_id")
        .select(col("doc_id"), col("novelty"), col("margin"),
          col("mean_nll"), col("ppl_bucket"))
    }),

    "q_text_stats" -> ((s, dir) => {
      // fused single-pass scan (see TextAnalysis.statsUdf; the per-op
      // Column forms are the documented API and spec-tested equivalents)
      tbl(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.statsUdf()(col("text"), col("n_chars")).as("st"))
        .select(col("doc_id"), col("st.lang_pred").as("lang_pred"),
          col("st.n_tokens").as("n_tokens"),
          round(col("st.punct_ratio"), 6).as("punct_ratio"),
          round(col("st.stopword_ratio"), 6).as("stopword_ratio"),
          col("st.quality").as("quality"),
          col("st.fingerprint").as("fingerprint"))
    }),

    // count-min sketch heavy hitters with md5-derived rows — the sketch
    // REPLAYS exactly (not just its error contract); est >= exact, the
    // top-20 exact terms carry their estimates for collision audit
    "q_count_min" -> ((s, dir) => {
      TextAnalysis.countMinTopTerms(tbl(s, dir, "documents"), "text",
        depth = 4, width = 1024, k = 20)
    }),

    // the tokenizer applied: the flattened (doc, pos, token) BPE
    // sequence — the training artifact itself, not just its count.
    // Zero-shuffle codegen'd projection + posexplode; the oracle replays
    // the identical merge walk per distinct word and reassembles
    // sequences by word/subtoken order
    "q_bpe_encode" -> ((s, dir) => {
      tbl(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"),
          posexplode(graft.functions.BpeEncode(col("text"))))
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("col").as("token"))
    }),

    // BPE TRAINING (Sennrich): learn the top-16 merges from the corpus's
    // own word frequencies — one corpus scan (vocab-keyed partial agg),
    // bounded top-1024 dictionary, driver merge loop. Output = the
    // learned merge table, replayed merge-by-merge by the oracle
    "q_bpe_train" -> ((s, dir) =>
      BpeTrain.bpeTrain(tbl(s, dir, "documents"), "text",
        vocabCap = 1024, nMerges = 16)),

    // HyperLogLog register table per source (distinct-term cardinality
    // as a mergeable sketch): one group+register-keyed max agg, <=
    // #sources * 1024 output rows at any corpus size. The registers are
    // the oracle surface (integer-exact); the float estimate formula
    // stays test-side
    "q_hll_vocab" -> ((s, dir) => {
      val toks = tbl(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("source"),
          explode(split(lower(col("text")), "\\s+")).as("term"))
      TextAnalysis.hllRegisters(toks, col("source"), col("term"), m = 1024)
        .select(col("grp").as("source"), col("register"), col("max_rho"))
    }),

    // streaming HLL: the register table as a complete-mode max agg —
    // state == #sources * m registers at any corpus size, and the
    // drained registers equal the batch table (max is the merge)
    "q_hll_stream" -> ((s, dir) =>
      runTableStreamComplete(s, dir, "documents", "hll") { docs =>
        graft.operators.TextAnalysis.hllRegisters(
          docs.filter(col("text").isNotNull)
            .select(col("source"),
              explode(split(lower(col("text")), "\\s+")).as("term")),
          col("source"), col("term"), m = 1024)
      }.select(col("grp").as("source"), col("register"), col("max_rho"))),

    // the sketch's streaming half: replay documents as a file stream,
    // fill the 4x1024 cell grid incrementally (streaming agg state ==
    // sketch cells — ~4096 rows at ANY corpus size; the memory sink is
    // bounded by the sketch shape, not the data), drain, and match the
    // batch grid bit-for-bit under the same oracle arithmetic
    "q_count_min_stream" -> ((s, dir) =>
      runTableStreamComplete(s, dir, "documents", "count_min") { docs =>
        graft.operators.TextAnalysis.countMinCells(docs, "text",
          depth = 4, width = 1024)
      }),

    // STREAMING covariance maintenance: the d(d+1)/2 moment cells as a
    // complete-mode streaming agg — state is the cell grid (2,080 rows
    // at d=64) at ANY corpus size, the bounded-streaming-agg family
    // (count-min grid, HLL registers) extended to model statistics; the
    // drained cells go through the same cov formula and compare against
    // q_embed_cov's oracle verbatim. (The decimal-agg formulation is
    // streaming-composable where the treeAggregate kernel is not — the
    // kernel stays the batch path; this is the incremental one.)
    "q_embed_cov_stream" -> ((s, dir) => {
      val cells = runTableStreamComplete(s, dir, "embeddings", "embcov") { raw =>
        Similarity.covCellStream(raw, "embedding")
      }
      Similarity.covCellsFinish(cells)
    }),

    // STREAMING rank statistics: live token-length quantiles off a
    // fixed 256-bin integer histogram grid in complete mode — state ==
    // the grid at any corpus size, quantile error bounded by the bin
    // width (16 tokens). All-integer (div binning, ceil-by-integer
    // ranks) so the replay is exact on any engine; the length monitor
    // a live ingest runs where exactQuantiles would need the corpus.
    "q_quantile_stream" -> ((s, dir) => {
      val cells = runTableStreamComplete(s, dir, "documents", "qtile") { docs =>
        Quantiles.boundedHistCells(
          docs.filter(col("text").isNotNull),
          size(split(lower(col("text")), "\\s+")).cast("long"),
          binWidth = 16L, bins = 256)
      }
      Quantiles.boundedHistQuantiles(cells, binWidth = 16L,
        ps = Seq((25, 1L, 4L), (50, 1L, 2L), (75, 3L, 4L),
          (95, 19L, 20L), (99, 99L, 100L)))
    }),

    // word2phrase-style collocation mining: adjacent-pair PMI over the
    // corpus, noise pairs suppressed by a min pair count
    "q_collocations" -> ((s, dir) => {
      TextAnalysis.collocations(tbl(s, dir, "documents"), "text", minCount = 5L)
        .select(col("term_a"), col("term_b"), col("pair_count"), col("pmi"))
    }),

    // classic TF-IDF term weights over the corpus; terms in every doc
    // carry ln(1) = 0 and are dropped by the exact df < N test
    "q_tfidf" -> ((s, dir) => {
      TextAnalysis.tfidf(tbl(s, dir, "documents"), "text", "doc_id")
        .select(col("doc_id"), col("term"), col("tf"), col("tfidf"))
    }),

    // profiling histogram: 16 equal-width price buckets in one stats
    // pass + one partial-agged count — the quantile recursion's
    // primitive exposed directly
    "q_histogram" -> ((s, dir) => {
      Quantiles.histogram(tbl(s, dir, "lineitem"), "l_extendedprice", bins = 16)
        .select(col("bin"), col("n"), col("bin_min"), col("bin_max"))
    }),

    // robust outlier detection: rank statistics (median/MAD), immune to
    // the outliers they hunt; k=1.8 flags the price tails on uniform data
    "q_mad_outliers" -> ((s, dir) => {
      Quantiles.madOutliers(tbl(s, dir, "lineitem"), "l_extendedprice", k = 1.8)
        .filter(col("is_outlier"))
        .select(col("l_orderkey"), col("l_linenumber"))
    }),

    // CCNet-style perplexity filter signal: mean token negative
    // log-likelihood under the corpus's own unigram LM
    "q_lm_score" -> ((s, dir) => {
      TextAnalysis.unigramNll(tbl(s, dir, "documents"), "text", "doc_id")
        .select(col("doc_id"), col("n_tokens"), col("mean_nll"))
    }),

    // CCNet-style perplexity bucketing: head/middle/tail terciles of the
    // unigram-LM score — thresholds are exact percentile_disc data values
    // from the recursive-histogram selection (no global sort)
    "q_ppl_buckets" -> ((s, dir) => {
      TextAnalysis.pplBuckets(tbl(s, dir, "documents"), "text", "doc_id")
    }),

    // Learnability selection (the RHO-1/Mindermann excess-loss idea at
    // document granularity): excess = reference-model NLL minus
    // proxy-model NLL — here the context-free unigram LM is the weak
    // reference and the bigram LM the stronger proxy, so a LARGE excess
    // marks text whose structure context actually predicts (learnable
    // prose), near-zero marks unstructured/random token soup, and the
    // top quartile by excess is selected. Distinct from Moore-Lewis
    // (in-domain vs general corpus) and DoReMi (the same excess
    // aggregated per DOMAIN): this is the per-document form that feeds
    // a selection gate directly.
    "q_rho_select" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      // ONE unigram stage shared by both LM passes (round-12: the
      // double-staged vocab table was the q_rho_select gate breach)
      val sharedUni = Some(TextAnalysis.stageUnigrams(docs, "text"))
      val scored = graft.core.Stage.materialize(
        TextAnalysis.unigramNll(docs, "text", "doc_id", sharedUni)
          .select(col("doc_id"), col("mean_nll"))
          .join(TextAnalysis.bigramNll(docs, "text", "doc_id", sharedUni)
            .select(col("doc_id"), col("mean_nll2")), Seq("doc_id"))
          .select(col("doc_id"), col("mean_nll"), col("mean_nll2"),
            (col("mean_nll") - col("mean_nll2")).as("excess")), "rho_scored")
      val thr = Quantiles.exactQuantiles(scored, "excess", Seq(0.75))
        .collect().headOption
        .map(r => if (r.isNullAt(1)) 0.0 else r.getDouble(1)).getOrElse(0.0)
      scored.withColumn("selected", col("excess") >= thr)
    }),

    // The incremental-model loop closed: the STREAMING-maintained
    // moment grid (q_embed_cov_stream's complete-mode cells) feeds the
    // same deflation/whitening builder as the batch kernel and projects
    // the corpus — model maintained incrementally, applied exactly.
    // Bit-identical to q_whiten by construction (decimal sums of the
    // same multiset; the PcaSpec parity test pins it), so the oracle is
    // shared verbatim.
    "q_whiten_stream" -> ((s, dir) => {
      val grid = runTableStreamComplete(s, dir, "embeddings", "whiten") { raw =>
        Similarity.covCellStream(raw, "embedding")
      }
      val (means, comps) = Similarity.pcaTopComponents(
        Similarity.momentCellsFromGrid(grid), k = 2)
      Similarity.pcaWhitenProject(
        tbl(s, dir, "embeddings"), "vec_id", "embedding", means, comps)
    }),

    // Curriculum data ordering: unigram perplexity as difficulty,
    // quartile stages from exact quantiles (driver scalars, no global
    // sort), hash shards, and a two-phase rank inside each
    // (shard, stage) — every shard reads the same easy->hard ramp,
    // each stage pseudo-shuffled. The manifest a curriculum-trained
    // run materializes next to its shards.
    "q_curriculum" -> ((s, dir) => {
      val scored = graft.core.Stage.materialize(
        TextAnalysis.unigramNll(tbl(s, dir, "documents"), "text", "doc_id")
          .select(col("doc_id"), col("mean_nll")), "curriculum_scored")
      val thr = Quantiles.exactQuantiles(scored, "mean_nll", Seq(0.25, 0.5, 0.75))
        .orderBy("p").collect().toSeq
        .map(r => if (r.isNullAt(1)) 0.0 else r.getDouble(1))
      Sampling.curriculum(scored, col("doc_id"), col("mean_nll"), thr, nShards = 4)
        .select(col("doc_id"), col("mean_nll"), col("shard"), col("stage"),
          col("stage_pos"))
    }),

    // bigram-LM perplexity: the sharper filter (context-conditioned);
    // docs with < 2 tokens have no bigrams and emit no row
    "q_lm2_score" -> ((s, dir) => {
      TextAnalysis.bigramNll(tbl(s, dir, "documents"), "text", "doc_id")
        .select(col("doc_id"), col("n_bigrams"), col("mean_nll2"))
    }),

    // the BROADCASTABLE count-pruned variant — kept types (c >= 2) keep
    // the exact add-1 probability, pruned types floor to the unseen
    // term; the model + backoff tables broadcast so the token stream
    // scores in a zero-shuffle projection (the exact variant's bigram-
    // keyed scoring join goes superlinear at fixed vocab: 21.7->325.5s
    // at permute-100x)
    "q_lm2p_score" -> ((s, dir) => {
      TextAnalysis.bigramNllPruned(tbl(s, dir, "documents"), "text",
          "doc_id", minCount = 2)
        .select(col("doc_id"), col("n_bigrams"), col("mean_nll2p"))
    }),

    // Moore-Lewis cross-entropy difference selection (Moore & Lewis
    // 2010): in-domain LM = the English slice, general LM = the whole
    // corpus; select docs the in-domain model likes better. One token
    // explode, two vocab-keyed count joins, decimal-exact per-doc means
    "q_moore_lewis" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      TextAnalysis.mooreLewis(docs, "text", "doc_id", col("lang") === "en")
    }),

    // DoReMi Group-DRO domain reweighting (Xie et al. 2023): per-domain
    // excess loss of the unigram reference over the bigram proxy,
    // exponentiated over the baseline token share into integer
    // milli-weights — the mixture the resampling gate would apply
    "q_doremi" -> ((s, dir) => {
      TextAnalysis.doremiWeights(tbl(s, dir, "documents"), "text", "doc_id",
        col("source"))
    }),

    // the DoReMi loop CLOSED: the learned milli-weights become the
    // target mixture and the corpus is downsampled to it (the paper's
    // "train on the reweighted mixture" step) — weights collect
    // model-sized at build, the gate is the q_mixture threshold replay
    "q_doremi_sample" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val w = TextAnalysis.doremiWeights(docs, "text", "doc_id", col("source"))
        .select(col("source"), col("weight_milli")).collect()
      val targets = w.filter(_.getLong(1) > 0L)
        .map(r => r.getString(0) -> r.getLong(1) / 1000.0).toMap
      Sampling.sampleToMixture(docs, col("source"), col("doc_id"), targets)
        .select(col("doc_id"), col("source"))
    }),

    // per-source token-distribution drift: Jensen-Shannon divergence of
    // each source's unigram distribution vs the corpus — the mixture
    // health check that flags a drifted shard/source/day
    "q_js_drift" -> ((s, dir) => {
      TextAnalysis.jsDivergence(tbl(s, dir, "documents"), "text", col("source"))
        .select(col("grp").as("source"), col("n_tokens"), col("js_div"))
    }),

    // substring blocklist filter (UT1-style word/phrase lists): per-doc
    // leftmost non-overlapping match counts from the codegen'd kernel —
    // zero-shuffle corpus pass; blocked = any pattern hit
    "q_blocklist" -> ((s, dir) => {
      val hits = graft.functions.BlocklistHits(col("text"))
      tbl(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"), hits.as("__h"))
        .select(col("doc_id"),
          aggregate(col("__h"), lit(0L), (a, x) => a + x).as("n_hits"),
          size(filter(col("__h"), _ > 0L)).cast("long").as("n_patterns"))
        .withColumn("blocked", col("n_hits") >= 1L)
    }),

    // the same filter through the Aho–Corasick automaton (ONE text walk
    // for the whole pattern set — the thousand-pattern production tier;
    // functions/Blocklist.scala AhoCorasick): counts equal the indexOf
    // kernel by contract (AhoCorasickSpec property pin), so the oracle
    // SQL is shared verbatim, like q_html_fused vs q_html_text
    "q_blocklist_ac" -> ((s, dir) => {
      val hits = graft.functions.BlocklistHitsAC(col("text"))
      tbl(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"), hits.as("__h"))
        .select(col("doc_id"),
          aggregate(col("__h"), lit(0L), (a, x) => a + x).as("n_hits"),
          size(filter(col("__h"), _ > 0L)).cast("long").as("n_patterns"))
        .withColumn("blocked", col("n_hits") >= 1L)
    }),

    // tokenizer economics per language: BPE fertility (subword tokens per
    // whitespace word) and compression (chars per token) — the health
    // stat that catches a tokenizer under-serving a language. Integer
    // sums shuffle; the ratios are one rounded division at the end
    "q_bpe_fertility" -> ((s, dir) => {
      tbl(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("lang"),
          graft.functions.BpeTokenCount(col("text")).as("__bt"),
          size(split(lower(col("text")), "\\s+")).cast("long").as("__w"),
          length(col("text")).cast("long").as("__ch"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("__bt")).as("n_tokens_bpe"),
          sum(col("__w")).as("n_words"), sum(col("__ch")).as("n_chars"))
        .select(col("lang"), col("n_docs"), col("n_tokens_bpe"),
          col("n_words"), col("n_chars"),
          round(col("n_tokens_bpe").cast("double") / col("n_words"), 6).as("fertility"),
          round(col("n_chars").cast("double") / col("n_tokens_bpe"), 6).as("chars_per_token"))
    }),

    // interpolated Kneser-Ney bigram perplexity (the smoothing real
    // n-gram filters ship): discounted bigram ML + continuation-prob
    // backoff, all from integer count tables off one bigram explode
    "q_kn_score" -> ((s, dir) => {
      TextAnalysis.kneserNeyNll(tbl(s, dir, "documents"), "text", "doc_id")
        .select(col("doc_id"), col("n_bigrams"), col("mean_nll_kn"))
    }),

    // count-pruned Kneser-Ney: exact vocab-sized marginals, pruned
    // types (c < 2) score on the factorized continuation backoff
    // a(w1)+b(w2) alone — the whole model broadcasts, scoring is a
    // zero-shuffle projection over the token stream
    "q_knp_score" -> ((s, dir) => {
      TextAnalysis.kneserNeyNllPruned(tbl(s, dir, "documents"), "text",
          "doc_id", minCount = 2)
        .select(col("doc_id"), col("n_bigrams"), col("mean_nll_knp"))
    }),

    // Zipf rank-frequency fit over the vocabulary head: the corpus-health
    // regression (slope near -1 for natural text). Vocab agg + top-K via
    // TakeOrderedAndProject; one output row, decimal-exact ln sums
    "q_zipf_fit" -> ((s, dir) => {
      TextAnalysis.zipfFit(tbl(s, dir, "documents"), "text", topK = 25)
    }),

    // RefinedWeb/FineWeb-style DOMAIN-level gating: score every doc with
    // the hash-TF classifier kernel (zero-shuffle), aggregate the mean
    // margin per source (bounded groups), and gate whole sources that
    // fall below the RELATIVE bar (the mean of source means) — a fixed
    // absolute bar either keeps or drops everything on a homogeneous
    // corpus; the relative bar always splits unless sources tie
    "q_domain_filter" -> ((s, dir) => {
      val w = QualityClassifier.syntheticWeightsMilli(512)
      val scored = tbl(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"), col("source"),
          graft.functions.HashTfLinearMargin(col("text"), w, 0.1).as("__m"))
      val bySrc = scored.groupBy(col("source"))
        .agg(round(sum(col("__m").cast("decimal(28,12)")).cast("double")
          / count(lit(1)), 6).as("source_quality"))
      val bar = bySrc.agg(
        round(sum(col("source_quality").cast("decimal(28,12)")).cast("double")
          / count(lit(1)), 6).as("quality_bar"))
      scored.join(broadcast(bySrc), Seq("source"))
        .crossJoin(broadcast(bar))
        .select(col("doc_id"), col("source"), col("source_quality"),
          col("quality_bar"),
          (col("source_quality") >= col("quality_bar")).as("kept"))
    }),

    // training-mix construction: sample the corpus DOWN to 40/30/20/10
    // source proportions — the binding stratum stays whole, the others
    // hash-threshold down; sources outside the mix drop entirely
    "q_mixture" -> ((s, dir) => {
      Sampling.sampleToMixture(tbl(s, dir, "documents"),
        col("source"), col("doc_id"),
        Map("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.2, "src3" -> 0.1))
        .select(col("doc_id"), col("source"))
    }),

    // Gopher-style repetition signals over the corpus — the standard
    // machine-text/spam heuristic trio, one fused scan
    "q_repetition" -> ((s, dir) => {
      tbl(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.repetitionUdf(col("text")).as("r"))
        .select(col("doc_id"),
          round(col("r.dup_word_frac"), 6).as("dup_word_frac"),
          round(col("r.top_word_frac"), 6).as("top_word_frac"),
          round(col("r.dup_bigram_frac"), 6).as("dup_bigram_frac"))
    }),

    "q_pii_scrub" -> ((s, dir) => {
      // deterministic PII synthesized from doc_id (the corpus has none):
      // an email and a 7+-digit account-shaped run appended to the text,
      // then scrubbed — both regexes are RE2-safe so DuckDB replays the
      // masking exactly; tail+length keep the output row compact
      val docs = tbl(s, dir, "documents")
      val synth = concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@mail.example.com acct "),
        (col("doc_id") + 1000000L) * 17L, lit(" end"))
      docs.select(col("doc_id"),
        length(TextAnalysis.scrub(synth)).as("n_scrubbed"),
        substring(TextAnalysis.scrub(synth), -60, 60).as("tail"))
    }),

    "q_multimodal" -> ((s, dir) => {
      // blobs synthesized from text bytes (not valid images — the real
      // codecs return None and the model-free byte-moment features take
      // over); exercises the batched mapPartitions feature-extraction
      // path end-to-end. Rows-only check.
      val docs = tbl(s, dir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("blob"))
      Multimodal.extractImageFeatures(docs, "doc_id", "blob", dims = 8, batchSize = 32)
        .select(col("media_id"),
          round(aggregate(col("features"), lit(0.0d), (a, x) => a + x), 4).as("feat_sum"))
    }),

    "q_frames" -> ((s, dir) => {
      // video-blob frame sampling: every 4th 32-byte frame slice; the
      // generator (explode) shape of a real ffmpeg splitter
      val docs = tbl(s, dir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("blob"))
      Multimodal.sampleFrames(docs, "doc_id", "blob", frameBytes = 32, stride = 4)
        .select(col("media_id"), col("frame_index"),
          hex(col("frame")).as("frame_hex"))
    }),

    // REAL WAV round trip (not the stub layer): word-hash-derived PCM16
    // samples encoded into spec-valid RIFF blobs — including a junk LIST
    // chunk, so a fixed-offset reader cannot pass — then decoded by the
    // chunk-walking parser; integer-exact stats. The oracle recomputes
    // the samples from the same word hashes: a header-offset, endianness,
    // or chunk-walk bug corrupts recovered samples and breaks the hash.
    // zero_crossings is ORDER-sensitive (catches sample misordering)
    "q_wav_audio" -> ((s, dir) => {
      val wavUdf = udf { (text: String) =>
        Multimodal.wavBlobFromText(text, 16000)
      }
      val docs = tbl(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"), wavUdf(col("text")).as("blob"))
      Multimodal.audioStats(docs, "doc_id", "blob", batchSize = 32)
    }),

    // REAL FLAC round trip (pure-JVM Rice + fixed predictors — no codec
    // library, operators/FlacCodec.scala): the same word-hash samples as
    // q_wav_audio, compressed losslessly and decoded back — the oracle
    // replays the identical sample formula with ZERO tolerance, so a
    // Rice/CRC/predictor/decorrelation bug breaks the hash. Every 3rd
    // doc is STEREO through a decorrelated mode (mid/side on even ids,
    // left/side on odd — the side channel's 17-bit path sits on the
    // oracle-checked route); stereo drops an odd tail sample to pair
    // the interleave, and the oracle replays the truncation. Multi-frame
    // streams by construction (blockSize=256 < typical word count)
    "q_flac_audio" -> ((s, dir) => {
      val flacUdf = udf { (id: Long, text: String) =>
        val stereo = id % 3 == 0
        Multimodal.flacBlobFromText(text, 16000,
          channels = if (stereo) 2 else 1,
          stereoMode = if (id % 2 == 0) "midside" else "leftside")
      }
      val docs = tbl(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"), flacUdf(col("doc_id"), col("text")).as("blob"))
      Multimodal.audioStats(docs, "doc_id", "blob", batchSize = 32)
    }),

    // MP3 FRAME-layer metadata (the audio-curation gate for podcast/
    // speech dumps): spec-valid silent streams planted with per-doc
    // rate/channels/frames/bitrate; every even doc is CRC-protected
    // (parse must verify the CRC-16), every third doc is wrapped in
    // ID3v2+ID3v1 tags with 0xff-laden junk payload (the walk must skip
    // the tag and must NOT anchor on a false sync). duration/bitrate
    // replay as arithmetic in the oracle. PCM synthesis is the
    // documented Mp3Codec boundary — nothing here depends on it
    "q_mp3_audio" -> ((s, dir) => {
      val mp3Udf = udf { (id: Long) =>
        val rate = (id % 3) match {
          case 0 => 44100; case 1 => 48000; case _ => 32000
        }
        val kbps = (id % 4) match {
          case 0 => 64; case 1 => 128; case 2 => 192; case _ => 320
        }
        val stream = graft.operators.Mp3Codec.encodeSilent(
          rate, channels = 1 + (id % 2).toInt, frames = 3 + (id % 5).toInt,
          bitrateKbps = kbps, withCrc = id % 2 == 0)
        if (id % 3 == 0) graft.operators.Mp3Codec.withId3(stream) else stream
      }
      val docs = tbl(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"), mp3Udf(col("doc_id")).as("blob"))
      Multimodal.mp3Info(docs, "doc_id", "blob", batchSize = 32)
        .select(col("media_id").as("doc_id"), col("format"),
          col("sample_rate"), col("channels"), col("frames"),
          col("duration_ms"), col("bitrate_kbps"), col("vbr"),
          col("bad_frames"))
    }),

    // REAL H.264 frame-layer walk over spec-valid Annex-B fixtures
    // (H264Codec.encodeFixture: bit-exact SPS/PPS, valid slice-header
    // prefixes, VUI timing) — NAL scan, Exp-Golomb SPS decode incl.
    // the High-profile chroma branch and frame cropping, picture/IDR
    // counting through multi-slice frames. The oracle replays the
    // fixture arithmetic; macroblock decode is the documented
    // H264Codec validatability boundary
    "q_h264_video" -> ((s, dir) => {
      val vidUdf = udf { (id: Long) =>
        graft.operators.H264Codec.encodeFixture(
          width = 16 * (2 + (id % 4).toInt),
          height = 16 * (3 + (id % 3).toInt),
          frames = 3 + (id % 6).toInt,
          fps = (id % 3) match {
            case 0 => 24.0; case 1 => 30.0; case _ => 60.0
          },
          profileIdc = if (id % 2 == 0) 66 else 100,
          levelIdc = 31,
          slicesPerFrame = 1 + (id % 2).toInt,
          cropRight = if (id % 5 == 0) 2 else 0)
      }
      val docs = tbl(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"), vidUdf(col("doc_id")).as("blob"))
      Multimodal.h264Info(docs, "doc_id", "blob", batchSize = 32)
        .select(col("media_id").as("doc_id"), col("format"),
          col("profile"), col("level"), col("width"), col("height"),
          col("frames"), col("idr_frames"), col("fps"),
          col("duration_ms"), col("bad_nals"))
    }),

    // REAL audio decimation (the WAV analog of q_resize): every 4th
    // PCM sample kept, re-encoded at rate/4, decoded AGAIN for stats —
    // the decode→slice→encode→decode chain is exact, and the
    // order-sensitive zero_crossings is recomputed on the DECIMATED
    // sequence, so an off-by-one in the stride (or a reader that
    // mis-walks the re-encoded chunks) breaks the hash. Every 3rd doc
    // is STEREO (same hash samples interleaved as L/R frames): stereo
    // decimation must stride FRAMES — a raw-sample stride would swap
    // channels mid-stream, and the oracle's frame replay catches it
    "q_resample" -> ((s, dir) => {
      val wavUdf = udf { (id: Long, text: String) =>
        Multimodal.wavBlobFromText(text, 16000,
          channels = if (id % 3 == 0) 2 else 1)
      }
      val docs = tbl(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"),
          wavUdf(col("doc_id"), col("text")).as("blob"))
      val dec = Multimodal.decimateAudio(docs, "doc_id", "blob",
        factor = 4, batchSize = 32)
      Multimodal.audioStats(dec, "media_id", "resampled", batchSize = 32)
    }),

    // REAL 24-bpp BMP round trip: formula-derived pixels encoded with
    // bottom-up rows + 4-byte padding, decoded by the real parser. The
    // oracle recomputes both sums from the pixel formula; gy_sum is the
    // FLIP detector (row-weighted, so forgetting bottom-up storage keeps
    // g_sum but breaks gy_sum), and non-multiple-of-4 row widths exercise
    // the padding arithmetic
    "q_bmp_image" -> ((s, dir) => {
      val bmpUdf = udf { (id: Long) =>
        val w = (4 + id % 13).toInt
        val h = (3 + id % 7).toInt
        Multimodal.RealCodecs.encodeBmp24(w, h, (x, y) => (
          ((x * 31 + y * 17 + id) % 256).toInt,
          ((x * 7 + y * 101 + 2 * id) % 256).toInt,
          ((x + y + 3 * id) % 256).toInt))
      }
      val docs = tbl(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"), bmpUdf(col("doc_id")).as("blob"))
      Multimodal.imageStats(docs, "doc_id", "blob", batchSize = 32)
    }),

    // REAL truecolor PNG round trip (java.util.zip DEFLATE — no codec
    // library): formula pixels filtered with ALL FIVE per-row filter
    // types (encoder uses y%5; h >= 5 guarantees each appears), zlib
    // stream split across two IDAT chunks, CRC-checked chunk walk. The
    // oracle recomputes the sums from the pixel formula, so a filter
    // reconstruction bug (Sub/Up/Average/Paeth), a bad inflate, or a
    // single-IDAT reader breaks the hash; gy_sum is row-weighted so
    // row-order bugs can't cancel
    "q_png_image" -> ((s, dir) => {
      val pngUdf = udf { (id: Long) =>
        val w = (3 + id % 12).toInt
        val h = (5 + id % 7).toInt
        Multimodal.RealCodecs.encodePng(w, h, (x, y) => (
          ((x * 31 + y * 17 + id) % 256).toInt,
          ((x * 7 + y * 101 + 2 * id) % 256).toInt,
          ((x + y + 3 * id) % 256).toInt))
      }
      val docs = tbl(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"), pngUdf(col("doc_id")).as("blob"))
      Multimodal.imageStats(docs, "doc_id", "blob", batchSize = 32)
    }),

    // REAL GIF round trip (pure-JVM LZW — no codec library): grayscale
    // 256-entry palette makes index == gray value, so the oracle replays
    // the pixel-index formula as arithmetic, exactly like q_png_image.
    // Every even doc_id writes INTERLACED (four-pass row order): the
    // decoder's de-interlace sits on the oracle-checked path, and gy_sum
    // is the row-order detector that catches a pass-order bug
    "q_gif_image" -> ((s, dir) => {
      val gifUdf = udf { (id: Long) =>
        val w = (4 + id % 9).toInt
        val h = (3 + id % 10).toInt
        graft.operators.GifCodec.encodeGray(w, h,
          (x, y) => ((x * 31 + y * 17 + id) % 256).toInt,
          interlaced = id % 2 == 0)
      }
      val docs = tbl(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"), gifUdf(col("doc_id")).as("blob"))
      Multimodal.imageStats(docs, "doc_id", "blob", batchSize = 32)
    }),

    // REAL baseline JPEG round trip (pure-JVM Huffman + IDCT — no codec
    // library): 8x8-block-constant gray pixels with UNIT quant tables
    // make the lossy pipeline exact (DC-only blocks; F(0,0)=8(v-128) is
    // integer-exact end to end), so the oracle replays the pixel
    // formula. doc_id%3 also varies the restart interval (0/1/2 MCUs),
    // so DRI/RSTn segmentation sits on the oracle-checked path; gy_sum
    // stays the row-order detector
    "q_jpeg_image" -> ((s, dir) => {
      val jpegUdf = udf { (id: Long) =>
        val w = (8 + (id % 3) * 4).toInt
        val h = (8 + (id % 5) * 2).toInt
        graft.operators.JpegCodec.encodeGray(w, h,
          (x, y) => (((x / 8) * 31 + (y / 8) * 17 + 5 * id) % 256).toInt,
          restartEvery = (id % 3).toInt)
      }
      val docs = tbl(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"), jpegUdf(col("doc_id")).as("blob"))
      Multimodal.imageStats(docs, "doc_id", "blob", batchSize = 32)
    }),

    // REAL resize (not the stub): decode → grid-aligned integer box
    // pooling per RGB channel → re-encode PNG → decode AGAIN for stats.
    // The oracle recomputes the pooled means from the source pixel
    // formula, so the whole decode→pool→encode→decode chain must be
    // exact; all-integer (floor divisions) end to end
    "q_resize" -> ((s, dir) => {
      val pngUdf = udf { (id: Long) =>
        val w = (3 + id % 12).toInt
        val h = (5 + id % 7).toInt
        Multimodal.RealCodecs.encodePng(w, h, (x, y) => (
          ((x * 31 + y * 17 + id) % 256).toInt,
          ((x * 7 + y * 101 + 2 * id) % 256).toInt,
          ((x + y + 3 * id) % 256).toInt))
      }
      val docs = tbl(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"), pngUdf(col("doc_id")).as("blob"))
      val small = Multimodal.resizeReal(docs, "doc_id", "blob",
        outW = 3, outH = 5, batchSize = 32)
      Multimodal.imageStats(small, "media_id", "resized", batchSize = 32)
    }),

    // perceptual image near-dup pairs: dHash56 gradients over the real
    // decode path, pigeonhole Hamming bands (the SimHash shape on
    // images — never all-pairs in Spark; the sf-bounded oracle may
    // brute-force). Pixels are md5 noise per (seed, x, y) — linear
    // formula images are texture-degenerate for a gradient hash (every
    // image hashes alike; a 500k linear corpus went quadratic and
    // filled the disk before the volume guard) while md5 textures give
    // each base an effectively unique 56-bit signature. Planted
    // invariance: docs 2k and 2k+1 share a base, the odd one +3 per
    // channel — a uniform brightness shift the gradient hash provably
    // cancels, so every planted pair lands at hamming 0
    "q_image_dedup" -> ((s, dir) => {
      val pngUdf = udf { (id: Long) =>
        val seed = id / 2
        val bright = (3 * (id % 2)).toInt
        Multimodal.RealCodecs.encodePng(16, 12, (x, y) => {
          val h = graft.operators.Dedup.md5LongJvm(s"px_${seed}_${x}_$y")
          ((h % 247).toInt + bright,
            ((h / 247) % 247).toInt + bright,
            ((h / 247 / 247) % 247).toInt + bright)
        })
      }
      val src = tbl(s, dir, "documents").filter(col("text").isNotNull)
      // the radius<->band-width trade is this operator's scale lever
      // (bands are 56/(radius+1) bits; candidate volume ~ n²·(r+1)/2^width
      // even on perfectly random hashes): 14-bit bands saturate around
      // 10^5 images — the guard measured ~93M candidates at 500k — so
      // past that the query drops to radius 1 (28-bit bands, bucket
      // occupancy ~n/2^28). The planted dups sit at hamming 0, inside
      // every radius. The threshold keys on the UNFILTERED table count
      // (no text-column null scan — the count job reads zero columns)
      // and the oracle replays the identical CASE rule in SQL, so the
      // two sides agree at EVERY scale factor, not just sf0.01.
      // A production corpus sizes the HASH to the corpus instead
      // (128-bit pHash at 10^9 images) — the band algebra is identical
      val radius = if (tbl(s, dir, "documents").count() > 200000L) 1 else 3
      val docs = src.select(col("doc_id"), pngUdf(col("doc_id")).as("blob"))
      Multimodal.imageNearDupPairs(docs, "doc_id", "blob", radius = radius)
    }),

    "q_model_gate" -> ((s, dir) => {
      // A5 batch form: model-readiness gating as an event-time range join
      // (minTimestamp <= t - delay <= timestamp, earliest model wins);
      // rows with no suitable model score null — the batch collapse of the
      // reference's buffer-and-drain state machine
      val ev = eventFeatures(s, dir)
        .withColumn("features", array(col("x0"), col("x1"), col("x2")))
      val model = new OnlineTopsis()
        .setCriteriaTypes(1, 2, 1).setWeights(0.5, 0.3, 0.2)
        .setTimeCol("tms").setWindowDuration("3 days")
        .fit(ev)
      model.setMaxAllowedModelDelayMs(86400000L)
        .transform(ev)
        .select(col("event_id"), round(col("prediction"), 6).as("score"))
    }),

    "q_ann_ivf" -> ((s, dir) => {
      // IVF ANN: explicit coarse centroids (the first 16 corpus vectors)
      // make cell assignment + probing deterministic -> exact oracle; the
      // Lloyd-trained quantizer path is spec-tested instead (sampling is
      // partition-dependent)
      val emb = tbl(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val cents = emb.filter(col("vec_id") < 16).orderBy("vec_id")
        .select(col("embedding").cast("array<double>"))
        .collect().map(_.getSeq[Double](0).toArray)
      Similarity.ivfTopK(emb, "vec_id", "embedding", queries, "qid", "qvec",
        k = 3, cells = 16, nprobe = 2, initCentroids = Some(cents))
    }),

    "q_time_features" -> ((s, dir) => {
      // runs the ACTUAL operator (A12) over stringified dates, so the
      // oracle checks its strict-pattern parse + %02d formatting
      val o = tbl(s, dir, "orders").select(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("d"))
      new graft.operators.TimeFeatureExtractor().setInputCol("d")
        .transform(o)
        .select(col("o_orderkey"), col("year"), col("month"), col("day"))
    }),

    "q_stdscale" -> ((s, dir) => {
      val c = tbl(s, dir, "customer")
      val model = new StandardScalerEst().setInputCol("c_acctbal").fit(c)
      model.transform(c)
        .select(col("c_custkey"), round(col("scaled_value"), 6).as("acctbal_scaled"))
    }),

    "q_mean_impute" -> ((s, dir) => {
      val ev = tbl(s, dir, "events").withColumn("v",
        when(col("event_type") === "error", lit(null).cast("double")).otherwise(col("value")))
      val model = new MeanImputer().setInputCol("v").fit(ev)
      model.transform(ev)
        .select(col("event_id"), round(col("imputed_value"), 6).as("value_imputed"))
    }),

    // A13: schema-walk dispatch — double col gets the reference's
    // 0.0-as-missing mean impute (appended as newValue), int col gets a
    // one-hot array; checked via the one-hot's set-bit index so the
    // domain-ordering contract is oracle-visible.
    "q_autofeature" -> ((s, dir) => {
      val p = tbl(s, dir, "part").select(
        col("p_partkey").cast("string").as("pk"),
        col("p_size"),
        when(col("p_partkey") % 10 === 0, lit(0.0))
          .otherwise(col("p_retailprice")).as("price"))
      val out = new AutoFeatureTransformer().transform(p)
      out.select(
        col("pk").cast("long").as("p_partkey"),
        round(col("newValue"), 6).as("price_imputed"),
        (array_position(col("p_size_onehot"), 1) - 1).cast("int").as("size_index"))
    }),
  )

  /** DECLARED numeric-tolerance policy for the oracle compare: per-query
    * ABSOLUTE bounds on float cells, applied by tools/check_oracle.py
    * (dumped as oracle_tolerance.json next to oracle_sql.json). Every
    * query not listed here is exact-match.
    *
    * The only admissions are the two analyzed cross-engine double-
    * reduction-order flips (BASELINE.md round-10 note): q_ahp and
    * q_pca_project each emit one round(x, 6) value that sits ON the
    * rounding boundary at sf0.1, where Spark's and DuckDB's different
    * reduction orders land one ULP apart and the 6th digit flips. The
    * bound is 1.5 grid steps of the round-6 output — tight enough that
    * any real arithmetic defect (wrong weight, dropped row) still
    * fails, wide enough that reduction order cannot. Both queries stay
    * hash-exact at the sf0.01 gate and inside the reference's own 1e-3
    * test tolerances (AHPSpec.scala:25). */
  def oracleTolerance: Map[String, Double] = Map(
    "q_ahp" -> 1.5e-6,
    "q_pca_project" -> 1.5e-6)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity), 2) AS sum_qty,
        | round(sum(l_extendedprice), 2) AS sum_base_price,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        | round(avg(l_quantity), 6) AS avg_qty,
        | round(avg(l_discount), 6) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q3_join" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        | CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY o_orderkey, o_orderdate""".stripMargin,

    "q_pivot" ->
      """SELECT n_name,
        |  CAST(round(sum(CASE WHEN yr = 1995 THEN rev END), 2) AS DOUBLE) AS "1995",
        |  CAST(round(sum(CASE WHEN yr = 1996 THEN rev END), 2) AS DOUBLE) AS "1996",
        |  CAST(round(sum(CASE WHEN yr = 1997 THEN rev END), 2) AS DOUBLE) AS "1997",
        |  CAST(round(sum(CASE WHEN yr = 1998 THEN rev END), 2) AS DOUBLE) AS "1998"
        |FROM (SELECT n_name, year(o_orderdate) AS yr,
        |        CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) AS rev
        |      FROM lineitem, orders, customer, nation
        |      WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        |        AND c_nationkey = n_nationkey
        |        AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |        AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00')
        |GROUP BY n_name""".stripMargin,

    "q_take_stratified" ->
      """WITH h AS (SELECT doc_id, lang,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 AS b
        |  FROM documents),
        |r AS (SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang ORDER BY b, doc_id) AS rn FROM h)
        |SELECT doc_id, lang FROM r WHERE rn <= 25""".stripMargin,

    "q_mode" ->
      """WITH c AS (SELECT l_returnflag AS flag, l_quantity AS v, count(*) AS n
        |           FROM lineitem GROUP BY 1, 2),
        |r AS (SELECT flag, v, n, row_number() OVER (
        |        PARTITION BY flag ORDER BY n DESC, v DESC) AS rn FROM c)
        |SELECT flag, v AS mode_value, n AS mode_count FROM r WHERE rn = 1""".stripMargin,

    "q_winsorize" ->
      """WITH q AS (SELECT quantile_disc(l_extendedprice, 0.05) AS lo,
        |                  quantile_disc(l_extendedprice, 0.95) AS hi
        |           FROM lineitem)
        |SELECT l_orderkey, l_linenumber,
        |  least(greatest(l_extendedprice, lo), hi) AS price_w
        |FROM lineitem, q""".stripMargin,

    "q_bm25" ->
      """WITH toks AS (
        |  SELECT doc_id, t FROM (
        |    SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS t
        |    FROM documents) WHERE t <> ''),
        |lens AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl FROM toks GROUP BY doc_id),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM lens),
        |tf AS (SELECT doc_id, t, CAST(count(*) AS DOUBLE) AS tf FROM toks
        |       WHERE t IN ('spark', 'hash', 'join', 'window') GROUP BY doc_id, t),
        |dfc AS (SELECT t, CAST(count(*) AS DOUBLE) AS dfq FROM tf GROUP BY t),
        |contrib AS (
        |  SELECT tf.doc_id,
        |    ln(1 + (n - dfq + 0.5) / (dfq + 0.5)) * tf.tf * 2.2 /
        |      (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)) AS c
        |  FROM tf, dfc, lens, stats
        |  WHERE tf.t = dfc.t AND tf.doc_id = lens.doc_id)
        |SELECT doc_id, round(sum(c), 6) AS score FROM contrib GROUP BY doc_id
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    // the same md5 row-hash grid: fill cells from the token stream, each
    // candidate term estimates as the min of its depth cells
    "q_count_min" ->
      """WITH t AS (SELECT unnest(string_split_regex(lower(text), '\s+')) AS term FROM documents),
        |ex AS (SELECT term, count(*) AS exact_count FROM t GROUP BY 1),
        |cells AS (SELECT r,
        |    ('0x' || substr(md5('cm' || r || '_' || term), 1, 15))::BIGINT % 1024 AS b,
        |    count(*) AS cc
        |  FROM t, range(4) tr(r) GROUP BY 1, 2),
        |est AS (SELECT term, min(cc) AS cm_estimate FROM (
        |    SELECT ex.term, r,
        |      ('0x' || substr(md5('cm' || r || '_' || term), 1, 15))::BIGINT % 1024 AS b
        |    FROM ex, range(4) tr(r)) q
        |  JOIN cells USING (r, b) GROUP BY term)
        |SELECT ex.term, ex.exact_count, est.cm_estimate
        |FROM ex JOIN est USING (term)
        |ORDER BY ex.exact_count DESC, ex.term LIMIT 20""".stripMargin,

    // the drained streaming grid must equal the batch sketch cells —
    // same md5 row hashes, same long arithmetic
    "q_count_min_stream" ->
      """WITH t AS (SELECT unnest(string_split_regex(lower(text), '\s+')) AS term FROM documents),
        |cells AS (SELECT CAST(r AS BIGINT) AS r,
        |    ('0x' || substr(md5('cm' || r || '_' || term), 1, 15))::BIGINT % 1024 AS b,
        |    count(*) AS cc
        |  FROM t, range(4) tr(r) GROUP BY 1, 2)
        |SELECT r, b, cc FROM cells""".stripMargin,

    // all-integer replay: same div binning, same integer-ceiling ranks,
    // same first-bin-reaching-rank walk as the drained grid's finish
    "q_quantile_stream" ->
      """WITH t AS (SELECT CAST(len(string_split_regex(lower(text), '\s+')) AS BIGINT) AS nt
        |    FROM documents WHERE text IS NOT NULL),
        |b AS (SELECT least(CAST(255 AS BIGINT), greatest(CAST(0 AS BIGINT), nt // 16)) AS bin,
        |    count(*) AS cnt FROM t GROUP BY 1),
        |c AS (SELECT bin, sum(cnt) OVER (ORDER BY bin) AS cum,
        |    (SELECT sum(cnt) FROM b) AS n FROM b),
        |p(pct, num, den) AS (VALUES (25, 1, 4), (50, 1, 2), (75, 3, 4),
        |    (95, 19, 20), (99, 99, 100)),
        |hits AS (SELECT pct, (num * n + den - 1) // den AS rank, bin, cum,
        |    row_number() OVER (PARTITION BY pct ORDER BY bin) AS rn
        |  FROM p, c WHERE cum >= (num * n + den - 1) // den)
        |SELECT CAST(pct AS INTEGER) AS p_pct, CAST(rank AS BIGINT) AS rank,
        |  bin, bin * 16 AS lo, (bin + 1) * 16 - 1 AS hi, CAST(cum AS BIGINT) AS n_le
        |FROM hits WHERE rn = 1""".stripMargin,

    // walk per distinct word -> token lists; sequences reassembled by
    // (word position, subtoken position); pos = 0-based row_number
    "q_bpe_encode" ->
      s"""WITH RECURSIVE ${bpeWalkCtes("documents")},
         |wt AS (SELECT w, string_split(trim(s), ' ') AS toks
         |       FROM walk WHERE r = ${graft.functions.BpeTokenizer.merges.length}),
         |dw AS (SELECT doc_id, generate_subscripts(l, 1) AS wi, unnest(l) AS w
         |       FROM (SELECT doc_id,
         |               string_split_regex(lower(text), '\\s+') AS l
         |             FROM documents WHERE text IS NOT NULL)),
         |ft AS (SELECT dw.doc_id, dw.wi,
         |         generate_subscripts(wt.toks, 1) AS ti, unnest(wt.toks) AS token
         |       FROM dw JOIN wt ON wt.w = dw.w)
         |SELECT doc_id,
         |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY wi, ti) - 1
         |    AS BIGINT) AS pos,
         |  token
         |FROM ft""".stripMargin,

    // training replayed merge by merge (see bpeTrainSql): 16 chained
    // (pair-count agg → argmax → recursive fixpoint apply) steps over
    // the same bounded top-1024 dictionary the Spark side collects
    "q_bpe_train" -> bpeTrainSql("documents", vocabCap = 1024, nMerges = 16),

    // the drained streaming registers must equal the batch table — max
    // IS the merge, so end-of-stream state is the full-corpus sketch
    "q_hll_stream" ->
      """WITH t AS (SELECT source,
        |    unnest(string_split_regex(lower(text), '\s+')) AS term
        |  FROM documents WHERE text IS NOT NULL),
        |h AS (SELECT source,
        |    ('0x' || substr(md5('hll_' || term), 1, 15))::BIGINT AS h FROM t),
        |r AS (SELECT source, h % 1024 AS register,
        |    CASE WHEN h // 1024 = 0 THEN 51
        |      ELSE 51 - length(bin(h // 1024)) END AS rho
        |  FROM h)
        |SELECT source, register, CAST(max(rho) AS BIGINT) AS max_rho
        |FROM r GROUP BY 1, 2""".stripMargin,

    // registers replay exactly: 60-bit md5 value, register = h mod 1024,
    // rho = 51 - length(bin(h div 1024)) — no floating logs anywhere
    "q_hll_vocab" ->
      """WITH t AS (SELECT source,
        |    unnest(string_split_regex(lower(text), '\s+')) AS term
        |  FROM documents WHERE text IS NOT NULL),
        |h AS (SELECT source,
        |    ('0x' || substr(md5('hll_' || term), 1, 15))::BIGINT AS h FROM t),
        |r AS (SELECT source, h % 1024 AS register,
        |    CASE WHEN h // 1024 = 0 THEN 51
        |      ELSE 51 - length(bin(h // 1024)) END AS rho
        |  FROM h)
        |SELECT source, register, CAST(max(rho) AS BIGINT) AS max_rho
        |FROM r GROUP BY 1, 2""".stripMargin,

    // batch replay of the streaming windowed registers: epoch-aligned
    // day windows + the q_hll_vocab hash/rho formula
    "q_hll_window" ->
      """WITH e AS (SELECT (epoch_ms(ts) // 86400000) * 86400000 AS w_start, user_id FROM events),
        |h AS (SELECT w_start,
        |    ('0x' || substr(md5('hll_' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h FROM e),
        |r AS (SELECT w_start, h % 1024 AS register,
        |    CASE WHEN h // 1024 = 0 THEN 51
        |      ELSE 51 - length(bin(h // 1024)) END AS rho
        |  FROM h)
        |SELECT w_start, register, CAST(max(rho) AS BIGINT) AS max_rho
        |FROM r GROUP BY 1, 2""".stripMargin,

    "q_quantiles" -> Seq(0.01, 0.25, 0.5, 0.75, 0.99).map(p =>
      s"SELECT CAST($p AS DOUBLE) AS p, quantile_disc(l_extendedprice, $p) AS value FROM lineitem")
      .mkString("\nUNION ALL\n"),

    "q_group_quantiles" -> Seq(0.25, 0.5, 0.75).map(p =>
      s"""SELECT l_returnflag AS flag, CAST($p AS DOUBLE) AS p,
         | quantile_disc(l_extendedprice, $p) AS value
         |FROM lineitem GROUP BY l_returnflag""".stripMargin)
      .mkString("\nUNION ALL\n"),

    "q_asof_join" ->
      """WITH p AS (SELECT event_id, user_id, epoch_ms(ts) AS tms,
        |    CAST(value AS DOUBLE) AS purchase_value
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, epoch_ms(ts) AS ctms,
        |    CAST(value AS DOUBLE) AS click_value
        |  FROM events WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id, p.tms, c.ctms AS click_tms, c.click_value
        |FROM p ASOF JOIN c ON p.user_id = c.user_id AND p.tms >= c.ctms
        |WHERE p.tms - c.ctms <= 86400000""".stripMargin,

    "q_moving_avg" ->
      """SELECT event_id, user_id, tms,
        |  round(CAST(sum(v) OVER w AS DOUBLE), 6) AS mov_sum,
        |  count(*) OVER w AS mov_n,
        |  round(CAST(sum(v) OVER w AS DOUBLE) / count(*) OVER w, 6) AS mov_avg
        |FROM (SELECT event_id, user_id, epoch_ms(ts) AS tms,
        |        CAST(value AS DECIMAL(18,6)) AS v FROM events)
        |WINDOW w AS (PARTITION BY user_id ORDER BY tms
        |             RANGE BETWEEN 600000 PRECEDING AND CURRENT ROW)""".stripMargin,

    "q_gap_fill" ->
      """WITH ev AS (SELECT event_id, user_id, epoch_ms(ts) AS tms,
        |              value AS v FROM events),
        |b AS (SELECT user_id, (tms // 21600000) * 21600000 AS gts,
        |             arg_max(v, event_id) AS v_bucket
        |      FROM ev GROUP BY 1, 2),
        |s AS (SELECT user_id, (min(tms) // 21600000) * 21600000 AS t0,
        |             (max(tms) // 21600000) * 21600000 AS t1
        |      FROM ev GROUP BY 1),
        |g AS (SELECT user_id,
        |             unnest(range(t0, t1 + 21600000, 21600000)) AS gts
        |      FROM s)
        |SELECT g.user_id, g.gts,
        |  round(last_value(b.v_bucket IGNORE NULLS) OVER (
        |    PARTITION BY g.user_id ORDER BY g.gts), 2) AS v_fill
        |FROM g LEFT JOIN b ON g.user_id = b.user_id AND g.gts = b.gts""".stripMargin,

    "q_scd2" ->
      """WITH ev AS (SELECT event_id, user_id, epoch_ms(ts) AS tms,
        |              event_type FROM events),
        |c AS (SELECT user_id, event_type, tms, event_id FROM (
        |  SELECT user_id, event_type, tms, event_id,
        |         lag(event_type) OVER (PARTITION BY user_id
        |                               ORDER BY tms, event_id) AS prev_type
        |  FROM ev) WHERE event_type IS DISTINCT FROM prev_type)
        |SELECT user_id, event_type, tms AS valid_from,
        |       lead(tms) OVER (PARTITION BY user_id
        |                       ORDER BY tms, event_id) AS valid_to
        |FROM c""".stripMargin,

    "q_incr_agg" ->
      """SELECT user_id, event_type, count(*) AS n,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4)
        |    AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q_corr" ->
      """WITH a AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
        |    CAST(sum(x * y) AS DOUBLE) AS sxy,
        |    CAST(sum(x * x) AS DOUBLE) AS sxx,
        |    CAST(sum(y * y) AS DOUBLE) AS syy
        |  FROM (SELECT l_returnflag,
        |          CAST(l_quantity AS DECIMAL(9,2)) AS x,
        |          CAST(l_extendedprice AS DECIMAL(13,2)) AS y
        |        FROM lineitem)
        |  GROUP BY 1)
        |SELECT l_returnflag, n,
        |  round((n * sxy - sx * sy) /
        |    (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
        |    AS corr_qty_price,
        |  round((sxy - sx * sy / n) / (n - 1), 4) AS covar_samp,
        |  round(sqrt((sxx - sx * sx / n) / (n - 1)), 6) AS stddev_qty
        |FROM a""".stripMargin,

    "q_range_join" ->
      """WITH bands AS (
        |  SELECT p_partkey, p_retailprice * 2.0 AS lo, p_retailprice * 2.05 AS hi
        |  FROM part ORDER BY p_retailprice DESC, p_partkey LIMIT 20)
        |SELECT b.p_partkey, l.l_orderkey, l.l_linenumber, l.l_extendedprice
        |FROM lineitem l, bands b
        |WHERE l.l_extendedprice >= b.lo AND l.l_extendedprice <= b.hi""".stripMargin,

    "q_window" ->
      """SELECT l_suppkey, rn, round(total, 2) AS total FROM (
        |  SELECT l_suppkey, sum(l_extendedprice) AS total,
        |    row_number() OVER (ORDER BY sum(l_extendedprice) DESC, l_suppkey) AS rn
        |  FROM lineitem GROUP BY l_suppkey)
        |WHERE rn <= 10""".stripMargin,

    "q_semi_anti" ->
      """WITH f AS (SELECT c_nationkey, c_custkey,
        |    EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey) AS has_o
        |  FROM customer c)
        |SELECT c_nationkey,
        |  CAST(sum(CASE WHEN has_o THEN 1 ELSE 0 END) AS BIGINT) AS with_orders,
        |  CAST(sum(CASE WHEN has_o THEN 0 ELSE 1 END) AS BIGINT) AS no_orders
        |FROM f GROUP BY c_nationkey""".stripMargin,

    "q_topsis" -> {
      val Array(w0, w1, w2, w3) = topsisWeights
      val best = topsisBest; val lo = topsisInterval(0); val hi = topsisInterval(1)
      s"""WITH x AS (
         |  SELECT l_orderkey, l_linenumber,
         |    CAST(l_quantity AS DOUBLE) AS x0, CAST(l_extendedprice AS DOUBLE) AS x1,
         |    CAST(l_discount AS DOUBLE) AS x2, CAST(l_tax AS DOUBLE) AS x3
         |  FROM lineitem),
         |s1 AS (SELECT max(x1) AS mx1, max(abs(x2 - $best)) AS dev2,
         |              min(x3) AS mn3, max(x3) AS mx3 FROM x),
         |p AS (
         |  SELECT l_orderkey, l_linenumber,
         |    x0 AS p0, mx1 - x1 AS p1, 1 - abs(x2 - $best) / dev2 AS p2,
         |    CASE WHEN x3 < $lo THEN 1 - ($lo - x3) / greatest($lo - mn3, mx3 - $hi)
         |         WHEN x3 <= $hi THEN 1
         |         ELSE 1 - (x3 - $hi) / greatest($lo - mn3, mx3 - $hi) END AS p3
         |  FROM x, s1),
         |s2 AS (SELECT
         |  sum(p0*p0) AS ss0, min(p0) AS pn0, max(p0) AS px0,
         |  sum(p1*p1) AS ss1, min(p1) AS pn1, max(p1) AS px1,
         |  sum(p2*p2) AS ss2, min(p2) AS pn2, max(p2) AS px2,
         |  sum(p3*p3) AS ss3, min(p3) AS pn3, max(p3) AS px3 FROM p),
         |z AS (
         |  SELECT l_orderkey, l_linenumber,
         |    p0/sqrt(ss0)*$w0 AS z0, p1/sqrt(ss1)*$w1 AS z1,
         |    p2/sqrt(ss2)*$w2 AS z2, p3/sqrt(ss3)*$w3 AS z3,
         |    pn0/sqrt(ss0)*$w0 AS zl0, px0/sqrt(ss0)*$w0 AS zh0,
         |    pn1/sqrt(ss1)*$w1 AS zl1, px1/sqrt(ss1)*$w1 AS zh1,
         |    pn2/sqrt(ss2)*$w2 AS zl2, px2/sqrt(ss2)*$w2 AS zh2,
         |    pn3/sqrt(ss3)*$w3 AS zl3, px3/sqrt(ss3)*$w3 AS zh3
         |  FROM p, s2)
         |SELECT l_orderkey, l_linenumber,
         |  round(sqrt((zl0-z0)*(zl0-z0) + (zl1-z1)*(zl1-z1) + (zl2-z2)*(zl2-z2) + (zl3-z3)*(zl3-z3))
         |    / (sqrt((zh0-z0)*(zh0-z0) + (zh1-z1)*(zh1-z1) + (zh2-z2)*(zh2-z2) + (zh3-z3)*(zh3-z3))
         |     + sqrt((zl0-z0)*(zl0-z0) + (zl1-z1)*(zl1-z1) + (zl2-z2)*(zl2-z2) + (zl3-z3)*(zl3-z3))), 6)
         |  AS score
         |FROM z""".stripMargin
    },

    "q_ahp" -> {
      val j = ahpW // data-independent AHP weights, inlined as literals
      s"""WITH x AS (
         |  SELECT l_orderkey, l_linenumber,
         |    CAST(l_quantity AS DOUBLE) AS x0, CAST(l_extendedprice AS DOUBLE) AS x1,
         |    CAST(l_discount AS DOUBLE) AS x2, CAST(l_tax AS DOUBLE) AS x3
         |  FROM lineitem),
         |s1 AS (SELECT min(x0) AS mn0, max(x0) AS mx0, min(x1) AS mn1, max(x1) AS mx1,
         |              min(x2) AS mn2, max(x2) AS mx2, min(x3) AS mn3, max(x3) AS mx3 FROM x),
         |nrm AS (
         |  SELECT l_orderkey, l_linenumber,
         |    (x0 - mn0) / (mx0 - mn0) AS n0, (x1 - mn1) / (mx1 - mn1) AS n1,
         |    (mx2 - x2) / (mx2 - mn2) AS n2, (mx3 - x3) / (mx3 - mn3) AS n3
         |  FROM x, s1),
         |s2 AS (SELECT sum(n0) AS t0, sum(n1) AS t1, sum(n2) AS t2, sum(n3) AS t3,
         |              count(*) AS c FROM nrm),
         |ent AS (
         |  SELECT
         |   sum(CASE WHEN n0 > 0 THEN (n0/t0)*ln(n0/t0) ELSE 0 END) AS e0,
         |   sum(CASE WHEN n1 > 0 THEN (n1/t1)*ln(n1/t1) ELSE 0 END) AS e1,
         |   sum(CASE WHEN n2 > 0 THEN (n2/t2)*ln(n2/t2) ELSE 0 END) AS e2,
         |   sum(CASE WHEN n3 > 0 THEN (n3/t3)*ln(n3/t3) ELSE 0 END) AS e3
         |  FROM nrm, s2),
         |d AS (
         |  SELECT 1 - (-(1.0/ln(c)) * e0) AS d0, 1 - (-(1.0/ln(c)) * e1) AS d1,
         |         1 - (-(1.0/ln(c)) * e2) AS d2, 1 - (-(1.0/ln(c)) * e3) AS d3
         |  FROM ent, s2)
         |SELECT l_orderkey, l_linenumber,
         |  round(n0 * (d0/(d0+d1+d2+d3)) * ${j(0)} + n1 * (d1/(d0+d1+d2+d3)) * ${j(1)}
         |      + n2 * (d2/(d0+d1+d2+d3)) * ${j(2)} + n3 * (d3/(d0+d1+d2+d3)) * ${j(3)}, 6)
         |  AS score
         |FROM nrm, d""".stripMargin
    },

    "q_fcm" -> {
      def dist(c: Array[Double]): String =
        s"sqrt((x0-${c(0)})*(x0-${c(0)}) + (x1-${c(1)})*(x1-${c(1)})" +
          s" + (x2-${c(2)})*(x2-${c(2)}) + (x3-${c(3)})*(x3-${c(3)}))"
      s"""WITH x AS (
         |  SELECT l_orderkey, l_linenumber,
         |    CAST(l_quantity AS DOUBLE) AS x0, CAST(l_extendedprice AS DOUBLE) AS x1,
         |    CAST(l_discount AS DOUBLE) AS x2, CAST(l_tax AS DOUBLE) AS x3
         |  FROM lineitem),
         |d AS (SELECT l_orderkey, l_linenumber, ${dist(fcmCentroids(0))} AS d0,
         |        ${dist(fcmCentroids(1))} AS d1, ${dist(fcmCentroids(2))} AS d2 FROM x)
         |SELECT l_orderkey, l_linenumber,
         |  CASE WHEN d0 <= d1 AND d0 <= d2 THEN 0
         |       WHEN d1 <= d2 THEN 1 ELSE 2 END AS prediction
         |FROM d""".stripMargin
    },

    "q_canopy" -> {
      val conds = canopyCenters.zipWithIndex.map { case (c, i) =>
        s"""SELECT l_orderkey, l_linenumber, $i AS canopy_id FROM x
           |WHERE sqrt((x0-${c(0)})*(x0-${c(0)}) + (x1-${c(1)})*(x1-${c(1)})) < $canopyT1
           |  AND sqrt((x0-${c(0)})*(x0-${c(0)}) + (x1-${c(1)})*(x1-${c(1)})) > 1e-6""".stripMargin
      }
      s"""WITH x AS (
         |  SELECT l_orderkey, l_linenumber, CAST(l_quantity AS DOUBLE) AS x0,
         |    CAST(l_tax AS DOUBLE) * 100 AS x1
         |  FROM lineitem)
         |${conds.mkString("\nUNION ALL\n")}""".stripMargin
    },

    // deterministic canopy sweep replayed as a recursive CTE: iteration r
    // appends the first point (stable rid order) surviving
    // (d > 1e-6 AND d >= T2) against every selected center; stops when no
    // survivor remains or at maxIter. n_members = center + strict members.
    "q_canopy_sweep" ->
      """WITH RECURSIVE x AS (
        |  SELECT row_number() OVER (ORDER BY l_orderkey, l_linenumber) AS rid,
        |         CAST(l_quantity AS DOUBLE) AS x0, CAST(l_tax AS DOUBLE)*100 AS x1
        |  FROM lineitem),
        |sel(iter, centers) AS (
        |  SELECT 0, CAST([] AS STRUCT(a DOUBLE, b DOUBLE)[])
        |  UNION ALL
        |  SELECT iter + 1,
        |    list_append(centers, (
        |      SELECT {'a': x0, 'b': x1} FROM x
        |      WHERE len(list_filter(sel.centers, c ->
        |        NOT (sqrt((x0-c.a)*(x0-c.a) + (x1-c.b)*(x1-c.b)) > 1e-6
        |         AND sqrt((x0-c.a)*(x0-c.a) + (x1-c.b)*(x1-c.b)) >= 10.0))) = 0
        |      ORDER BY rid LIMIT 1))
        |  FROM sel
        |  WHERE iter < 50 AND EXISTS (
        |      SELECT 1 FROM x
        |      WHERE len(list_filter(sel.centers, c ->
        |        NOT (sqrt((x0-c.a)*(x0-c.a) + (x1-c.b)*(x1-c.b)) > 1e-6
        |         AND sqrt((x0-c.a)*(x0-c.a) + (x1-c.b)*(x1-c.b)) >= 10.0))) = 0)
        |),
        |cent AS (
        |  SELECT c.a AS ca, c.b AS cb
        |  FROM (SELECT centers FROM sel ORDER BY iter DESC LIMIT 1) t,
        |       UNNEST(t.centers) AS u(c))
        |SELECT round(ca, 6) AS c0, round(cb, 6) AS c1,
        |  CAST(1 + (SELECT count(*) FROM x
        |        WHERE sqrt((x.x0-ca)*(x.x0-ca) + (x.x1-cb)*(x.x1-cb)) > 1e-6
        |          AND sqrt((x.x0-ca)*(x.x0-ca) + (x.x1-cb)*(x.x1-cb)) < 20.0)
        |    AS INTEGER) AS n_members
        |FROM cent""".stripMargin,

    // same recursive sweep as q_canopy_sweep, then the exploded strict
    // assignment (1e-6 < d < T1) against the selected centers with
    // canopy_id = selection index — the complete-pipeline oracle.
    "q_canopy_full" ->
      """WITH RECURSIVE x AS (
        |  SELECT l_orderkey, l_linenumber,
        |         row_number() OVER (ORDER BY l_orderkey, l_linenumber) AS rid,
        |         CAST(l_quantity AS DOUBLE) AS x0, CAST(l_tax AS DOUBLE)*100 AS x1
        |  FROM lineitem),
        |sel(iter, centers) AS (
        |  SELECT 0, CAST([] AS STRUCT(a DOUBLE, b DOUBLE)[])
        |  UNION ALL
        |  SELECT iter + 1,
        |    list_append(centers, (
        |      SELECT {'a': x0, 'b': x1} FROM x
        |      WHERE len(list_filter(sel.centers, c ->
        |        NOT (sqrt((x0-c.a)*(x0-c.a) + (x1-c.b)*(x1-c.b)) > 1e-6
        |         AND sqrt((x0-c.a)*(x0-c.a) + (x1-c.b)*(x1-c.b)) >= 10.0))) = 0
        |      ORDER BY rid LIMIT 1))
        |  FROM sel
        |  WHERE iter < 50 AND EXISTS (
        |      SELECT 1 FROM x
        |      WHERE len(list_filter(sel.centers, c ->
        |        NOT (sqrt((x0-c.a)*(x0-c.a) + (x1-c.b)*(x1-c.b)) > 1e-6
        |         AND sqrt((x0-c.a)*(x0-c.a) + (x1-c.b)*(x1-c.b)) >= 10.0))) = 0)
        |),
        |cent AS (
        |  -- constant-bound range + filter: DuckDB's generate_series takes
        |  -- no lateral column parameters; 51 = maxIter + 1
        |  SELECT g.i - 1 AS canopy_id, t.centers[g.i].a AS ca, t.centers[g.i].b AS cb
        |  FROM (SELECT centers FROM sel ORDER BY iter DESC LIMIT 1) t,
        |       range(1, 51) AS g(i)
        |  WHERE g.i <= len(t.centers))
        |SELECT x.l_orderkey, x.l_linenumber, cent.canopy_id,
        |  round(cent.ca, 6) AS c0, round(cent.cb, 6) AS c1
        |FROM x, cent
        |WHERE sqrt((x.x0-cent.ca)*(x.x0-cent.ca) + (x.x1-cent.cb)*(x.x1-cent.cb)) > 1e-6
        |  AND sqrt((x.x0-cent.ca)*(x.x0-cent.ca) + (x.x1-cent.cb)*(x.x1-cent.cb)) < 20.0""".stripMargin,

    "q_apriori" ->
      """WITH it AS (SELECT DISTINCT l_orderkey,
        |    'i' || CAST(l_partkey % 12 AS VARCHAR) AS item FROM lineitem),
        |n AS (SELECT COUNT(DISTINCT l_orderkey) AS total FROM lineitem),
        |i1 AS (SELECT item, COUNT(*) AS c FROM it GROUP BY item),
        |i2 AS (SELECT a.item AS ia, b.item AS ib, COUNT(*) AS c
        |       FROM it a JOIN it b ON a.l_orderkey = b.l_orderkey AND a.item < b.item
        |       GROUP BY a.item, b.item),
        |f1 AS (SELECT item, c, c / CAST(total AS DOUBLE) AS sup FROM i1, n
        |       WHERE c / CAST(total AS DOUBLE) >= 0.05),
        |f2 AS (SELECT ia, ib, c, c / CAST(total AS DOUBLE) AS sup FROM i2, n
        |       WHERE c / CAST(total AS DOUBLE) >= 0.05),
        |r2 AS (
        |  SELECT f2.ia || ',' || f2.ib AS item_set, f2.c AS count, f2.sup AS support,
        |         f2.c / CAST(sb.c AS DOUBLE) AS confidence,
        |         f2.c / CAST(sb.c AS DOUBLE) / sa.sup AS lift,
        |         f2.ia AS prefix, f2.ib AS suffix
        |  FROM f2 JOIN f1 sb ON sb.item = f2.ib JOIN f1 sa ON sa.item = f2.ia
        |  UNION ALL
        |  SELECT f2.ib || ',' || f2.ia, f2.c, f2.sup,
        |         f2.c / CAST(sa.c AS DOUBLE),
        |         f2.c / CAST(sa.c AS DOUBLE) / sb.sup,
        |         f2.ib, f2.ia
        |  FROM f2 JOIN f1 sb ON sb.item = f2.ib JOIN f1 sa ON sa.item = f2.ia)
        |SELECT item_set, CAST(count AS INTEGER) AS count, round(support, 6) AS support,
        |  round(confidence, 6) AS confidence, round(lift, 6) AS lift, prefix, suffix
        |FROM (
        |  SELECT item AS item_set, c AS count, sup AS support, sup AS confidence,
        |    CAST(1.0 AS DOUBLE) AS lift, '' AS prefix, '' AS suffix FROM f1
        |  UNION ALL SELECT * FROM r2)
        |WHERE confidence >= 0.1 AND lift >= 1.0""".stripMargin,

    // Truncated-enumeration replay: baskets = first 20 SORTED distinct
    // items per customer (list_sort + slice = the transform's
    // sorted-concat + take(20)), then the same singles/pairs rule
    // generation as q_apriori's oracle.
    "q_apriori_levelwise" ->
      """WITH li AS (SELECT o.o_custkey AS ck,
        |    'i' || CAST(l.l_partkey % 60 AS VARCHAR) AS item
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |bk AS (SELECT ck, (list_sort(list(DISTINCT item)))[1:20] AS items
        |       FROM li GROUP BY ck),
        |it AS (SELECT ck, unnest(items) AS item FROM bk),
        |n AS (SELECT count(*) AS total FROM bk),
        |i1 AS (SELECT item, COUNT(*) AS c FROM it GROUP BY item),
        |i2 AS (SELECT a.item AS ia, b.item AS ib, COUNT(*) AS c
        |       FROM it a JOIN it b ON a.ck = b.ck AND a.item < b.item
        |       GROUP BY a.item, b.item),
        |f1 AS (SELECT item, c, c / CAST(total AS DOUBLE) AS sup FROM i1, n
        |       WHERE c / CAST(total AS DOUBLE) >= 0.15),
        |f2 AS (SELECT ia, ib, c, c / CAST(total AS DOUBLE) AS sup FROM i2, n
        |       WHERE c / CAST(total AS DOUBLE) >= 0.15),
        |r2 AS (
        |  SELECT f2.ia || ',' || f2.ib AS item_set, f2.c AS count, f2.sup AS support,
        |         f2.c / CAST(sb.c AS DOUBLE) AS confidence,
        |         f2.c / CAST(sb.c AS DOUBLE) / sa.sup AS lift,
        |         f2.ia AS prefix, f2.ib AS suffix
        |  FROM f2 JOIN f1 sb ON sb.item = f2.ib JOIN f1 sa ON sa.item = f2.ia
        |  UNION ALL
        |  SELECT f2.ib || ',' || f2.ia, f2.c, f2.sup,
        |         f2.c / CAST(sa.c AS DOUBLE),
        |         f2.c / CAST(sa.c AS DOUBLE) / sb.sup,
        |         f2.ib, f2.ia
        |  FROM f2 JOIN f1 sb ON sb.item = f2.ib JOIN f1 sa ON sa.item = f2.ia)
        |SELECT item_set, CAST(count AS INTEGER) AS count, round(support, 6) AS support,
        |  round(confidence, 6) AS confidence, round(lift, 6) AS lift, prefix, suffix
        |FROM (
        |  SELECT item AS item_set, c AS count, sup AS support, sup AS confidence,
        |    CAST(1.0 AS DOUBLE) AS lift, '' AS prefix, '' AS suffix FROM f1
        |  UNION ALL SELECT * FROM r2)
        |WHERE confidence >= 0.2 AND lift >= 1.0""".stripMargin,

    "q_fcm_fit" -> {
      val c0 = fcmFitInit.zipWithIndex.flatMap { case (c, i) =>
        c.zipWithIndex.map { case (v, j) => s"CAST($v AS DOUBLE) AS c${i}_$j" }
      }.mkString(", ")
      fcmFitOracle(
        xCte = """  SELECT row_number() OVER () AS rid,
          |    l_quantity / 50 AS x0, l_discount * 10 AS x1, l_tax * 10 AS x2
          |  FROM lineitem""".stripMargin,
        c0Cte = s"c0 AS (SELECT $c0)",
        k = fcmFitInit.length, dim = fcmFitInit(0).length, iters = 10, tol = 1e-4)
    },

    // hash-sample init: c0 = the 3 rows with smallest 60-bit md5(id)
    // (ties by id) — the engine-reproducible form of "sample k rows",
    // then the identical unrolled rounds
    "q_fcm_fit_hash" -> {
      val k = 3; val dim = 3
      val agg = (0 until k).flatMap(i => (0 until dim).map(j =>
        s"max(CASE WHEN rn = ${i + 1} THEN x$j END) AS c${i}_$j")).mkString(",\n    ")
      fcmFitOracle(
        xCte = """  SELECT row_number() OVER () AS rid,
          |    l_orderkey * 10 + l_linenumber AS id,
          |    l_quantity / 50 AS x0, l_discount * 10 AS x1, l_tax * 10 AS x2
          |  FROM lineitem""".stripMargin,
        c0Cte = s"""c0 AS (SELECT
          |    $agg
          |  FROM (SELECT x0, x1, x2, row_number() OVER (
          |      ORDER BY ('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 15))::BIGINT, id) AS rn
          |    FROM x) WHERE rn <= $k)""".stripMargin,
        k = k, dim = dim, iters = 10, tol = 1e-4)
    },

    // deterministic k-means: same md5 smallest-k init replay as
    // q_fcm_fit_hash, then unrolled Lloyd's rounds with decimal means
    // the q_rand_proj replay (pivoted to x0..x3) feeding the unrolled
    // kmeans fit, with the final select swapped for the per-cluster
    // balanced take (row_number over the takeStratified hash order)
    "q_cluster_balance" -> {
      val k = 6; val dim = 4
      val agg = (0 until k).flatMap(i => (0 until dim).map(j =>
        s"max(CASE WHEN rn = ${i + 1} THEN x$j END) AS c${i}_$j")).mkString(",\n    ")
      val pivot = (0 until dim).map(j =>
        s"max(CASE WHEN j = $j THEN v END) AS x$j").mkString(", ")
      kmeansFitOracle(
        xCte = s"""  SELECT row_number() OVER (ORDER BY vec_id) AS rid,
          |    vec_id AS id, $pivot
          |  FROM (
          |    SELECT f.vec_id, m.j,
          |      round(0.5 * list_reduce(list_prepend(CAST(0 AS DOUBLE),
          |        list(m.s * f.x ORDER BY f.i)), (a, x) -> a + x), 6) AS v
          |    FROM (SELECT vec_id, i,
          |        CAST(list_extract(embedding, CAST(i + 1 AS INTEGER)) AS DOUBLE) AS x
          |      FROM embeddings, range(64) ti(i)) f
          |    JOIN (SELECT j, i,
          |        CASE WHEN ('0x' || substr(md5('rp_4_' || CAST(j AS VARCHAR) ||
          |            '_' || CAST(i AS VARCHAR)), 1, 15))::BIGINT % 2 = 0
          |          THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END AS s
          |      FROM range($dim) tj(j), range(64) ti(i)) m ON m.i = f.i
          |    GROUP BY f.vec_id, m.j)
          |  GROUP BY vec_id""".stripMargin,
        c0Cte = s"""c0 AS (SELECT
          |    $agg
          |  FROM (SELECT x0, x1, x2, x3, row_number() OVER (
          |      ORDER BY ('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 15))::BIGINT, id) AS rn
          |    FROM x) WHERE rn <= $k)""".stripMargin,
        k = k, dim = dim, iters = 4,
        finalOverride = """SELECT CAST(id AS BIGINT) AS vec_id,
          |  CAST(cl AS INTEGER) AS cluster_id
          |FROM (SELECT x.id, af.cl, row_number() OVER (PARTITION BY af.cl
          |    ORDER BY ('0x' || substr(md5(CAST(x.id AS VARCHAR)), 1, 15))::BIGINT
          |      % 1000000, x.id) AS rk
          |  FROM af JOIN x ON af.rid = x.rid)
          |WHERE rk <= 20""".stripMargin)
    },

    "q_kmeans" -> {
      val k = 4; val dim = 3
      val agg = (0 until k).flatMap(i => (0 until dim).map(j =>
        s"max(CASE WHEN rn = ${i + 1} THEN x$j END) AS c${i}_$j")).mkString(",\n    ")
      kmeansFitOracle(
        xCte = """  SELECT row_number() OVER () AS rid,
          |    l_orderkey * 10 + l_linenumber AS id,
          |    l_quantity / 50 AS x0, l_discount * 10 AS x1, l_tax * 10 AS x2
          |  FROM lineitem""".stripMargin,
        c0Cte = s"""c0 AS (SELECT
          |    $agg
          |  FROM (SELECT x0, x1, x2, row_number() OVER (
          |      ORDER BY ('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 15))::BIGINT, id) AS rn
          |    FROM x) WHERE rn <= $k)""".stripMargin,
        k = k, dim = dim, iters = 8)
    },

    // canopy->FCM composition: the deterministic ordered sweep (same
    // recursive-CTE shape as q_canopy_sweep, here in 3 dims with T2=0.3
    // and k capped at 4) yields c0, then the identical unrolled-FCM rounds
    "q_canopy_fcm" -> {
      val k = 4; val dim = 3; val t2 = 0.3
      val d = (0 until dim).map(j => s"(x$j-c.f$j)*(x$j-c.f$j)").mkString(" + ")
      val surv = s"len(list_filter(sw.centers, c -> " +
        s"NOT (sqrt($d) > 1e-6 AND sqrt($d) >= $t2))) = 0"
      val structT = (0 until dim).map(j => s"f$j DOUBLE").mkString(", ")
      val structV = (0 until dim).map(j => s"'f$j': x$j").mkString(", ")
      val c0cols = (0 until k).flatMap(i => (0 until dim).map(j =>
        s"centers[${i + 1}].f$j AS c${i}_$j")).mkString(",\n    ")
      fcmFitOracle(
        xCte = """  SELECT row_number() OVER (ORDER BY l_orderkey, l_linenumber) AS rid,
          |    l_quantity / 50 AS x0, l_discount * 10 AS x1, l_tax * 10 AS x2
          |  FROM lineitem""".stripMargin,
        c0Cte = s"""c0 AS (SELECT
          |    $c0cols
          |  FROM (SELECT centers FROM sw ORDER BY iter DESC LIMIT 1) t)""".stripMargin,
        k = k, dim = dim, iters = 10, tol = 1e-4,
        recursive = true,
        preC0Ctes = s"""sw(iter, centers) AS (
          |  SELECT 0, CAST([] AS STRUCT($structT)[])
          |  UNION ALL
          |  SELECT iter + 1,
          |    list_append(centers, (
          |      SELECT {$structV} FROM x
          |      WHERE $surv
          |      ORDER BY rid LIMIT 1))
          |  FROM sw
          |  WHERE iter < $k AND EXISTS (SELECT 1 FROM x WHERE $surv)
          |)""".stripMargin)
    },

    "q_online_ahp" -> {
      val j = onlineAhpW
      s"""WITH x AS (
         |  SELECT event_id, CAST(value AS DOUBLE) AS x0,
         |    CAST(user_id % 100 AS DOUBLE) AS x1, CAST(event_id % 50 AS DOUBLE) AS x2,
         |    (epoch_ms(ts) // $onlineWindowMs) * $onlineWindowMs AS ws
         |  FROM events),
         |s1 AS (SELECT ws, min(x0) AS mn0, max(x0) AS mx0, min(x1) AS mn1,
         |              max(x1) AS mx1, min(x2) AS mn2, max(x2) AS mx2
         |       FROM x GROUP BY ws),
         |nrm AS (
         |  SELECT x.event_id, x.ws,
         |    (x0 - mn0) / (mx0 - mn0) AS n0, (mx1 - x1) / (mx1 - mn1) AS n1,
         |    (x2 - mn2) / (mx2 - mn2) AS n2
         |  FROM x JOIN s1 ON x.ws = s1.ws),
         |s2 AS (SELECT ws, sum(n0) AS t0, sum(n1) AS t1, sum(n2) AS t2,
         |   sum(CASE WHEN n0 > 0 THEN n0*ln(n0) ELSE 0 END) AS e0,
         |   sum(CASE WHEN n1 > 0 THEN n1*ln(n1) ELSE 0 END) AS e1,
         |   sum(CASE WHEN n2 > 0 THEN n2*ln(n2) ELSE 0 END) AS e2
         |  FROM nrm GROUP BY ws),
         |d AS (SELECT ws,
         |  1 - (-(1.0/ln(3)) * (e0/t0 - ln(t0))) AS d0,
         |  1 - (-(1.0/ln(3)) * (e1/t1 - ln(t1))) AS d1,
         |  1 - (-(1.0/ln(3)) * (e2/t2 - ln(t2))) AS d2
         |  FROM s2)
         |SELECT nrm.event_id,
         |  round(n0 * ${j(0)} * (d0/(d0+d1+d2)) + n1 * ${j(1)} * (d1/(d0+d1+d2))
         |      + n2 * ${j(2)} * (d2/(d0+d1+d2)), 6) AS score
         |FROM nrm JOIN d ON nrm.ws = d.ws""".stripMargin
    },

    // the batch q_online_ahp oracle with tms carried through instead of
    // event_id — the stream's ScoredRow output shape
    "q_online_ahp_stream" -> {
      val j = onlineAhpW
      s"""WITH x AS (
         |  SELECT event_id, epoch_ms(ts) AS tms, CAST(value AS DOUBLE) AS x0,
         |    CAST(user_id % 100 AS DOUBLE) AS x1, CAST(event_id % 50 AS DOUBLE) AS x2,
         |    (epoch_ms(ts) // $onlineWindowMs) * $onlineWindowMs AS ws
         |  FROM events),
         |s1 AS (SELECT ws, min(x0) AS mn0, max(x0) AS mx0, min(x1) AS mn1,
         |              max(x1) AS mx1, min(x2) AS mn2, max(x2) AS mx2
         |       FROM x GROUP BY ws),
         |nrm AS (
         |  SELECT x.tms, x.ws,
         |    (x0 - mn0) / (mx0 - mn0) AS n0, (mx1 - x1) / (mx1 - mn1) AS n1,
         |    (x2 - mn2) / (mx2 - mn2) AS n2
         |  FROM x JOIN s1 ON x.ws = s1.ws),
         |s2 AS (SELECT ws, sum(n0) AS t0, sum(n1) AS t1, sum(n2) AS t2,
         |   sum(CASE WHEN n0 > 0 THEN n0*ln(n0) ELSE 0 END) AS e0,
         |   sum(CASE WHEN n1 > 0 THEN n1*ln(n1) ELSE 0 END) AS e1,
         |   sum(CASE WHEN n2 > 0 THEN n2*ln(n2) ELSE 0 END) AS e2
         |  FROM nrm GROUP BY ws),
         |d AS (SELECT ws,
         |  1 - (-(1.0/ln(3)) * (e0/t0 - ln(t0))) AS d0,
         |  1 - (-(1.0/ln(3)) * (e1/t1 - ln(t1))) AS d1,
         |  1 - (-(1.0/ln(3)) * (e2/t2 - ln(t2))) AS d2
         |  FROM s2)
         |SELECT nrm.tms,
         |  round(n0 * ${j(0)} * (d0/(d0+d1+d2)) + n1 * ${j(1)} * (d1/(d0+d1+d2))
         |      + n2 * ${j(2)} * (d2/(d0+d1+d2)), 6) AS score
         |FROM nrm JOIN d ON nrm.ws = d.ws""".stripMargin
    },

    "q_online_ahp_sliding" -> {
      val j = onlineAhpW
      val day = 86400000L
      s"""WITH x0 AS (
         |  SELECT event_id, CAST(value AS DOUBLE) AS x0,
         |    CAST(user_id % 100 AS DOUBLE) AS x1, CAST(event_id % 50 AS DOUBLE) AS x2,
         |    epoch_ms(ts) AS tms
         |  FROM events),
         |x AS (
         |  SELECT event_id, x0, x1, x2, unnest(range(
         |    (tms // $day) * $day - $onlineWindowMs + $day,
         |    (tms // $day) * $day + 1, $day)) AS ws
         |  FROM x0),
         |s1 AS (SELECT ws, min(x0) AS mn0, max(x0) AS mx0, min(x1) AS mn1,
         |              max(x1) AS mx1, min(x2) AS mn2, max(x2) AS mx2
         |       FROM x GROUP BY ws),
         |nrm AS (
         |  SELECT x.event_id, x.ws,
         |    (x0 - mn0) / (mx0 - mn0) AS n0, (mx1 - x1) / (mx1 - mn1) AS n1,
         |    (x2 - mn2) / (mx2 - mn2) AS n2
         |  FROM x JOIN s1 ON x.ws = s1.ws),
         |s2 AS (SELECT ws, sum(n0) AS t0, sum(n1) AS t1, sum(n2) AS t2,
         |   sum(CASE WHEN n0 > 0 THEN n0*ln(n0) ELSE 0 END) AS e0,
         |   sum(CASE WHEN n1 > 0 THEN n1*ln(n1) ELSE 0 END) AS e1,
         |   sum(CASE WHEN n2 > 0 THEN n2*ln(n2) ELSE 0 END) AS e2
         |  FROM nrm GROUP BY ws),
         |d AS (SELECT ws,
         |  1 - (-(1.0/ln(3)) * (e0/t0 - ln(t0))) AS d0,
         |  1 - (-(1.0/ln(3)) * (e1/t1 - ln(t1))) AS d1,
         |  1 - (-(1.0/ln(3)) * (e2/t2 - ln(t2))) AS d2
         |  FROM s2)
         |SELECT nrm.event_id, nrm.ws AS window_start,
         |  round(n0 * ${j(0)} * (d0/(d0+d1+d2)) + n1 * ${j(1)} * (d1/(d0+d1+d2))
         |      + n2 * ${j(2)} * (d2/(d0+d1+d2)), 6) AS score
         |FROM nrm JOIN d ON nrm.ws = d.ws""".stripMargin
    },

    "q_sessionize" ->
      """WITH e AS (SELECT event_id, user_id, epoch_ms(ts) AS tms,
        |    CAST(value AS DOUBLE) AS v FROM events),
        |g AS (SELECT *, CASE WHEN tms - lag(tms) OVER w > 3600000
        |         OR lag(tms) OVER w IS NULL THEN 1 ELSE 0 END AS brk
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tms)),
        |s AS (SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY tms
        |        ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_id FROM g)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  max(tms) - min(tms) AS duration_ms,
        |  CAST(round(sum(CAST(v AS DECIMAL(18,6))), 4) AS DOUBLE) AS value_sum
        |FROM s GROUP BY user_id, session_id""".stripMargin,

    // same session identification as q_sessionize; the stream emits
    // (start, end = last + gap) per closed session instead of ids
    "q_sessionize_stream" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS tms FROM events),
        |g AS (SELECT *, CASE WHEN tms - lag(tms) OVER w > 3600000
        |         OR lag(tms) OVER w IS NULL THEN 1 ELSE 0 END AS brk
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tms)),
        |s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY tms
        |        ROWS UNBOUNDED PRECEDING) AS session_id FROM g)
        |SELECT user_id, min(tms) AS session_start,
        |  max(tms) + 3600000 AS session_end, count(*) AS n_events,
        |  max(tms) - min(tms) AS duration_ms
        |FROM s GROUP BY user_id, session_id""".stripMargin,

    "q_normalize" ->
      """SELECT doc_id, norm_text,
        |  CAST(length(norm_text) AS BIGINT) AS n_chars_norm
        |FROM (SELECT doc_id, lower(trim(regexp_replace(
        |    regexp_replace(text, '[\x00-\x1f\x7f]', ' ', 'g'),
        |    '\s+', ' ', 'g'))) AS norm_text FROM documents)""".stripMargin,

    // the whole v10 composition from ground truth: the robots CASE table
    // selects surviving rows; clean text = lang + newline + sanitized
    // body + planted decomposed-é tail (extraction replay, line-aware);
    // the key is DuckDB's own md5(nfc_normalize(...)) — the NFC step is
    // load-bearing (the planted e+COMBINING ACUTE must compose)
    "q_curate10" ->
      """WITH rows_kept AS (
        |  SELECT doc_id, lang, text,
        |    'example' || (doc_id % 50) || '.com' AS domain
        |  FROM documents WHERE text IS NOT NULL AND (
        |    (doc_id % 50) % 7 = 0
        |    OR (doc_id % 2 = 0 AND doc_id % 5 IN (1, 2))
        |    OR (doc_id % 2 = 1 AND doc_id % 5 <> 3))),
        |cleaned AS (
        |  SELECT doc_id, domain,
        |    lang || chr(10) || trim(regexp_replace(
        |      regexp_replace(text, '[<&\s\x00-\x1f\x7f]+', ' ', 'g')
        |        || ' e' || chr(769) || '-suffix "end"', ' +', ' ', 'g'))
        |      AS clean
        |  FROM rows_kept)
        |SELECT doc_id, domain,
        |  CAST(len(string_split_regex(lower(clean), '\s+')) AS BIGINT)
        |    AS n_tokens,
        |  md5(nfc_normalize(clean)) AS dedup_key
        |FROM cleaned""".stripMargin,

    // the whole v11 composition from ground truth: PSL/IDN domain CASE,
    // robots decision CASE (punycode domains have no robots row), the
    // q_curate10 clean-text ground truth with the decomposed-é plant,
    // then the q_source_cap sqrt-cap replay keyed on the PSL domain
    "q_curate11" ->
      """WITH kept AS (
        |  SELECT doc_id, lang, text,
        |    CASE WHEN doc_id % 17 = 0 THEN 'xn--bcher-kva.de'
        |         WHEN doc_id % 9 = 0
        |           THEN 'example' || (doc_id % 50) || '.aichi.jp'
        |         ELSE 'example' || (doc_id % 50) || '.com' END AS domain,
        |    CASE WHEN doc_id % 17 = 0 THEN true
        |         WHEN (doc_id % 50) % 7 = 0 THEN true
        |         WHEN doc_id % 2 = 0 THEN doc_id % 5 IN (1, 2)
        |         ELSE doc_id % 5 <> 3 END AS allowed
        |  FROM documents WHERE text IS NOT NULL),
        |p AS (
        |  SELECT doc_id, domain,
        |    lang || chr(10) || trim(regexp_replace(
        |      regexp_replace(text, '[<&\s\x00-\x1f\x7f]+', ' ', 'g')
        |        || ' e' || chr(769) || '-suffix "end"', ' +', ' ', 'g'))
        |      AS clean
        |  FROM kept WHERE allowed),
        |c AS (SELECT domain, count(*) AS n FROM p GROUP BY domain),
        |caps AS (SELECT domain, n,
        |    greatest(2, CAST(ceil(sqrt(n)) AS BIGINT)) AS cap FROM c),
        |r AS (SELECT p.doc_id, p.domain, p.clean, caps.cap, caps.n,
        |    row_number() OVER (PARTITION BY p.domain ORDER BY
        |      ('0x' || substr(md5(CAST(p.doc_id AS VARCHAR)), 1, 15))::BIGINT
        |        % 1000000, p.doc_id) AS rk
        |  FROM p JOIN caps USING (domain))
        |SELECT doc_id, domain,
        |  CAST(len(string_split_regex(lower(clean), '\s+')) AS BIGINT)
        |    AS n_tokens,
        |  md5(nfc_normalize(clean)) AS dedup_key
        |FROM r WHERE n <= cap OR rk <= cap""".stripMargin,

    // the RFC 9309 decision table from doc_id arithmetic: domains with
    // (doc_id%50)%7=0 have no robots (allowed); even domains run the
    // graftbot group (private* disallowed, /private/ok$ allowed by the
    // longer rule, /tmp/ disallowed, /pub untouched — the '*' group's
    // Disallow-/ must NOT leak in); odd domains run '*' (tmp closed,
    // /tmp/open reopened by the longer Allow)
    "q_robots_gate" ->
      """SELECT doc_id,
        |  'example' || (doc_id % 50) || '.com' AS domain,
        |  CASE
        |    WHEN (doc_id % 50) % 7 = 0 THEN true
        |    WHEN doc_id % 2 = 0 THEN
        |      (CASE WHEN doc_id % 5 IN (1, 2) THEN true ELSE false END)
        |    ELSE (CASE WHEN doc_id % 5 = 3 THEN false ELSE true END)
        |  END AS robots_allowed
        |FROM documents WHERE text IS NOT NULL""".stripMargin,

    // identical decisions to q_robots_gate by construction — the join
    // shape changes WHERE the rules live, never what they decide
    "q_robots_join" ->
      """SELECT doc_id,
        |  'example' || (doc_id % 50) || '.com' AS domain,
        |  CASE
        |    WHEN (doc_id % 50) % 7 = 0 THEN true
        |    WHEN doc_id % 2 = 0 THEN
        |      (CASE WHEN doc_id % 5 IN (1, 2) THEN true ELSE false END)
        |    ELSE (CASE WHEN doc_id % 5 = 3 THEN false ELSE true END)
        |  END AS robots_allowed
        |FROM documents WHERE text IS NOT NULL""".stripMargin,

    // DuckDB's own nfc_normalize — an INDEPENDENT Unicode implementation
    // agreeing with java.text.Normalizer, plus the md5 key on the
    // normalized bytes (the dedup-key unification this op exists for)
    "q_nfc_normalize" ->
      """SELECT doc_id,
        |  nfc_normalize(text || CASE
        |    WHEN doc_id % 4 = 0 THEN ' e' || chr(769)
        |    WHEN doc_id % 4 = 1 THEN ' ' || chr(233)
        |    WHEN doc_id % 4 = 2 THEN ' a' || chr(778)
        |    ELSE '' END) AS norm,
        |  md5(nfc_normalize(text || CASE
        |    WHEN doc_id % 4 = 0 THEN ' e' || chr(769)
        |    WHEN doc_id % 4 = 1 THEN ' ' || chr(233)
        |    WHEN doc_id % 4 = 2 THEN ' a' || chr(778)
        |    ELSE '' END)) AS dedup_key
        |FROM documents WHERE text IS NOT NULL""".stripMargin,

    "q_split" ->
      """SELECT doc_id, lang,
        |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM (SELECT doc_id, lang,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS b
        |  FROM documents)""".stripMargin,

    // The q_dedup_minhash cluster replay (recursive closure over verified
    // edges) + q_split's md5 bucket, keyed on the cluster id
    "q_split_leakfree" ->
      s"""WITH RECURSIVE $mhCandidateCtes,
         |$mhVerifiedEdgeCtes,
         |cl AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id
         |       FROM reach GROUP BY a),
         |asg AS (SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS cluster_id
         |        FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id)
         |SELECT doc_id, cluster_id,
         |  CASE WHEN bk < 80 THEN 'train' WHEN bk < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM (SELECT doc_id, cluster_id,
         |  ('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS bk
         |  FROM asg)""".stripMargin,

    // near-dup clusters exactly as q_dedup_minhash, quality exactly as
    // q_curate's filter formula, then one row_number per cluster ordered
    // by (quality desc, doc_id); docs in no verified pair are their own
    // singleton cluster via the left join + coalesce
    "q_dedup_keep_best" -> {
      val inList = TextAnalysis.stopwords("en").map(w => s"'$w'").mkString(", ")
      s"""WITH RECURSIVE $mhCandidateCtes,
         |$mhVerifiedEdgeCtes,
         |cl AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id
         |       FROM reach GROUP BY a),
         |d0 AS (SELECT doc_id, text, n_chars,
         |    string_split_regex(lower(text), '\\s+') AS w FROM documents),
         |q0 AS (SELECT doc_id,
         |    CAST(len(list_filter(w, t -> t IN ($inList))) AS DOUBLE) / greatest(len(w), 1) AS r_en,
         |    CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
         |      / greatest(length(text), 1) AS punct,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(w, t -> CAST(length(t) AS BIGINT))),
         |      (acc, x) -> acc + x) AS sumlen, CAST(len(w) AS DOUBLE) AS nw, n_chars AS nc
         |  FROM d0),
         |sc AS (SELECT doc_id,
         |    CAST(round((CASE WHEN nc BETWEEN 100 AND 20000 THEN 1.0 ELSE 0.3 END) * 0.3
         |      + (CASE WHEN punct <= 0.2 THEN 1.0 ELSE 0.4 END) * 0.25
         |      + (CASE WHEN sumlen / nw BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.5 END) * 0.25
         |      + (CASE WHEN r_en >= 0.01 THEN 1.0 ELSE 0.6 END) * 0.2, 4) AS DOUBLE) AS q
         |  FROM q0),
         |j AS (SELECT sc.doc_id, coalesce(cl.cluster_id, sc.doc_id) AS cluster_id, sc.q
         |      FROM sc LEFT JOIN cl ON sc.doc_id = cl.doc_id)
         |SELECT cluster_id, doc_id AS kept_doc_id, round(q, 4) AS quality
         |FROM (SELECT *, row_number() OVER (PARTITION BY cluster_id
         |        ORDER BY round(q, 4) DESC, doc_id) AS rn FROM j)
         |WHERE rn = 1""".stripMargin
    },

    // identical to the batch q_asof_join oracle — the stream must land on
    // the same matches once every left is finalized
    "q_asof_stream" ->
      """WITH p AS (SELECT event_id, user_id, epoch_ms(ts) AS tms,
        |    CAST(value AS DOUBLE) AS purchase_value
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, epoch_ms(ts) AS ctms,
        |    CAST(value AS DOUBLE) AS click_value
        |  FROM events WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id, p.tms, c.ctms AS click_tms, c.click_value
        |FROM p ASOF JOIN c ON p.user_id = c.user_id AND p.tms >= c.ctms
        |WHERE p.tms - c.ctms <= 86400000""".stripMargin,

    "q_online_topsis" ->
      s"""WITH $onlineTopsisCtes
         |SELECT x.event_id, round(sc.score, 6) AS score
         |FROM x JOIN sc ON x.ws = sc.ws""".stripMargin,

    // A5 gating oracle: per-window model records (timestamp = window end-1,
    // minTimestamp = min event ts) range-joined back to events; earliest
    // suitable model wins, unmatched events get a null score
    "q_model_gate" ->
      s"""WITH $onlineTopsisCtes,
         |mn AS (SELECT ws, min(tms) AS mnts FROM x GROUP BY ws),
         |models AS (SELECT sc.ws, sc.ws + $onlineWindowMs - 1 AS mts, mn.mnts, sc.score
         |           FROM sc JOIN mn ON sc.ws = mn.ws),
         |j AS (SELECT x.event_id, m.score,
         |        row_number() OVER (PARTITION BY x.event_id ORDER BY m.mts ASC) AS rn
         |      FROM x LEFT JOIN models m
         |        ON x.tms - 86400000 >= m.mnts AND x.tms - 86400000 <= m.mts)
         |SELECT event_id, round(score, 6) AS score FROM j WHERE rn = 1""".stripMargin,

    "q_dedup_exact" ->
      """SELECT min(doc_id) AS doc_id FROM documents
        |GROUP BY array_to_string(list_slice(string_split_regex(lower(text), '\s+'), 1, 3), ' ')""".stripMargin,

    "q_boilerplate" ->
      """WITH l AS (SELECT doc_id,
        |    unnest(string_split(text, ' the ')) AS line,
        |    unnest(generate_series(1, len(string_split(text, ' the ')))) AS pos
        |  FROM documents),
        |hot AS (SELECT line FROM (SELECT line, count(DISTINCT doc_id) AS nd
        |                          FROM l GROUP BY line) WHERE nd >= 3),
        |k AS (SELECT doc_id, line, pos, line IN (SELECT line FROM hot) AS ishot FROM l)
        |SELECT doc_id,
        |  substr(string_agg(line, ' the ' ORDER BY pos) FILTER (WHERE NOT ishot), 1, 60) AS head,
        |  CAST(count(*) FILTER (WHERE NOT ishot) AS BIGINT) AS n_lines_kept,
        |  CAST(count(*) FILTER (WHERE ishot) AS BIGINT) AS n_lines_removed
        |FROM k GROUP BY doc_id HAVING count(*) FILTER (WHERE NOT ishot) > 0""".stripMargin,

    // Replays the hash-TF inference exactly: bucket = md5(token) mod 512
    // (same 60-bit md5-prefix hash), weight = md5('w'||bucket) mod 2001 −
    // 1000 milli-units, margin = exact long sum / 1000 / n + bias — the
    // integer sum makes the double bit-identical, so the margin ships
    // UNROUNDED (a display round would re-introduce engine skew at
    // decimal .5 boundaries, which the exact rational hits routinely).
    "q_quality_clf" ->
      """WITH t AS (SELECT doc_id,
        |    unnest(string_split_regex(lower(text), '\s+')) AS tok FROM documents),
        |b AS (SELECT doc_id,
        |    ('0x' || substr(md5(tok), 1, 15))::BIGINT % 512 AS bk FROM t),
        |s AS (SELECT doc_id,
        |    SUM(('0x' || substr(md5('w' || bk), 1, 15))::BIGINT % 2001 - 1000) AS sm,
        |    count(*) AS n
        |  FROM b GROUP BY doc_id)
        |SELECT doc_id,
        |  CAST(sm AS DOUBLE) / 1000.0 / n + 0.1 AS margin,
        |  CAST(CAST(sm AS DOUBLE) / 1000.0 / n + 0.1 > 0 AS INT) AS label
        |FROM s""".stripMargin,

    // Replays DSIR end to end: same md5-mod-dim buckets, Laplace-smoothed
    // target/raw count ratio per bucket quantized by floor(x*1000 + 0.5)
    // to milli-units, per-doc EXACT long sum / 1000 / n in the kernel's
    // division order — margin ships unrounded (the long-sum trick).
    "q_dsir" ->
      s"""WITH $dsirCtes
         |SELECT doc_id, n AS n_tokens,
         |  CAST(sm AS DOUBLE) / 1000.0 / n AS log_importance,
         |  CAST(CAST(sm AS DOUBLE) / 1000.0 / n > 0 AS INT) AS selected
         |FROM s""".stripMargin,

    // the trainer replayed step by step (unrolled like q_fcm_fit): the
    // final weight table + the bias at bucket -1
    "q_lr_train" ->
      s"""WITH ${lrTrainCtes(lrIters)}
         |SELECT b AS bucket, wm AS weight_milli FROM w$lrIters
         |UNION ALL SELECT CAST(-1 AS BIGINT), bm FROM b$lrIters""".stripMargin,

    // the trained model applied back to the corpus: one more scoring
    // join off the final weight/bias tables, margin exactly the kernel's
    // (sm/1000)/n + bias/1000 double chain, pred = margin > 0
    "q_lr_predict" ->
      s"""WITH ${lrTrainCtes(lrIters)},
         |sf AS (SELECT tok.doc_id, CAST(sum(w$lrIters.wm) AS BIGINT) AS sm
         |  FROM tok JOIN w$lrIters ON tok.b = w$lrIters.b GROUP BY tok.doc_id)
         |SELECT sf.doc_id,
         |  (CAST(sf.sm AS DOUBLE) / 1000.0) / CAST(d.n AS DOUBLE)
         |    + CAST((SELECT bm FROM b$lrIters) AS DOUBLE) / 1000.0 AS margin,
         |  CAST((CAST(sf.sm AS DOUBLE) / 1000.0) / CAST(d.n AS DOUBLE)
         |    + CAST((SELECT bm FROM b$lrIters) AS DOUBLE) / 1000.0 > 0.0 AS INT) AS pred,
         |  dy.y AS y
         |FROM sf JOIN d USING (doc_id) JOIN dy ON sf.doc_id = dy.doc_id""".stripMargin,

    // The resampling half of Xie et al.: Efraimidis-Spirakis take with
    // weight exp(log_importance) — rank on the UNROUNDED score exactly
    // like q_weighted_take, round only outputs
    "q_dsir_resample" ->
      s"""WITH $dsirCtes,
         |li AS (SELECT doc_id, CAST(sm AS DOUBLE) / 1000.0 / n AS li FROM s)
         |SELECT doc_id, round(li, 6) AS log_importance, round(score, 6) AS sample_score
         |FROM (SELECT doc_id, li,
         |    ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
         |        % ${Dedup.P} + 1) / CAST(${Dedup.P} AS DOUBLE)) / exp(li) AS score
         |  FROM li)
         |ORDER BY score DESC, doc_id LIMIT 100""".stripMargin,

    // Replays the span pass exactly: same per-word md5 mod P, same
    // rolling combine (inlined for k=8), hot = span hash in >= 2 distinct
    // docs, covered token positions = union of [i, i+k) over hot windows,
    // docs rebuilt from uncovered tokens in order (empty docs vanish).
    "q_span_dedup" -> {
      val k = 8
      val rolled = (1 until k).foldLeft("wh[i]")((e, j) =>
        s"(($e) * ${Dedup.B} + wh[i+$j]) % ${Dedup.P}")
      s"""WITH w AS (SELECT doc_id,
         |    string_split_regex(lower(text), '\\s+') AS toks,
         |    list_transform(string_split_regex(lower(text), '\\s+'),
         |      t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % ${Dedup.P}) AS wh
         |  FROM documents),
         |wins AS (SELECT doc_id, unnest(generate_series(1, len(wh) - ${k - 1})) AS i, wh
         |  FROM w WHERE len(wh) >= $k),
         |sp AS (SELECT doc_id, i, $rolled AS h FROM wins),
         |hot AS (SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS nd FROM sp GROUP BY h)
         |        WHERE nd >= 2),
         |cov AS (SELECT DISTINCT sp.doc_id, sp.i + j.j AS p
         |        FROM sp JOIN hot USING (h),
         |             (SELECT unnest(generate_series(0, ${k - 1})) AS j) j),
         |tok AS (SELECT doc_id, unnest(toks) AS t,
         |        unnest(generate_series(1, len(toks))) AS p FROM w),
         |kept AS (SELECT tok.doc_id, tok.t, tok.p FROM tok
         |         LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.p = cov.p
         |         WHERE cov.p IS NULL)
         |SELECT kept.doc_id,
         |  substr(string_agg(kept.t, ' ' ORDER BY kept.p), 1, 60) AS head,
         |  CAST(count(*) AS BIGINT) AS n_tokens_kept,
         |  CAST(any_value(len(w.toks)) - count(*) AS BIGINT) AS n_tokens_removed
         |FROM kept JOIN w ON kept.doc_id = w.doc_id
         |GROUP BY kept.doc_id""".stripMargin
    },

    // q_span_dedup's coverage replay with the hot set swapped for the
    // benchmark's distinct 3-token span hashes
    "q_redact" -> {
      val k = 3
      val rolled = (1 until k).foldLeft("wh[i]")((e, j) =>
        s"(($e) * ${Dedup.B} + wh[i+$j]) % ${Dedup.P}")
      s"""WITH w AS (SELECT doc_id,
         |    string_split_regex(lower(text), '\\s+') AS toks,
         |    list_transform(string_split_regex(lower(text), '\\s+'),
         |      t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % ${Dedup.P}) AS wh
         |  FROM documents WHERE text IS NOT NULL),
         |wins AS (SELECT doc_id, unnest(generate_series(1, len(wh) - ${k - 1})) AS i, wh
         |  FROM w WHERE len(wh) >= $k),
         |sp AS (SELECT doc_id, i, $rolled AS h FROM wins),
         |hot AS (SELECT DISTINCT h FROM sp WHERE doc_id < 5),
         |cov AS (SELECT DISTINCT sp.doc_id, sp.i + j.j AS p
         |        FROM sp JOIN hot USING (h),
         |             (SELECT unnest(generate_series(0, ${k - 1})) AS j) j),
         |tok AS (SELECT doc_id, unnest(toks) AS t,
         |        unnest(generate_series(1, len(toks))) AS p FROM w),
         |kept AS (SELECT tok.doc_id, tok.t, tok.p FROM tok
         |         LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.p = cov.p
         |         WHERE cov.p IS NULL)
         |SELECT kept.doc_id,
         |  substr(string_agg(kept.t, ' ' ORDER BY kept.p), 1, 60) AS head,
         |  CAST(count(*) AS BIGINT) AS n_tokens_kept,
         |  CAST(any_value(len(w.toks)) - count(*) AS BIGINT) AS n_tokens_removed
         |FROM kept JOIN w ON kept.doc_id = w.doc_id
         |GROUP BY kept.doc_id""".stripMargin
    },

    // the shared hashed-3-gram shingle CTEs (h = DISTINCT (doc_id, hm)),
    // min-doc_id first-seen per shingle, per-doc novel fraction
    "q_novelty" ->
      s"""WITH $mhShingleCtes,
         |f AS (SELECT hm, min(doc_id) AS first_doc FROM h GROUP BY hm)
         |SELECT h.doc_id,
         |  count(*) AS n_shingles,
         |  CAST(sum(CASE WHEN f.first_doc = h.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
         |  round(CAST(sum(CASE WHEN f.first_doc = h.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
         |        / count(*), 6) AS novelty
         |FROM h JOIN f ON h.hm = f.hm
         |GROUP BY h.doc_id""".stripMargin,

    "q_minhash_pairs" ->
      s"""WITH $mhCandidateCtes
         |SELECT id_a, id_b FROM cand""".stripMargin,

    // full near-dup pipeline oracle: the same banded candidates, exact
    // Jaccard over the hashed 3-gram shingle sets (>= 0.8), then
    // connected components as a recursive transitive closure with min-id
    // labels — small by construction at oracle scale (dup groups are
    // tiny), while the Spark side runs union-find / label propagation
    "q_dedup_minhash" ->
      s"""WITH RECURSIVE $mhCandidateCtes,
         |$mhVerifiedEdgeCtes
         |SELECT a AS doc_id, least(a, min(b)) AS cluster_id
         |FROM reach GROUP BY a""".stripMargin,

    // incremental-index streaming replay: same banded-candidate + Jaccard
    // edge relation (sym), but the closure runs PER BATCH (doc_id % 3)
    // and the keep decision iterates batches in arrival order — batch-0
    // clusters keep their min id; later batches also drop any doc whose
    // edge reaches an earlier-batch survivor (the index match), and such
    // a match poisons the doc's whole within-batch cluster
    "q_index_stream" ->
      s"""WITH RECURSIVE ${mhShingleCtesFor(
             "(SELECT * FROM documents WHERE text IS NOT NULL)")},
         |$mhSigCandCtes,
         |$mhVerifiedEdgeCtes,
         |bat AS (SELECT doc_id, doc_id % 3 AS b FROM documents
         |        WHERE text IS NOT NULL),
         |symb AS (SELECT ba.b AS bt, s.a, s.b FROM sym s
         |         JOIN bat ba ON ba.doc_id = s.a
         |         JOIN bat bb ON bb.doc_id = s.b AND bb.b = ba.b),
         |reachb(bt, a, b) AS (
         |  SELECT bt, a, b FROM symb
         |  UNION
         |  SELECT r.bt, r.a, s.b FROM reachb r
         |  JOIN symb s ON s.bt = r.bt AND s.a = r.b WHERE s.b <> r.a),
         |cl AS (SELECT bt, a AS doc_id, least(a, min(b)) AS cid
         |       FROM reachb GROUP BY bt, a),
         |lab AS (SELECT ba.doc_id, ba.b, coalesce(cl.cid, ba.doc_id) AS cid
         |        FROM bat ba LEFT JOIN cl
         |          ON cl.doc_id = ba.doc_id AND cl.bt = ba.b),
         |kept0 AS (SELECT doc_id FROM lab WHERE b = 0 AND doc_id = cid),
         |m1 AS (SELECT DISTINCT l.doc_id FROM lab l
         |       JOIN sym s ON s.a = l.doc_id
         |       JOIN kept0 k ON k.doc_id = s.b WHERE l.b = 1),
         |p1 AS (SELECT DISTINCT l.cid FROM lab l
         |       JOIN m1 ON m1.doc_id = l.doc_id WHERE l.b = 1),
         |kept1 AS (SELECT doc_id FROM lab WHERE b = 1 AND doc_id = cid
         |          AND cid NOT IN (SELECT cid FROM p1)),
         |kept01 AS (SELECT doc_id FROM kept0
         |           UNION ALL SELECT doc_id FROM kept1),
         |m2 AS (SELECT DISTINCT l.doc_id FROM lab l
         |       JOIN sym s ON s.a = l.doc_id
         |       JOIN kept01 k ON k.doc_id = s.b WHERE l.b = 2),
         |p2 AS (SELECT DISTINCT l.cid FROM lab l
         |       JOIN m2 ON m2.doc_id = l.doc_id WHERE l.b = 2),
         |kept2 AS (SELECT doc_id FROM lab WHERE b = 2 AND doc_id = cid
         |          AND cid NOT IN (SELECT cid FROM p2))
         |SELECT l.doc_id, l.b AS batch FROM lab l
         |JOIN (SELECT doc_id FROM kept0 UNION ALL
         |      SELECT doc_id FROM kept1 UNION ALL
         |      SELECT doc_id FROM kept2) k ON k.doc_id = l.doc_id""".stripMargin,

    // same closure, but the Spark side is FORCED onto the distributed
    // label-propagation path — the oracle certifies the iterative
    // join+min rounds converge to exact min-reachable-id labels
    "q_cc" ->
      s"""WITH RECURSIVE $mhCandidateCtes,
         |$mhVerifiedEdgeCtes
         |SELECT a AS id, least(a, min(b)) AS cluster_id
         |FROM reach GROUP BY a""".stripMargin,

    "q_upsample" ->
      """WITH d AS (SELECT doc_id,
        |    CASE WHEN lang = 'en' THEN 2.5 WHEN lang = 'de' THEN 1.0 ELSE 0.3 END AS w,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000 AS b
        |  FROM documents),
        |c AS (SELECT doc_id,
        |    CAST(floor(w) AS BIGINT)
        |      + CASE WHEN b < (w - floor(w)) * 10000 THEN 1 ELSE 0 END AS n
        |  FROM d)
        |SELECT doc_id, unnest(range(0, n)) AS copy_id FROM c WHERE n > 0""".stripMargin,

    "q_token_budget" ->
      """WITH d AS (SELECT doc_id, source,
        |    CAST(len(string_split_regex(lower(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |        ROWS UNBOUNDED PRECEDING) AS cum FROM d)
        |SELECT doc_id, source, n_tokens FROM c WHERE cum <= 2000""".stripMargin,

    "q_decontaminate" ->
      s"""WITH $mhShingleCtes,
         |bench AS (SELECT DISTINCT hm FROM h WHERE doc_id < 5),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM h GROUP BY doc_id),
         |hits AS (SELECT h.doc_id, count(*) AS c
         |         FROM h JOIN bench ON h.hm = bench.hm GROUP BY h.doc_id)
         |SELECT d.doc_id,
         |  CAST(coalesce(s.sz, 0) AS INTEGER) AS n_shingles,
         |  CAST(coalesce(t.c, 0) AS INTEGER) AS n_contaminated,
         |  CASE WHEN coalesce(s.sz, 0) > 0
         |    THEN round(CAST(coalesce(t.c, 0) AS DOUBLE) / s.sz, 6) ELSE 0.0 END
         |    AS contamination
         |FROM documents d
         |LEFT JOIN sizes s ON s.doc_id = d.doc_id
         |LEFT JOIN hits t ON t.doc_id = d.doc_id""".stripMargin,

    // Same shingle relation h, reference = src0's distinct shingles;
    // LEFT JOINs keep zero-shingle docs at containment 0.0
    "q_containment" ->
      s"""WITH $mhShingleCtes,
         |ref AS (SELECT DISTINCT h.hm FROM h
         |  JOIN documents d ON d.doc_id = h.doc_id
         |  WHERE d.source = 'src0'),
         |sz AS (SELECT doc_id, count(*) AS sz FROM h GROUP BY doc_id),
         |sn AS (SELECT h.doc_id, count(*) AS c
         |  FROM h JOIN ref ON ref.hm = h.hm GROUP BY h.doc_id)
         |SELECT d.doc_id,
         |  CAST(coalesce(sz.sz, 0) AS BIGINT) AS n_shingles,
         |  CAST(coalesce(sn.c, 0) AS BIGINT) AS n_seen,
         |  CASE WHEN coalesce(sz.sz, 0) > 0
         |    THEN round(CAST(coalesce(sn.c, 0) AS DOUBLE) / sz.sz, 6)
         |    ELSE 0.0 END AS containment
         |FROM documents d
         |LEFT JOIN sz ON sz.doc_id = d.doc_id
         |LEFT JOIN sn ON sn.doc_id = d.doc_id
         |WHERE d.text IS NOT NULL""".stripMargin,

    // Replays the Bloom filter bit-for-bit: same shingle hashes (shared
    // CTE), same k=4 md5-derived positions over the same 4096-bit space —
    // so the oracle reproduces the filter's false positives exactly, not
    // just its true hits
    "q_bloom_decontam" ->
      s"""WITH $mhShingleCtes,
         |bs AS (SELECT DISTINCT hm FROM h WHERE doc_id < 5),
         |bits AS (SELECT DISTINCT
         |    ('0x' || substr(md5('bl' || r.i || '_' || CAST(hm AS VARCHAR)), 1, 15))::BIGINT
         |      % 4096 AS p
         |  FROM bs CROSS JOIN range(0, 4) AS r(i)),
         |pr AS (SELECT h.doc_id, h.hm, count(b.p) AS inb
         |  FROM h CROSS JOIN range(0, 4) AS r(i)
         |  LEFT JOIN bits b ON b.p =
         |    ('0x' || substr(md5('bl' || r.i || '_' || CAST(h.hm AS VARCHAR)), 1, 15))::BIGINT % 4096
         |  GROUP BY h.doc_id, h.hm),
         |sizes AS (SELECT doc_id, count(*) AS sz,
         |    sum(CASE WHEN inb = 4 THEN 1 ELSE 0 END) AS bh
         |  FROM pr GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CAST(coalesce(s.sz, 0) AS INTEGER) AS n_shingles,
         |  CAST(coalesce(s.bh, 0) AS INTEGER) AS n_bloom_hits,
         |  CASE WHEN coalesce(s.sz, 0) > 0
         |    THEN round(CAST(coalesce(s.bh, 0) AS DOUBLE) / s.sz, 6) ELSE 0.0 END
         |    AS bloom_frac,
         |  CAST(coalesce(s.bh, 0) > 0 AS INTEGER) AS flagged
         |FROM documents d LEFT JOIN sizes s ON s.doc_id = d.doc_id""".stripMargin,

    "q_simhash_pairs" -> {
      val bits = 60; val radius = 3; val bands = 4; val width = 15
      val bitSums = (0 until bits).map(j => s"sum((h >> $j) % 2 * 2 - 1) AS b$j").mkString(", ")
      val fp = (0 until bits).map(j =>
        s"CASE WHEN b$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END").mkString(" + ")
      val bandSelects = (0 until bands).map(b =>
        s"SELECT doc_id, fp, $b AS band, (fp >> ${b * width}) & ${(1L << width) - 1} AS bval FROM f")
        .mkString("\nUNION ALL\n")
      s"""WITH dw AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
         |  FROM documents),
         |tok AS (
         |  SELECT DISTINCT doc_id, unnest(list_distinct(
         |    list_transform(range(1, greatest(len(w) - 1, 1)),
         |      i -> array_to_string(list_slice(w, i, i + 2), ' ')))) AS t
         |  FROM dw),
         |h AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM tok),
         |s AS (SELECT doc_id, $bitSums FROM h GROUP BY doc_id),
         |f AS (SELECT doc_id, CAST($fp AS BIGINT) AS fp FROM s),
         |bands AS ($bandSelects)
         |SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
         |  CAST(bit_count(xor(l.fp, r.fp)) AS INTEGER) AS hamming
         |FROM bands l JOIN bands r
         |  ON l.band = r.band AND l.bval = r.bval AND l.doc_id < r.doc_id
         |WHERE bit_count(xor(l.fp, r.fp)) <= $radius""".stripMargin
    },

    "q_simhash" -> {
      val bitSums = (0 until 16).map(j => s"sum((h >> $j) % 2 * 2 - 1) AS b$j").mkString(", ")
      val fp = (0 until 16).map(j => s"CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")
      s"""WITH tok AS (
         |  SELECT DISTINCT doc_id, unnest(list_distinct(string_split_regex(lower(text), '\\s+'))) AS t
         |  FROM documents),
         |h AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM tok),
         |s AS (SELECT doc_id, $bitSums FROM h GROUP BY doc_id)
         |SELECT doc_id, CAST($fp AS BIGINT) AS simhash FROM s""".stripMargin
    },

    "q_jaccard_pairs" ->
      """WITH d AS (SELECT doc_id, list_distinct(string_split_regex(lower(text), '\s+')) AS w
        |           FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(CAST(len(list_intersect(a.w, b.w)) AS DOUBLE)
        |      / (len(a.w) + len(b.w) - len(list_intersect(a.w, b.w))), 6) AS jaccard
        |FROM d a JOIN d b ON b.doc_id = a.doc_id + 1""".stripMargin,

    "q_embed_outliers" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |x AS (SELECT label, unnest(v) AS x, unnest(generate_series(1, len(v))) AS dim FROM e),
        |m AS (SELECT label, dim, CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS m
        |      FROM x WHERE label IS NOT NULL AND x IS NOT NULL AND NOT isnan(x)
        |      GROUP BY 1, 2),
        |c AS (SELECT label, list(m ORDER BY dim) AS cent FROM m GROUP BY label)
        |SELECT vec_id, e.label,
        |  round(sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    list_transform(generate_series(1, len(v)),
        |      i -> (v[i] - cent[i]) * (v[i] - cent[i]))), (a, b) -> a + b)), 4) AS centroid_dist
        |FROM e JOIN c ON e.label = c.label""".stripMargin,

    "q_ann_topk" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
        |flat AS (
        |  SELECT q.qid, e.vec_id, unnest(q.qe) AS qa, unnest(e.embedding) AS ca
        |  FROM q, embeddings e WHERE e.vec_id <> q.qid),
        |s AS (SELECT qid, vec_id,
        |        sum(CAST(qa AS DOUBLE) * CAST(ca AS DOUBLE)) AS dot,
        |        sum(CAST(qa AS DOUBLE) * CAST(qa AS DOUBLE)) AS na,
        |        sum(CAST(ca AS DOUBLE) * CAST(ca AS DOUBLE)) AS nb
        |      FROM flat GROUP BY qid, vec_id),
        |sc AS (SELECT qid, vec_id, round(dot / (sqrt(na) * sqrt(nb)), 4) AS score,
        |         row_number() OVER (PARTITION BY qid
        |           ORDER BY round(dot / (sqrt(na) * sqrt(nb)), 4) DESC, vec_id) AS rank
        |       FROM s)
        |SELECT qid, vec_id, CAST(rank AS INTEGER) AS rank, score FROM sc WHERE rank <= 3""".stripMargin,

    // the q_ann_topk replay with the different-label gate in the flat join
    "q_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe, label AS ql
        |           FROM embeddings WHERE vec_id < 5),
        |flat AS (
        |  SELECT q.qid, e.vec_id, unnest(q.qe) AS qa, unnest(e.embedding) AS ca
        |  FROM q, embeddings e WHERE e.vec_id <> q.qid AND e.label <> q.ql),
        |s AS (SELECT qid, vec_id,
        |        sum(CAST(qa AS DOUBLE) * CAST(ca AS DOUBLE)) AS dot,
        |        sum(CAST(qa AS DOUBLE) * CAST(qa AS DOUBLE)) AS na,
        |        sum(CAST(ca AS DOUBLE) * CAST(ca AS DOUBLE)) AS nb
        |      FROM flat GROUP BY qid, vec_id),
        |sc AS (SELECT qid, vec_id, round(dot / (sqrt(na) * sqrt(nb)), 4) AS score,
        |         row_number() OVER (PARTITION BY qid
        |           ORDER BY round(dot / (sqrt(na) * sqrt(nb)), 4) DESC, vec_id) AS rank
        |       FROM s)
        |SELECT qid, vec_id, CAST(rank AS INTEGER) AS rank, score FROM sc WHERE rank <= 3""".stripMargin,

    // sign-LSH ANN: hyperplane components are md5-derived uniforms, so the
    // oracle recomputes the exact planes, buckets, and bucket-local top-k
    "q_ann_lsh" ->
      s"""WITH flat AS (
         |  SELECT vec_id, d, CAST(list_extract(embedding, CAST(d + 1 AS INTEGER)) AS DOUBLE) AS x
         |  FROM embeddings, range(64) td(d)),
         |planes AS (
         |  SELECT b, d,
         |    2.0 * (('0x' || substr(md5('hp_42_' || CAST(b AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 15))::BIGINT
         |      % ${Dedup.P}) / ${Dedup.P} - 1.0 AS w
         |  FROM range(8) tb(b), range(64) td(d)),
         |dots AS (
         |  SELECT f.vec_id, p.b, sum(f.x * p.w) AS dp
         |  FROM flat f JOIN planes p ON f.d = p.d
         |  GROUP BY f.vec_id, p.b),
         |sig AS (
         |  SELECT vec_id,
         |    sum(CASE WHEN dp >= 0 THEN CAST(1 AS BIGINT) << CAST(b AS INTEGER) ELSE 0 END) AS bucket
         |  FROM dots GROUP BY vec_id),
         |n2 AS (SELECT vec_id, sum(x * x) AS s FROM flat GROUP BY vec_id),
         |cand AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS vec_id
         |  FROM sig q JOIN sig c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
         |  WHERE q.vec_id < 5),
         |dp AS (
         |  SELECT cd.qid, cd.vec_id, sum(fa.x * fb.x) AS dot
         |  FROM cand cd
         |  JOIN flat fa ON fa.vec_id = cd.qid
         |  JOIN flat fb ON fb.vec_id = cd.vec_id AND fb.d = fa.d
         |  GROUP BY cd.qid, cd.vec_id),
         |sc AS (
         |  SELECT dp.qid, dp.vec_id, round(dp.dot / (sqrt(na.s) * sqrt(nb.s)), 4) AS score
         |  FROM dp JOIN n2 na ON na.vec_id = dp.qid JOIN n2 nb ON nb.vec_id = dp.vec_id),
         |rk AS (SELECT qid, vec_id, score,
         |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rank
         |  FROM sc)
         |SELECT qid, vec_id, CAST(rank AS INTEGER) AS rank, score FROM rk WHERE rank <= 3""".stripMargin,

    // multi-table embedding near-dup: bits-per-table auto-sizes from the
    // corpus count with the same formula as the Scala side; per-table
    // buckets, distinct candidate pairs, exact cosine verify
    "q_embed_neardup" ->
      s"""WITH nb AS (
         |  SELECT greatest(2, CAST(ceil(ln(greatest(1.0, count(*) / 256.0)) / ln(2)) AS INTEGER)) AS b
         |  FROM embeddings),
         |flat AS (
         |  SELECT vec_id, d, CAST(list_extract(embedding, CAST(d + 1 AS INTEGER)) AS DOUBLE) AS x
         |  FROM embeddings, range(64) td(d)),
         |planes AS (
         |  SELECT i, d,
         |    2.0 * (('0x' || substr(md5('hp_42_' || CAST(i AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 15))::BIGINT
         |      % ${Dedup.P}) / ${Dedup.P} - 1.0 AS w
         |  FROM range(62) ti(i), range(64) td(d), nb WHERE i < 4 * nb.b),
         |dots AS (
         |  SELECT f.vec_id, p.i, sum(f.x * p.w) AS dp
         |  FROM flat f JOIN planes p ON f.d = p.d
         |  GROUP BY f.vec_id, p.i),
         |sig AS (
         |  SELECT vec_id,
         |    sum(CASE WHEN dp >= 0 THEN CAST(1 AS BIGINT) << CAST(i AS INTEGER) ELSE 0 END) AS sig
         |  FROM dots GROUP BY vec_id),
         |buckets AS (
         |  SELECT vec_id,
         |    t * (CAST(1 AS BIGINT) << nb.b)
         |      + ((sig >> CAST(t * nb.b AS INTEGER)) & ((CAST(1 AS BIGINT) << nb.b) - 1)) AS bucket
         |  FROM sig, range(4) tt(t), nb),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
         |  FROM buckets a JOIN buckets c ON a.bucket = c.bucket AND a.vec_id < c.vec_id),
         |n2 AS (SELECT vec_id, sum(x * x) AS s FROM flat GROUP BY vec_id),
         |dp AS (
         |  SELECT cd.id_a, cd.id_b, sum(fa.x * fb.x) AS dot
         |  FROM cand cd
         |  JOIN flat fa ON fa.vec_id = cd.id_a
         |  JOIN flat fb ON fb.vec_id = cd.id_b AND fb.d = fa.d
         |  GROUP BY cd.id_a, cd.id_b)
         |SELECT dp.id_a, dp.id_b,
         |  round(dp.dot / (sqrt(na.s) * sqrt(nb2.s)), 4) AS cosine
         |FROM dp JOIN n2 na ON na.vec_id = dp.id_a JOIN n2 nb2 ON nb2.vec_id = dp.id_b
         |WHERE dp.dot / (sqrt(na.s) * sqrt(nb2.s)) >= 0.25""".stripMargin,

    // Replays SemDeDup exactly: k = ceil(n/256) hash-sampled centroids
    // (md5-prefix order, the KMeansDet init rule), nearest-centroid
    // assignment with (dist, cid) tie-break, within-cell max cosine to
    // any LOWER id (index-ordered list arithmetic on both engines),
    // kept = no lower neighbor at tau.
    "q_semdedup" -> {
      val tau = 0.2
      // least(..., 65536) mirrors semDedup's maxCentroids cap so the
      // replay stays exact past ~16.7M vectors at the default
      // targetClusterSize (the Spark side caps k there to bound the
      // O(k·d) centroid broadcast)
      s"""WITH nb AS (SELECT least(CAST(65536 AS BIGINT), greatest(CAST(2 AS BIGINT),
         |    CAST(ceil(count(*) / 256.0) AS BIGINT))) AS k FROM embeddings),
         |v AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |cent AS (SELECT cid, cv FROM (
         |    SELECT v AS cv, row_number() OVER (
         |        ORDER BY substr(md5(CAST(vec_id AS VARCHAR)), 1, 15), vec_id) - 1 AS cid
         |    FROM v) t, nb WHERE t.cid < nb.k),
         |d AS (SELECT v.vec_id, c.cid,
         |    list_sum(list_transform(range(1, 65),
         |      j -> (v.v[j] - c.cv[j]) * (v.v[j] - c.cv[j]))) AS dist
         |  FROM v CROSS JOIN cent c),
         |asg AS (SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         |    FROM d) WHERE rn = 1),
         |n2 AS (SELECT vec_id,
         |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM v),
         |p AS (SELECT hi.vec_id,
         |    max(list_sum(list_transform(range(1, 65), j -> va.v[j] * vb.v[j]))
         |        / (na.nrm * nb2.nrm)) AS mx
         |  FROM asg lo JOIN asg hi ON lo.cid = hi.cid AND lo.vec_id < hi.vec_id
         |  JOIN v va ON va.vec_id = lo.vec_id
         |  JOIN v vb ON vb.vec_id = hi.vec_id
         |  JOIN n2 na ON na.vec_id = lo.vec_id
         |  JOIN n2 nb2 ON nb2.vec_id = hi.vec_id
         |  GROUP BY hi.vec_id)
         |SELECT asg.vec_id, CAST(asg.cid AS INT) AS cluster_id,
         |  round(p.mx, 4) AS max_cos_lower,
         |  CAST(p.mx IS NULL OR p.mx < $tau AS INT) AS kept
         |FROM asg LEFT JOIN p ON asg.vec_id = p.vec_id""".stripMargin
    },

    // JL projection replayed exactly: md5-parity ±1 signs, the same
    // i-ascending left fold as the kernel (list ORDER BY i + list_reduce
    // — IEEE double adds in identical order are bit-equal), ×0.25 scale
    "q_rand_proj" ->
      """WITH flat AS (
        |  SELECT vec_id, i, CAST(list_extract(embedding, CAST(i + 1 AS INTEGER)) AS DOUBLE) AS x
        |  FROM embeddings, range(64) ti(i)),
        |m AS (
        |  SELECT j, i,
        |    CASE WHEN ('0x' || substr(md5('rp_16_' || CAST(j AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 15))::BIGINT % 2 = 0
        |         THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END AS s
        |  FROM range(16) tj(j), range(64) ti(i)),
        |t AS (
        |  SELECT f.vec_id, m.j, list(m.s * f.x ORDER BY f.i) AS terms
        |  FROM flat f JOIN m ON m.i = f.i GROUP BY f.vec_id, m.j)
        |SELECT vec_id, CAST(j AS INTEGER) AS dim,
        |  round(0.25 * list_reduce(list_prepend(CAST(0 AS DOUBLE), terms),
        |    (a, x) -> a + x), 6) AS v
        |FROM t""".stripMargin,

    // the projected-candidate cascade: stage-1 rank by (round(pdot,4)
    // desc, id) keeps 10, stage-2 exact cosine keeps 3 — both ranks are
    // the ANN determinism convention, so approximate != inexact
    "q_ann_proj" ->
      """WITH flat AS (
        |  SELECT vec_id, i, CAST(list_extract(embedding, CAST(i + 1 AS INTEGER)) AS DOUBLE) AS x
        |  FROM embeddings, range(64) ti(i)),
        |m AS (
        |  SELECT j, i,
        |    CASE WHEN ('0x' || substr(md5('rp_16_' || CAST(j AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 15))::BIGINT % 2 = 0
        |         THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END AS s
        |  FROM range(16) tj(j), range(64) ti(i)),
        |n2 AS (
        |  SELECT vec_id, sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    list(x * x ORDER BY i)), (a, x) -> a + x)) AS nrm
        |  FROM flat GROUP BY vec_id),
        |proj AS (
        |  SELECT t.vec_id, t.j,
        |    CASE WHEN n2.nrm > 0 THEN
        |      (0.25 * list_reduce(list_prepend(CAST(0 AS DOUBLE), terms),
        |        (a, x) -> a + x)) / n2.nrm
        |    ELSE CAST(0 AS DOUBLE) END AS p
        |  FROM (SELECT f.vec_id, m.j, list(m.s * f.x ORDER BY f.i) AS terms
        |        FROM flat f JOIN m ON m.i = f.i GROUP BY f.vec_id, m.j) t
        |  JOIN n2 ON n2.vec_id = t.vec_id),
        |pd AS (
        |  SELECT qid, vec_id,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE), terms), (a, x) -> a + x) AS pdot
        |  FROM (SELECT q.vec_id AS qid, c.vec_id AS vec_id,
        |          list(q.p * c.p ORDER BY q.j) AS terms
        |        FROM proj q JOIN proj c ON q.j = c.j AND c.vec_id <> q.vec_id
        |        WHERE q.vec_id < 5 GROUP BY q.vec_id, c.vec_id)),
        |ck AS (
        |  SELECT qid, vec_id FROM (
        |    SELECT qid, vec_id,
        |      row_number() OVER (PARTITION BY qid
        |        ORDER BY round(pdot, 4) DESC, vec_id) AS prank
        |    FROM pd) WHERE prank <= 10),
        |s AS (
        |  SELECT ck.qid, ck.vec_id,
        |    sum(fa.x * fb.x) AS dot, sum(fa.x * fa.x) AS na, sum(fb.x * fb.x) AS nb
        |  FROM ck
        |  JOIN flat fa ON fa.vec_id = ck.qid
        |  JOIN flat fb ON fb.vec_id = ck.vec_id AND fb.i = fa.i
        |  GROUP BY ck.qid, ck.vec_id),
        |sc AS (
        |  SELECT qid, vec_id, round(dot / (sqrt(na) * sqrt(nb)), 4) AS score,
        |    row_number() OVER (PARTITION BY qid
        |      ORDER BY round(dot / (sqrt(na) * sqrt(nb)), 4) DESC, vec_id) AS rank
        |  FROM s)
        |SELECT qid, vec_id, CAST(rank AS INTEGER) AS rank, score
        |FROM sc WHERE rank <= 3""".stripMargin,

    // flat (vec, dim) join via scalar range — same decimal-truncate-
    // then-sum exactness as the LM scores, same division order
    "q_embed_stats" ->
      """WITH flat AS (
        |  SELECT d AS dim,
        |    CAST(list_extract(embedding, CAST(d + 1 AS INTEGER)) AS DOUBLE) AS v
        |  FROM embeddings, range(64) td(d)),
        |s AS (SELECT dim, count(*) AS n,
        |    sum(CAST(v AS DECIMAL(28,12))) AS sv,
        |    sum(CAST(v * v AS DECIMAL(28,12))) AS sq
        |  FROM flat GROUP BY dim)
        |SELECT CAST(dim AS INTEGER) AS dim, n,
        |  round(CAST(sv AS DOUBLE) / n, 6) AS mean,
        |  round(CAST(sq AS DOUBLE) / n
        |    - (CAST(sv AS DOUBLE) / n) * (CAST(sv AS DOUBLE) / n), 6) AS variance
        |FROM s""".stripMargin,

    "q_embed_cov" -> embedCovSql,

    // batch-stream parity: the drained complete-mode cell grid goes
    // through the same cov formula, so the oracle is shared verbatim
    "q_embed_cov_stream" -> embedCovSql,

    "q_pca_project" -> pcaProjectSql(dims = 64, steps = 8),

    "q_whiten" -> pcaWhitenSql(dims = 64, steps = 8, k = 2),

    // stream-maintained model, batch-exact application: same replay
    "q_whiten_stream" -> pcaWhitenSql(dims = 64, steps = 8, k = 2),

    // the projection chain with the final select swapped for the
    // spectrum report: decimal variance of pc1 over the cov-diagonal
    // trace (both sides sum scale-6/12 decimals exactly)
    "q_pca_var" -> pcaProjectSql(dims = 64, steps = 8, finalOverride =
      """tr AS (SELECT CAST(sum(CAST(cov AS DECIMAL(28,6))) AS DOUBLE) AS trace
        |  FROM c WHERE i = j),
        |ag AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(pc1 AS DECIMAL(28,6))) AS DOUBLE) AS s,
        |    CAST(sum(CAST(pc1 * pc1 AS DECIMAL(28,12))) AS DOUBLE) AS ss
        |  FROM pj)
        |SELECT n, round(ss / n - (s / n) * (s / n), 6) AS pc1_var,
        |  round(trace, 6) AS trace,
        |  round((ss / n - (s / n) * (s / n)) / trace, 6) AS var_ratio
        |FROM ag, tr""".stripMargin),

    "q_quantize" ->
      """WITH v AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |s AS (SELECT vec_id, v,
        |    list_reduce(list_prepend(0.0, list_transform(v, x -> abs(x))),
        |      (a, x) -> greatest(a, x)) / 127.0 AS scale FROM v),
        |c AS (SELECT vec_id, scale,
        |    CASE WHEN scale > 0
        |      THEN list_transform(v, x -> CAST(round(x / scale) AS TINYINT))
        |      ELSE list_transform(v, x -> CAST(0 AS TINYINT)) END AS codes
        |  FROM s)
        |SELECT vec_id, round(scale, 8) AS scale,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(codes, x -> CAST(x AS BIGINT))), (a, x) -> a + x) AS code_sum,
        |  CAST(list_min(codes) AS INTEGER) AS code_min,
        |  CAST(list_max(codes) AS INTEGER) AS code_max
        |FROM c""".stripMargin,

    // the minhash shingle CTEs + the rarest-first (df, hash) sort keys
    // (no global rank — the pair IS the total order), prefix slice,
    // candidate join and integer verify
    "q_ssjoin" ->
      s"""WITH $mhShingleCtes,
        |rk AS MATERIALIZED (SELECT hm, CAST(count(*) AS BIGINT) AS cnt FROM h GROUP BY hm),
        |docs AS MATERIALIZED (SELECT doc_id,
        |    list_transform(ks, x -> x.h) AS rs, ks, n FROM (
        |  SELECT doc_id, list_sort(list({'d': cnt, 'h': hm})) AS ks,
        |      CAST(count(*) AS BIGINT) AS n
        |    FROM h JOIN rk USING (hm) GROUP BY doc_id)),
        |pref AS MATERIALIZED (SELECT doc_id, rs, n, CAST(t.i - 1 AS BIGINT) AS i0,
        |    ks[CAST(t.i AS INTEGER)].d AS pd, ks[CAST(t.i AS INTEGER)].h AS ph
        |  FROM docs, unnest(generate_series(1,
        |    CAST(n - (n * 80 + 99) // 100 + 1 AS INTEGER))) AS t(i)),
        |cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
        |  FROM pref a JOIN pref b ON a.pd = b.pd AND a.ph = b.ph AND a.doc_id < b.doc_id
        |  WHERE a.n * 100 >= b.n * 80 AND b.n * 100 >= a.n * 80
        |    AND 1 + least(a.i0, b.i0) + least(a.n - a.i0 - 1, b.n - b.i0 - 1)
        |      >= ((a.n + b.n) * 80) // 180
        |         + CASE WHEN ((a.n + b.n) * 80) % 180 = 0 THEN 0 ELSE 1 END),
        |v AS (SELECT c.a, c.b,
        |    CAST(len(list_intersect(da.rs, db.rs)) AS BIGINT) AS n_inter,
        |    da.n + db.n AS nn
        |  FROM cand c JOIN docs da ON da.doc_id = c.a JOIN docs db ON db.doc_id = c.b)
        |SELECT a, b, n_inter, nn - n_inter AS n_union FROM v
        |WHERE n_inter * 100 >= (nn - n_inter) * 80""".stripMargin,

    "q_zorder" ->
      s"""SELECT l_orderkey, l_partkey, l_suppkey,
         |  ${Layout.zValueSql("(l_partkey % 1024)", "(l_suppkey % 1024)", bits = 10)} AS zval
         |FROM lineitem""".stripMargin,

    "q_shards" ->
      """WITH d AS (SELECT doc_id,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 8 AS shard,
        |    ('0x' || substr(md5('pos_' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000007 AS ord
        |  FROM documents)
        |SELECT doc_id, shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY ord, doc_id) AS BIGINT) - 1 AS shard_pos
        |FROM d""".stripMargin,

    "q_fuzzy_match" ->
      """WITH cat AS (SELECT p_partkey AS clean_id,
        |    p_name || ' ' || substr(md5(CAST(p_partkey AS VARCHAR)), 1, 8) AS clean_name
        |  FROM part),
        |catb AS (SELECT clean_id, clean_name,
        |    string_split(clean_name, ' ')[1] || '|'
        |      || substr(string_split(clean_name, ' ')[-1], 1, 4) AS blk,
        |    len(clean_name) // 3 AS bd FROM cat),
        |dirty AS (SELECT clean_id AS dirty_id,
        |    substr(clean_name, 1, len(clean_name) - 1) || 'q' AS nm
        |  FROM cat WHERE clean_id % 5 = 0),
        |db AS (SELECT dirty_id, nm,
        |    string_split(nm, ' ')[1] || '|'
        |      || substr(string_split(nm, ' ')[-1], 1, 4) AS blk,
        |    unnest(list_distinct(generate_series(
        |      (len(nm) - 2) // 3, (len(nm) + 2) // 3))) AS bd
        |  FROM dirty)
        |SELECT dirty_id, clean_id,
        |  CAST(levenshtein(db.nm, catb.clean_name) AS INTEGER) AS dist
        |FROM db JOIN catb USING (blk, bd)
        |WHERE levenshtein(db.nm, catb.clean_name) <= 2""".stripMargin,

    // round trips are lossless by contract: the oracle is the source
    // table verbatim — a quoting/null/type drift through the format
    // edge shows up as a hash mismatch
    "q_csv_source" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents",

    // splittable single-file CSV: losslessness contract identical to
    // q_csv_source — the parquet table verbatim
    "q_csv_split" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents",

    // lossless WARC ingest: null-text docs are skipped by the writer
    // contract (no payload to archive), everything else byte-exact
    "q_warc_source" ->
      "SELECT doc_id, text FROM documents WHERE text IS NOT NULL",

    "q_warc_shards" ->
      "SELECT doc_id, text FROM documents WHERE text IS NOT NULL",

    // ground-truth expected text straight from the raw columns (NOT a
    // replay of the strip chain): heading + decoded-entity sentence +
    // body + quoted tail, whitespace-collapsed
    // line-aware ground truth: the <h1> and the two <p> blocks become
    // LINES; the planted body text is sanitized identically on both
    // sides ([<&\s\x00-\x1f\x7f]+ -> ' ' — the class unions away the
    // Java-vs-RE2 \s disagreement on \x0B), so it appends verbatim
    "q_html_text" ->
      """SELECT doc_id,
        |  lang || chr(10) || 'Tom & Jerry <3' || chr(10) ||
        |  trim(regexp_replace(
        |    regexp_replace(text, '[<&\s\x00-\x1f\x7f]+', ' ', 'g')
        |      || ' "end"', ' +', ' ', 'g')) AS clean_text
        |FROM documents WHERE text IS NOT NULL""".stripMargin,

    // byte-identical to q_html_text by construction (HtmlFusedSpec pins
    // kernel == chain), so the ground-truth oracle is shared verbatim
    "q_html_fused" ->
      """SELECT doc_id,
        |  lang || chr(10) || 'Tom & Jerry <3' || chr(10) ||
        |  trim(regexp_replace(
        |    regexp_replace(text, '[<&\s\x00-\x1f\x7f]+', ' ', 'g')
        |      || ' "end"', ' +', ' ', 'g')) AS clean_text
        |FROM documents WHERE text IS NOT NULL""".stripMargin,

    // ground truth from doc_id: scheme/host lowered, :80 gone, path
    // case preserved, trailing slash stripped, fragment dropped, query
    // byte-exact; domain = the PSL registrable domain per rule class
    // (exception > wildcard/exact > default), replayed as arithmetic
    "q_url_normalize" ->
      """SELECT doc_id,
        |  'http://'
        |    || CASE WHEN doc_id % 13 = 0 THEN 'www.ck'
        |       WHEN doc_id % 17 = 0 THEN 'www.xn--bcher-kva.de'
        |       ELSE 'www.example' || (doc_id % 50)
        |         || CASE WHEN doc_id % 7 = 0 THEN '.co.uk'
        |                 WHEN doc_id % 9 = 0 THEN '.pref.aichi.jp'
        |                 WHEN doc_id % 10 = 0 THEN '.biy.ck'
        |                 ELSE '.com' END END
        |    || '/Path/' || doc_id
        |    || CASE WHEN doc_id % 6 = 0 THEN '/~Ab%2FC' ELSE '' END
        |    || CASE WHEN doc_id % 4 = 0 THEN '?b=2&a=1' ELSE '' END AS url_norm,
        |  CASE WHEN doc_id % 13 = 0 THEN 'www.ck'
        |       WHEN doc_id % 17 = 0 THEN 'xn--bcher-kva.de'
        |       WHEN doc_id % 7 = 0 THEN 'example' || (doc_id % 50) || '.co.uk'
        |       WHEN doc_id % 9 = 0 THEN 'pref.aichi.jp'
        |       WHEN doc_id % 10 = 0 THEN 'example' || (doc_id % 50) || '.biy.ck'
        |       ELSE 'example' || (doc_id % 50) || '.com' END AS domain
        |FROM documents WHERE text IS NOT NULL""".stripMargin,

    // de-stutter ground truth straight from the arithmetic: the four
    // distinct pair-collapsed lines then the untouched text
    "q_destutter" ->
      """SELECT doc_id,
        |  'w' || (doc_id % 5) || chr(10) ||
        |  'w' || ((doc_id + 1) % 5) || chr(10) ||
        |  'w' || ((doc_id + 2) % 5) || chr(10) ||
        |  'w' || ((doc_id + 3) % 5) || chr(10) || 't:' ||
        |  regexp_replace(text, '[\s\x00-\x1f\x7f]+', ' ', 'g') AS clean_text
        |FROM documents WHERE text IS NOT NULL""".stripMargin,

    // the composition from ground truth: expected clean text + derived
    // domain, then the q_source_cap replay (sqrt caps, md5%1e6 rank)
    // keyed on domain, token counts on the EXPECTED text
    "q_curate9" ->
      """WITH p AS (SELECT doc_id,
        |    'example' || (doc_id % 50)
        |      || CASE WHEN doc_id % 7 = 0 THEN '.co.uk' ELSE '.com' END
        |      AS domain,
        |    trim(regexp_replace(lang || ' '
        |      || regexp_replace(text, '[<&\s\x00-\x1f\x7f]+', ' ', 'g')
        |      || ' "end"', '\s+', ' ', 'g')) AS clean
        |  FROM documents WHERE text IS NOT NULL),
        |c AS (SELECT domain, count(*) AS n FROM p GROUP BY domain),
        |caps AS (SELECT domain, n,
        |    greatest(2, CAST(ceil(sqrt(n)) AS BIGINT)) AS cap FROM c),
        |r AS (SELECT p.doc_id, p.domain, p.clean, caps.cap, caps.n,
        |    row_number() OVER (PARTITION BY p.domain ORDER BY
        |      ('0x' || substr(md5(CAST(p.doc_id AS VARCHAR)), 1, 15))::BIGINT
        |        % 1000000, p.doc_id) AS rk
        |  FROM p JOIN caps USING (domain))
        |SELECT doc_id, domain,
        |  CAST(len(string_split_regex(lower(clean), '\s+')) AS BIGINT) AS n_tokens
        |FROM r WHERE n <= cap OR rk <= cap""".stripMargin,

    "q_jsonl_source" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents",

    "q_datacard" ->
      """WITH d AS (SELECT doc_id, lang, source, n_chars,
        |    CASE WHEN text IS NULL THEN 0
        |         ELSE len(string_split_regex(lower(text), '\s+')) END AS nt,
        |    CASE WHEN text IS NULL THEN 1 ELSE 0 END AS nul,
        |    md5(coalesce(text, '')) AS h
        |  FROM documents)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(nul) AS BIGINT) AS n_null_text,
        |  CAST(sum(nt) AS BIGINT) AS n_tokens_ws,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |  round(1.0 - CAST(count(DISTINCT h) AS DOUBLE) / count(*), 6) AS dup_rate,
        |  round(CAST(sum(CAST(n_chars AS DECIMAL(28,0))) AS DOUBLE) / count(*), 6)
        |    AS mean_chars
        |FROM d""".stripMargin,

    "q_manifest" ->
      """WITH d AS (SELECT doc_id,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 8 AS shard,
        |    CASE WHEN text IS NULL THEN 0
        |         ELSE len(string_split_regex(lower(text), '\s+')) END AS nt,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || coalesce(text, '')),
        |      1, 15))::BIGINT AS h
        |  FROM documents)
        |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(nt) AS BIGINT) AS n_tokens,
        |  min(doc_id) AS id_min, max(doc_id) AS id_max,
        |  bit_xor(h) AS checksum
        |FROM d GROUP BY shard""".stripMargin,

    "q_snapshot_diff" ->
      """WITH curr AS (SELECT doc_id, md5(coalesce(text, '')) AS hc
        |  FROM documents WHERE doc_id % 13 <> 5),
        |prev AS (SELECT doc_id,
        |    md5(CASE WHEN doc_id % 7 = 3
        |        THEN coalesce(text, '') || ' [prev-rev]'
        |        ELSE coalesce(text, '') END) AS hp
        |  FROM documents WHERE doc_id % 11 <> 0)
        |SELECT coalesce(prev.doc_id, curr.doc_id) AS doc_id,
        |  CASE WHEN hp IS NULL THEN 'added'
        |       WHEN hc IS NULL THEN 'removed'
        |       WHEN hp = hc THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM prev FULL OUTER JOIN curr ON prev.doc_id = curr.doc_id""".stripMargin,

    // GraftTable queries replay as plain filters/aggregates over the
    // source rows — the TABLE mechanics (manifest pruning, compaction,
    // snapshot arithmetic) must be value-invisible by construction
    "q_table_prune" ->
      """SELECT doc_id % 64 AS bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(string_split_regex(lower(text), '\s+'))) AS BIGINT)
        |    AS sum_tokens
        |FROM documents WHERE text IS NOT NULL AND doc_id % 64 BETWEEN 5 AND 12
        |GROUP BY 1""".stripMargin,

    "q_table_compact" ->
      """SELECT doc_id % 64 AS bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(string_split_regex(lower(text), '\s+'))) AS BIGINT)
        |    AS sum_tokens
        |FROM documents WHERE text IS NOT NULL
        |GROUP BY 1""".stripMargin,

    "q_table_delta" ->
      """SELECT doc_id % 64 AS bucket, CAST(count(*) AS BIGINT) AS n_docs
        |FROM documents WHERE text IS NOT NULL AND doc_id % 3 IN (1, 2)
        |GROUP BY 1""".stripMargin,

    // zone-map scan: the z-order layout and manifest pruning are
    // value-invisible — a plain range filter replays it
    "q_table_where" ->
      """SELECT doc_id % 64 AS bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(string_split_regex(lower(text), '\s+'))) AS BIGINT)
        |    AS sum_tokens
        |FROM documents
        |WHERE text IS NOT NULL AND n_chars BETWEEN 200 AND 2000
        |GROUP BY 1""".stripMargin,

    // the takedown is value-visible as a plain anti-filter; the TABLE
    // mechanics (pruned victim scan, partial rewrite, shard
    // replacement) must not shift a single row
    "q_table_delete" ->
      """SELECT doc_id % 64 AS bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(string_split_regex(lower(text), '\s+'))) AS BIGINT)
        |    AS sum_tokens
        |FROM documents WHERE text IS NOT NULL AND doc_id % 17 <> 3
        |GROUP BY 1""".stripMargin,

    // schema evolution is value-visible only through the null story:
    // pre-evolution rows group under '_pre', evolved rows under their
    // lang label — replayed as a CASE over the same source rows
    "q_table_evolve" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(len(string_split_regex(lower(text), '\s+')) AS BIGINT) AS n
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT CASE WHEN doc_id % 3 = 0 THEN '_pre'
        |            ELSE 'l' || CAST(doc_id % 4 AS VARCHAR) END AS lang,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n) AS BIGINT) AS sum_tokens
        |FROM d GROUP BY 1""".stripMargin,

    // catalog pins are value-invisible when they work (pinned = the
    // standing subset, post-commit = everything), so the replay is
    // plain filters — a pin leak would inflate the standing counts
    "q_table_catalog" ->
      """WITH d AS (SELECT doc_id, doc_id % 64 AS bucket, md5(text) AS h
        |  FROM documents WHERE text IS NOT NULL),
        |st AS (SELECT bucket, CAST(count(*) AS BIGINT) AS standing_docs
        |  FROM d WHERE doc_id % 3 = 0 GROUP BY 1),
        |tot AS (SELECT bucket, CAST(count(*) AS BIGINT) AS total_docs
        |  FROM d GROUP BY 1),
        |idx AS (SELECT bucket, CAST(count(DISTINCT h) AS BIGINT)
        |    AS standing_keys
        |  FROM d WHERE doc_id % 3 = 0 GROUP BY 1)
        |SELECT st.bucket, st.standing_docs, tot.total_docs,
        |  idx.standing_keys
        |FROM st JOIN tot USING (bucket) JOIN idx USING (bucket)""".stripMargin,

    // the table mechanics (append/time-travel/delta) are value-invisible
    // so the recurate pass replays as plain filters: standing = %3=0
    // hashes, delta = the rest, min-id-per-hash within the delta, anti
    // vs standing content, token band
    "q_curate12" ->
      """WITH d AS (SELECT doc_id, doc_id % 64 AS bucket, md5(text) AS h,
        |    CAST(len(string_split_regex(lower(text), '\s+')) AS BIGINT) AS n
        |  FROM documents WHERE text IS NOT NULL),
        |standing AS (SELECT DISTINCT h FROM d WHERE doc_id % 3 = 0),
        |delta AS (SELECT * FROM d WHERE doc_id % 3 <> 0),
        |fresh AS (SELECT * FROM delta
        |  WHERE h NOT IN (SELECT h FROM standing)),
        |keep AS (SELECT h, min(doc_id) AS doc_id FROM fresh GROUP BY h)
        |SELECT f.doc_id, f.bucket, f.n AS n_tokens
        |FROM fresh f JOIN keep k ON f.doc_id = k.doc_id
        |WHERE f.n BETWEEN 5 AND 5000""".stripMargin,

    // the multimodal front door replayed from the fixture formulas:
    // dHash grid arithmetic for the image keep-min (q_image_dedup's
    // cell CTEs with the cx_ seed/brightness plan), MP3/H.264 header
    // math for the audio/video gates, md5-rank sqrt caps per source
    "q_curate13" ->
      """WITH base AS (SELECT doc_id, source FROM documents
        |  WHERE text IS NOT NULL),
        |d AS (SELECT doc_id, doc_id // 6 AS seed, 3 * ((doc_id // 3) % 2) AS br
        |      FROM base WHERE doc_id % 3 = 0),
        |px AS (SELECT d.doc_id, d.br, x.x, y.y,
        |    ('0x' || substr(md5('cx_' || CAST(d.seed AS VARCHAR) || '_'
        |      || CAST(x.x AS VARCHAR) || '_' || CAST(y.y AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM d, range(0, 16) x(x), range(0, 12) y(y)),
        |cell AS (SELECT px.doc_id, i.i, j.j,
        |    CAST(sum(px.h % 247 + (px.h // 247) % 247
        |      + (px.h // 247 // 247) % 247 + 3 * px.br)
        |      // count(*) AS BIGINT) AS g
        |  FROM px, range(0, 9) i(i), range(0, 7) j(j)
        |  WHERE px.x >= i.i * 16 // 9 AND px.x < (i.i + 1) * 16 // 9
        |    AND px.y >= j.j * 12 // 7 AND px.y < (j.j + 1) * 12 // 7
        |  GROUP BY px.doc_id, i.i, j.j),
        |hh AS (SELECT a.doc_id,
        |    CAST(coalesce(sum(CASE WHEN a.g > b.g
        |      THEN CAST(1 AS BIGINT) << CAST(a.j * 8 + a.i AS INTEGER)
        |      ELSE CAST(0 AS BIGINT) END), 0) AS BIGINT) AS fp
        |  FROM cell a JOIN cell b
        |    ON a.doc_id = b.doc_id AND a.j = b.j AND b.i = a.i + 1
        |  WHERE a.i < 8
        |  GROUP BY a.doc_id),
        |imgkept AS (SELECT a.doc_id FROM hh a WHERE NOT EXISTS (
        |    SELECT 1 FROM hh b WHERE b.doc_id < a.doc_id
        |      AND bit_count(xor(a.fp, b.fp)) <=
        |        CASE WHEN (SELECT count(*) FROM documents) > 200000
        |             THEN 1 ELSE 3 END)),
        |audkept AS (SELECT doc_id FROM base WHERE doc_id % 3 = 1
        |  AND ((3 + doc_id % 5) * 1152 * 1000)
        |    // (CASE WHEN doc_id % 2 = 1 THEN 44100 ELSE 32000 END) >= 130
        |  AND (CASE WHEN doc_id % 4 < 2 THEN 192 ELSE 96 END) >= 128),
        |vidkept AS (SELECT doc_id FROM base WHERE doc_id % 3 = 2
        |  AND (CASE WHEN doc_id % 2 = 0 THEN 30.0 ELSE 24.0 END) >= 25
        |  AND (3 + doc_id % 6) >= 5
        |  AND 16 * (2 + doc_id % 4) >= 48),
        |gated AS (SELECT b.doc_id,
        |    CASE b.doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |      ELSE 'video' END AS kind, b.source
        |  FROM base b JOIN (SELECT doc_id FROM imgkept UNION ALL
        |    SELECT doc_id FROM audkept UNION ALL
        |    SELECT doc_id FROM vidkept) k ON k.doc_id = b.doc_id),
        |c AS (SELECT source, count(*) AS n FROM gated GROUP BY source),
        |caps AS (SELECT source, n,
        |    greatest(2, CAST(ceil(sqrt(n)) AS BIGINT)) AS cap FROM c),
        |r AS (SELECT g.doc_id, g.kind, g.source, caps.cap, caps.n,
        |    row_number() OVER (PARTITION BY g.source ORDER BY
        |      ('0x' || substr(md5(CAST(g.doc_id AS VARCHAR)), 1, 15))::BIGINT
        |        % 1000000, g.doc_id) AS rk
        |  FROM gated g JOIN caps USING (source))
        |SELECT doc_id, kind, source FROM r
        |WHERE n <= cap OR rk <= cap""".stripMargin,

    // the snapshot CTEs + hash dedup (min-id within delta, anti vs the
    // standing unchanged hashes) + the word-count band — one chain
    "q_curate8" ->
      """WITH curr AS (SELECT doc_id, text, md5(coalesce(text, '')) AS h
        |  FROM documents WHERE doc_id % 13 <> 5),
        |prev AS (SELECT doc_id,
        |    md5(CASE WHEN doc_id % 7 = 3
        |        THEN coalesce(text, '') || ' [prev-rev]'
        |        ELSE coalesce(text, '') END) AS hp
        |  FROM documents WHERE doc_id % 11 <> 0),
        |st AS (SELECT curr.doc_id, curr.text, curr.h,
        |    CASE WHEN hp IS NULL THEN 'added'
        |         WHEN hp = h THEN 'unchanged' ELSE 'changed' END AS status
        |  FROM curr LEFT JOIN prev ON prev.doc_id = curr.doc_id),
        |delta AS (SELECT * FROM st WHERE status IN ('added', 'changed')
        |  AND h NOT IN (SELECT h FROM st WHERE status = 'unchanged')),
        |keep AS (SELECT h, min(doc_id) AS doc_id FROM delta GROUP BY h)
        |SELECT d.doc_id, d.status,
        |  CAST(CASE WHEN d.text IS NULL THEN 0
        |    ELSE len(string_split_regex(lower(d.text), '\s+')) END AS BIGINT) AS n_tokens
        |FROM delta d JOIN keep ON keep.doc_id = d.doc_id
        |WHERE (CASE WHEN d.text IS NULL THEN 0
        |    ELSE len(string_split_regex(lower(d.text), '\s+')) END) BETWEEN 5 AND 5000""".stripMargin,

    "q_pack_bpe" ->
      s"""WITH RECURSIVE ${bpeWalkCtes("documents")},
         |d AS (SELECT tok.doc_id, CAST(sum(coalesce(wc.c, 0)) AS BIGINT) AS n_tokens
         |      FROM tok LEFT JOIN wc ON tok.w = wc.w GROUP BY tok.doc_id),
         |c AS (SELECT doc_id, n_tokens,
         |    CAST(sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         |  FROM d),
         |s AS (SELECT doc_id, n_tokens, cum, cum - n_tokens AS prev FROM c WHERE n_tokens > 0)
         |SELECT doc_id, seq_id,
         |  greatest(prev, seq_id*512) - seq_id*512 AS seq_offset,
         |  greatest(prev, seq_id*512) - prev AS doc_offset,
         |  least(cum, (seq_id+1)*512) - greatest(prev, seq_id*512) AS slice_len
         |FROM s, unnest(generate_series(prev // 512, (cum-1) // 512)) AS t(seq_id)""".stripMargin,

    // pack CTE + encode CTE joined on (doc, pos-in-slice): seq_pos =
    // seq_offset + (pos - doc_offset); counts and positions share the
    // walk, so every token lands in exactly one slice
    "q_pack_tokens" ->
      s"""WITH RECURSIVE ${bpeWalkCtes("documents")},
         |d AS (SELECT tok.doc_id, CAST(sum(coalesce(wc.c, 0)) AS BIGINT) AS n_tokens
         |      FROM tok LEFT JOIN wc ON tok.w = wc.w GROUP BY tok.doc_id),
         |c AS (SELECT doc_id, n_tokens,
         |    CAST(sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         |  FROM d),
         |s AS (SELECT doc_id, n_tokens, cum, cum - n_tokens AS prev FROM c WHERE n_tokens > 0),
         |slices AS (SELECT doc_id, seq_id,
         |    greatest(prev, seq_id*512) - seq_id*512 AS seq_offset,
         |    greatest(prev, seq_id*512) - prev AS doc_offset,
         |    least(cum, (seq_id+1)*512) - greatest(prev, seq_id*512) AS slice_len
         |  FROM s, unnest(generate_series(prev // 512, (cum-1) // 512)) AS t(seq_id)),
         |wt AS (SELECT w, string_split(trim(s), ' ') AS toks
         |       FROM walk WHERE r = ${graft.functions.BpeTokenizer.merges.length}),
         |dw AS (SELECT doc_id, generate_subscripts(l, 1) AS wi, unnest(l) AS w
         |       FROM (SELECT doc_id,
         |               string_split_regex(lower(text), '\\s+') AS l
         |             FROM documents WHERE text IS NOT NULL)),
         |ft AS (SELECT dw.doc_id, dw.wi,
         |         generate_subscripts(wt.toks, 1) AS ti, unnest(wt.toks) AS token
         |       FROM dw JOIN wt ON wt.w = dw.w),
         |enc AS (SELECT doc_id,
         |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY wi, ti) - 1
         |      AS BIGINT) AS pos, token
         |  FROM ft)
         |SELECT p.seq_id,
         |  CAST(p.seq_offset + e.pos - p.doc_offset AS BIGINT) AS seq_pos, e.token
         |FROM enc e JOIN slices p ON p.doc_id = e.doc_id
         |  AND e.pos >= p.doc_offset AND e.pos < p.doc_offset + p.slice_len""".stripMargin,

    // the q_pack_tokens chain with every per-doc count +1 and the EOS
    // row unioned into the encoded stream at its terminal position
    "q_pack_eos" ->
      s"""WITH RECURSIVE ${bpeWalkCtes("documents")},
         |d AS (SELECT tok.doc_id,
         |      CAST(sum(coalesce(wc.c, 0)) + 1 AS BIGINT) AS n_tokens
         |      FROM tok LEFT JOIN wc ON tok.w = wc.w GROUP BY tok.doc_id),
         |c AS (SELECT doc_id, n_tokens,
         |    CAST(sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         |  FROM d),
         |s AS (SELECT doc_id, n_tokens, cum, cum - n_tokens AS prev FROM c WHERE n_tokens > 0),
         |slices AS (SELECT doc_id, seq_id,
         |    greatest(prev, seq_id*512) - seq_id*512 AS seq_offset,
         |    greatest(prev, seq_id*512) - prev AS doc_offset,
         |    least(cum, (seq_id+1)*512) - greatest(prev, seq_id*512) AS slice_len
         |  FROM s, unnest(generate_series(prev // 512, (cum-1) // 512)) AS t(seq_id)),
         |wt AS (SELECT w, string_split(trim(s), ' ') AS toks
         |       FROM walk WHERE r = ${graft.functions.BpeTokenizer.merges.length}),
         |dw AS (SELECT doc_id, generate_subscripts(l, 1) AS wi, unnest(l) AS w
         |       FROM (SELECT doc_id,
         |               string_split_regex(lower(text), '\\s+') AS l
         |             FROM documents WHERE text IS NOT NULL)),
         |ft AS (SELECT dw.doc_id, dw.wi,
         |         generate_subscripts(wt.toks, 1) AS ti, unnest(wt.toks) AS token
         |       FROM dw JOIN wt ON wt.w = dw.w),
         |enc0 AS (SELECT doc_id,
         |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY wi, ti) - 1
         |      AS BIGINT) AS pos, token
         |  FROM ft),
         |enc AS (SELECT doc_id, pos, token FROM enc0
         |        UNION ALL SELECT doc_id, n_tokens - 1 AS pos, '</s>' FROM d)
         |SELECT p.seq_id,
         |  CAST(p.seq_offset + e.pos - p.doc_offset AS BIGINT) AS seq_pos, e.token
         |FROM enc e JOIN slices p ON p.doc_id = e.doc_id
         |  AND e.pos >= p.doc_offset AND e.pos < p.doc_offset + p.slice_len""".stripMargin,

    "q_pack" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(len(string_split_regex(lower(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |    CAST(sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM d),
        |s AS (SELECT doc_id, n_tokens, cum, cum - n_tokens AS prev FROM c WHERE n_tokens > 0)
        |SELECT doc_id, seq_id,
        |  greatest(prev, seq_id*512) - seq_id*512 AS seq_offset,
        |  greatest(prev, seq_id*512) - prev AS doc_offset,
        |  least(cum, (seq_id+1)*512) - greatest(prev, seq_id*512) AS slice_len
        |FROM s, unnest(generate_series(prev // 512, (cum-1) // 512)) AS t(seq_id)""".stripMargin,

    "q_chunk" ->
      """WITH d AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS w FROM documents),
        |s AS (SELECT doc_id, w, unnest(range(0, greatest(len(w), 1), 48)) AS st FROM d)
        |SELECT doc_id, CAST(st / 48 AS INTEGER) AS chunk_index,
        |  CAST(least(len(w) - st, 64) AS INTEGER) AS n_chunk_tokens,
        |  substr(array_to_string(list_slice(w, st + 1, st + 64), ' '), 1, 40) AS chunk_head
        |FROM s WHERE st = 0 OR st < len(w)""".stripMargin,

    "q_pipeline" -> {
      val inList = TextAnalysis.stopwords("en").map(w => s"'$w'").mkString(", ")
      s"""WITH d AS (SELECT doc_id, text, n_chars,
         |    string_split_regex(lower(text), '\\s+') AS w FROM documents),
         |q AS (SELECT doc_id, text, w,
         |    CAST(len(list_filter(w, t -> t IN ($inList))) AS DOUBLE) / greatest(len(w), 1) AS r_en,
         |    CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
         |      / greatest(length(text), 1) AS punct,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(w, t -> CAST(length(t) AS BIGINT))),
         |      (acc, h) -> acc + h) AS sumlen, CAST(len(w) AS DOUBLE) AS nw, n_chars AS nc
         |  FROM d),
         |f AS (SELECT doc_id, text, w FROM q
         |  WHERE CAST(round((CASE WHEN nc BETWEEN 100 AND 20000 THEN 1.0 ELSE 0.3 END) * 0.3
         |      + (CASE WHEN punct <= 0.2 THEN 1.0 ELSE 0.4 END) * 0.25
         |      + (CASE WHEN sumlen / nw BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.5 END) * 0.25
         |      + (CASE WHEN r_en >= 0.01 THEN 1.0 ELSE 0.6 END) * 0.2, 4) AS DOUBLE) >= 0.8),
         |dd AS (SELECT doc_id, w FROM (
         |    SELECT doc_id, w, row_number() OVER (
         |      PARTITION BY array_to_string(list_slice(w, 1, 3), ' ') ORDER BY doc_id) AS rn
         |    FROM f) WHERE rn = 1),
         |s AS (SELECT doc_id, w, unnest(range(0, greatest(len(w), 1), 48)) AS st FROM dd)
         |SELECT doc_id, CAST(st / 48 AS INTEGER) AS chunk_index,
         |  CAST(least(len(w) - st, 64) AS INTEGER) AS n_chunk_tokens
         |FROM s WHERE st = 0 OR st < len(w)""".stripMargin
    },

    // curation oracle: quality filter + exact dedup (as in q_pipeline),
    // then the verified-edge CTEs over the SURVIVOR relation, recursive
    // components -> drop non-representatives, then the running token
    // budget per source
    "q_curate" -> {
      val inList = TextAnalysis.stopwords("en").map(w => s"'$w'").mkString(", ")
      s"""WITH RECURSIVE d0 AS (SELECT doc_id, source, text, n_chars,
         |    string_split_regex(lower(text), '\\s+') AS w FROM documents),
         |q0 AS (SELECT doc_id, source, text, w,
         |    CAST(len(list_filter(w, t -> t IN ($inList))) AS DOUBLE) / greatest(len(w), 1) AS r_en,
         |    CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
         |      / greatest(length(text), 1) AS punct,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(w, t -> CAST(length(t) AS BIGINT))),
         |      (acc, x) -> acc + x) AS sumlen, CAST(len(w) AS DOUBLE) AS nw, n_chars AS nc
         |  FROM d0),
         |f0 AS (SELECT doc_id, source, text, w FROM q0
         |  WHERE CAST(round((CASE WHEN nc BETWEEN 100 AND 20000 THEN 1.0 ELSE 0.3 END) * 0.3
         |      + (CASE WHEN punct <= 0.2 THEN 1.0 ELSE 0.4 END) * 0.25
         |      + (CASE WHEN sumlen / nw BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.5 END) * 0.25
         |      + (CASE WHEN r_en >= 0.01 THEN 1.0 ELSE 0.6 END) * 0.2, 4) AS DOUBLE) >= 0.8),
         |dd0 AS (SELECT doc_id, source, text, w FROM (
         |    SELECT doc_id, source, text, w, row_number() OVER (
         |      PARTITION BY array_to_string(list_slice(w, 1, 3), ' ') ORDER BY doc_id) AS rn
         |    FROM f0) WHERE rn = 1),
         |${mhShingleCtesFor("dd0")},
         |$mhSigCandCtes,
         |$mhVerifiedEdgeCtes,
         |dropped AS (SELECT a AS doc_id FROM reach GROUP BY a
         |            HAVING least(a, min(b)) <> a),
         |kept AS (SELECT dd0.doc_id, dd0.source, dd0.w FROM dd0
         |         WHERE NOT EXISTS (SELECT 1 FROM dropped WHERE dropped.doc_id = dd0.doc_id)),
         |tok AS (SELECT doc_id, source, CAST(len(w) AS BIGINT) AS n_tokens FROM kept),
         |cum AS (SELECT *, sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |          ROWS UNBOUNDED PRECEDING) AS c FROM tok)
         |SELECT doc_id, source, n_tokens FROM cum WHERE c <= 3000""".stripMargin
    },

    // novelty gate (shared shingle CTEs) -> hash-TF margin filter (the
    // q_quality_clf formula) -> survivor-corpus LM terciles, tail cut
    "q_curate3" ->
      s"""WITH $mhShingleCtes,
         |f AS (SELECT hm, min(doc_id) AS first_doc FROM h GROUP BY hm),
         |novr AS (SELECT h.doc_id,
         |    round(CAST(sum(CASE WHEN f.first_doc = h.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
         |      / count(*), 6) AS novelty
         |  FROM h JOIN f ON h.hm = f.hm GROUP BY h.doc_id),
         |s1 AS (SELECT d.doc_id, d.text, novr.novelty
         |  FROM documents d JOIN novr USING (doc_id) WHERE novr.novelty >= 0.3),
         |ctk AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tok FROM s1),
         |mg AS (SELECT doc_id,
         |    CAST(SUM(('0x' || substr(md5('w' || (('0x' || substr(md5(tok), 1, 15))::BIGINT % 512)), 1, 15))::BIGINT
         |      % 2001 - 1000) AS DOUBLE) / 1000.0 / count(*) + 0.1 AS margin
         |  FROM ctk GROUP BY doc_id),
         |s2 AS (SELECT s1.doc_id, s1.text, s1.novelty, mg.margin
         |  FROM s1 JOIN mg USING (doc_id) WHERE mg.margin > 0),
         |ltk AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS term FROM s2),
         |lm AS (SELECT term, count(*) AS c FROM ltk GROUP BY 1),
         |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS tot, CAST(count(*) AS DOUBLE) AS v FROM lm),
         |sc AS (SELECT doc_id,
         |    round(CAST(sum(CAST(-ln((c + 1.0) / (tot + v)) AS DECIMAL(28,12))) AS DOUBLE)
         |      / count(*), 6) AS mean_nll
         |  FROM ltk JOIN lm USING (term), tot GROUP BY doc_id),
         |th AS (SELECT quantile_disc(mean_nll, ${1.0 / 3}) AS c1,
         |              quantile_disc(mean_nll, ${2.0 / 3}) AS c2 FROM sc)
         |SELECT s2.doc_id, s2.novelty, s2.margin, sc.mean_nll,
         |  CASE WHEN sc.mean_nll <= th.c1 THEN 'head' ELSE 'middle' END AS ppl_bucket
         |FROM s2 JOIN sc USING (doc_id), th
         |WHERE sc.mean_nll <= th.c2""".stripMargin,

    "q_curate2" ->
      """WITH
        |w0 AS (SELECT doc_id, text, string_split_regex(lower(text), '\s+') AS w FROM documents),
        |f1 AS (SELECT doc_id, text FROM w0
        |       WHERE 1 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w) <= 0.5),
        |l AS (SELECT doc_id, unnest(string_split(text, ' the ')) AS line,
        |        unnest(generate_series(1, len(string_split(text, ' the ')))) AS pos FROM f1),
        |hot AS (SELECT line FROM (SELECT line, count(DISTINCT doc_id) AS nd
        |                          FROM l GROUP BY line) WHERE nd >= 3),
        |reb AS (SELECT doc_id, string_agg(line, ' the ' ORDER BY pos) AS text
        |        FROM (SELECT doc_id, line, pos, line IN (SELECT line FROM hot) AS ishot FROM l)
        |        WHERE NOT ishot GROUP BY doc_id),
        |dd AS (SELECT doc_id, text FROM (
        |    SELECT doc_id, text, row_number() OVER (
        |      PARTITION BY array_to_string(list_slice(string_split_regex(lower(text), '\s+'), 1, 3), ' ')
        |      ORDER BY doc_id) AS rn FROM reb) WHERE rn = 1),
        |tok AS (SELECT doc_id,
        |    CAST(len(string_split_regex(lower(text), '\s+')) AS BIGINT) AS n_tokens FROM dd),
        |c AS (SELECT doc_id, n_tokens,
        |    CAST(sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM tok),
        |s AS (SELECT doc_id, n_tokens, cum, cum - n_tokens AS prev FROM c WHERE n_tokens > 0)
        |SELECT doc_id, seq_id,
        |  greatest(prev, seq_id*256) - seq_id*256 AS seq_offset,
        |  greatest(prev, seq_id*256) - prev AS doc_offset,
        |  least(cum, (seq_id+1)*256) - greatest(prev, seq_id*256) AS slice_len
        |FROM s, unnest(generate_series(prev // 256, (cum-1) // 256)) AS t(seq_id)""".stripMargin,

    "q_text_stats" -> {
      def ratio(langWords: Seq[String]): String = {
        val inList = langWords.map(w => s"'$w'").mkString(", ")
        s"CAST(len(list_filter(w, t -> t IN ($inList))) AS DOUBLE) / greatest(len(w), 1)"
      }
      val en = ratio(TextAnalysis.stopwords("en")); val de = ratio(TextAnalysis.stopwords("de"))
      val fr = ratio(TextAnalysis.stopwords("fr")); val es = ratio(TextAnalysis.stopwords("es"))
      s"""WITH d AS (SELECT doc_id, text, n_chars,
         |    string_split_regex(lower(text), '\\s+') AS w FROM documents),
         |r AS (SELECT doc_id, text, n_chars, w,
         |    $en AS r_en, $de AS r_de, $fr AS r_fr, $es AS r_es FROM d),
         |base AS (SELECT doc_id, text, n_chars, w, r_en,
         |    CASE WHEN greatest(r_en, r_de, r_fr, r_es) < 0.05 THEN 'und'
         |         WHEN r_fr >= r_en AND r_fr >= r_de AND r_fr >= r_es THEN 'fr'
         |         WHEN r_es >= r_en AND r_es >= r_de THEN 'es'
         |         WHEN r_en >= r_de THEN 'en' ELSE 'de' END AS lang_pred,
         |    len(w) AS n_tokens,
         |    CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
         |      / greatest(length(text), 1) AS punct,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |        list_transform(w, t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % ${Dedup.P})),
         |      (acc, h) -> (acc * 31 + h) % ${Dedup.P}) AS fingerprint,
         |    CAST(len(list_filter(w, t -> length(t) >= 0)) AS DOUBLE) AS nw,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(w, t -> CAST(length(t) AS BIGINT))),
         |      (acc, h) -> acc + h) AS sumlen
         |  FROM r)
         |SELECT doc_id, lang_pred, CAST(n_tokens AS INTEGER) AS n_tokens,
         |  round(punct, 6) AS punct_ratio, round(r_en, 6) AS stopword_ratio,
         |  CAST(round((CASE WHEN n_chars BETWEEN 100 AND 20000 THEN 1.0 ELSE 0.3 END) * 0.3
         |      + (CASE WHEN punct <= 0.2 THEN 1.0 ELSE 0.4 END) * 0.25
         |      + (CASE WHEN sumlen / nw BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.5 END) * 0.25
         |      + (CASE WHEN r_en >= 0.01 THEN 1.0 ELSE 0.6 END) * 0.2, 4) AS DOUBLE) AS quality,
         |  fingerprint
         |FROM base""".stripMargin
    },

    // PII masking replayed verbatim: the scrub patterns avoid lookarounds
    // and backreferences precisely so RE2 engines replay them; DuckDB
    // needs the 'g' flag (it defaults to first-match, Java to all)
    "q_collocations" ->
      """WITH d AS (SELECT string_split_regex(lower(text), '\s+') AS w FROM documents),
        |uc AS (SELECT t, count(*) AS c FROM (SELECT unnest(w) AS t FROM d) GROUP BY 1),
        |bgp AS (SELECT w[i] AS term_a, w[i+1] AS term_b
        |        FROM d, unnest(generate_series(1, len(w)-1)) AS g(i) WHERE len(w) >= 2),
        |bc AS (SELECT term_a, term_b, CAST(count(*) AS BIGINT) AS pair_count
        |       FROM bgp GROUP BY 1,2 HAVING count(*) >= 5),
        |tot AS (SELECT CAST(sum(len(w)) AS DOUBLE) AS nw,
        |               CAST(sum(greatest(len(w)-1, 0)) AS DOUBLE) AS nbg FROM d)
        |SELECT term_a, term_b, pair_count,
        |  round(ln((CAST(pair_count AS DOUBLE) / nbg) / ((ca / nw) * (cb / nw))), 6) AS pmi
        |FROM bc
        |JOIN (SELECT t AS term_a, c AS ca FROM uc) USING (term_a)
        |JOIN (SELECT t AS term_b, c AS cb FROM uc) USING (term_b), tot""".stripMargin,

    "q_tfidf" ->
      """WITH t AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM t GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents)
        |SELECT doc_id, term, tf, round(tf * ln(CAST(n AS DOUBLE) / df), 6) AS tfidf
        |FROM tf JOIN dfreq USING (term), n WHERE df < n AND df >= 1""".stripMargin,

    "q_histogram" ->
      """WITH s AS (SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi FROM lineitem),
        |b AS (SELECT CAST(least(greatest(floor((l_extendedprice - lo) / ((hi - lo) / 16)), 0), 15) AS INTEGER) AS bin,
        |             l_extendedprice AS v FROM lineitem, s)
        |SELECT bin, CAST(count(*) AS BIGINT) AS n, min(v) AS bin_min, max(v) AS bin_max
        |FROM b GROUP BY bin""".stripMargin,

    "q_mad_outliers" ->
      """WITH m AS (SELECT quantile_disc(l_extendedprice, 0.5) AS med FROM lineitem),
        |d AS (SELECT quantile_disc(abs(l_extendedprice - med), 0.5) AS mad FROM lineitem, m)
        |SELECT l_orderkey, l_linenumber FROM lineitem, m, d
        |WHERE abs(l_extendedprice - med) > 1.8 * mad""".stripMargin,

    "q_lm_score" ->
      """WITH t AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term FROM documents),
        |lm AS (SELECT term, count(*) AS c FROM t GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS tot, CAST(count(*) AS DOUBLE) AS v FROM lm)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  round(CAST(sum(CAST(-ln((c + 1.0) / (tot + v)) AS DECIMAL(28,12))) AS DOUBLE)
        |    / count(*), 6) AS mean_nll
        |FROM t JOIN lm USING (term), tot
        |GROUP BY doc_id""".stripMargin,

    // the q_lm_score unigram-LM CTEs twice (general + in-domain), the
    // per-token ln difference truncated to decimal before the doc sum —
    // identical IEEE double steps to the Spark expression
    "q_moore_lewis" ->
      """WITH t AS (SELECT doc_id, (lang = 'en') AS ind,
        |    unnest(string_split_regex(lower(text), '\s+')) AS term FROM documents),
        |g AS (SELECT term, count(*) AS cg FROM t GROUP BY 1),
        |i AS (SELECT term, count(*) AS ci FROM t WHERE ind GROUP BY 1),
        |tg AS (SELECT CAST(sum(cg) AS DOUBLE) AS tg, CAST(count(*) AS DOUBLE) AS vg FROM g),
        |ti AS (SELECT CAST(sum(ci) AS DOUBLE) AS ti, CAST(count(*) AS DOUBLE) AS vi FROM i)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  round(CAST(sum(CAST(ln((cg + 1.0) / (tg + vg))
        |      - ln((coalesce(ci, 0) + 1.0) / (ti + vi)) AS DECIMAL(28,12))) AS DOUBLE)
        |    / count(*), 6) AS ce_diff,
        |  (round(CAST(sum(CAST(ln((cg + 1.0) / (tg + vg))
        |      - ln((coalesce(ci, 0) + 1.0) / (ti + vi)) AS DECIMAL(28,12))) AS DOUBLE)
        |    / count(*), 6) < 0) AS selected
        |FROM t JOIN g USING (term) LEFT JOIN i USING (term), tg, ti
        |GROUP BY doc_id""".stripMargin,

    // the q_lm_score and q_lm2_score CTEs (one shared unigram table),
    // then the DoReMi update replayed with the same guards: round-6 LM
    // means, decimal excess sums, round-9 exp, decimal weight total,
    // one fixed floor(1000*w/tot + 0.5)
    "q_doremi" ->
      s"""WITH $doremiCtes
        |SELECT source, n_docs, tokens, excess,
        |  CAST(floor(1000.0 * wr / tw + 0.5) AS BIGINT) AS weight_milli
        |FROM wt, tw""".stripMargin,

    // the doremi chain's u/b CTEs reused verbatim (same LM arithmetic);
    // threshold = quantile_disc (exactQuantiles' ceil(p*n) convention)
    "q_rho_select" ->
      s"""WITH $doremiCtes,
        |sc AS (SELECT u.doc_id, u.mean_nll, b.mean_nll2,
        |    u.mean_nll - b.mean_nll2 AS excess
        |  FROM u JOIN b USING (doc_id)),
        |rth AS (SELECT quantile_disc(excess, 0.75) AS thr FROM sc)
        |SELECT doc_id, mean_nll, mean_nll2, excess, (excess >= thr) AS selected
        |FROM sc, rth""".stripMargin,

    // the doremi chain feeding the q_mixture threshold replay: targets
    // are the milli-weights / 1000, counts the full per-source corpus,
    // the binding stratum keeps the full bucket range outright
    "q_doremi_sample" ->
      s"""WITH $doremiCtes,
        |tgt AS (SELECT source,
        |    CAST(floor(1000.0 * wr / tw + 0.5) AS BIGINT) / 1000.0 AS t
        |  FROM wt, tw
        |  WHERE CAST(floor(1000.0 * wr / tw + 0.5) AS BIGINT) > 0),
        |c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
        |s AS (SELECT min(n / t) AS scale FROM c JOIN tgt USING (source)),
        |r AS (SELECT tgt.source,
        |    CASE WHEN n / t = scale THEN 1000000
        |         ELSE CAST(floor(scale * t / n * 1000000) AS BIGINT) END AS thr
        |  FROM c JOIN tgt ON c.source = tgt.source, s)
        |SELECT d.doc_id, d.source FROM documents d JOIN r ON d.source = r.source
        |WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 < r.thr""".stripMargin,

    // per-term JS contributions with the same double arithmetic order as
    // the Spark column expression (p and q derived fresh at each use —
    // identical IEEE values), truncated to decimal before the group sum
    "q_js_drift" ->
      """WITH t AS (SELECT source AS grp,
        |    unnest(string_split_regex(lower(text), '\s+')) AS term FROM documents),
        |cgt AS (SELECT grp, term, count(*) AS cg FROM t GROUP BY 1, 2),
        |tgt AS (SELECT grp, count(*) AS tg FROM t GROUP BY 1),
        |ct AS (SELECT term, count(*) AS c FROM t GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS tt FROM ct),
        |base AS (SELECT ct.term, ct.c, tgt.grp, tgt.tg, cgt.cg
        |         FROM ct CROSS JOIN tgt
        |         LEFT JOIN cgt ON cgt.grp = tgt.grp AND cgt.term = ct.term),
        |j AS (SELECT grp, tg, CAST((
        |    (CASE WHEN cg IS NOT NULL
        |        THEN (CAST(coalesce(cg, 0) AS DOUBLE) / tg)
        |          * ln((CAST(coalesce(cg, 0) AS DOUBLE) / tg)
        |            / ((CAST(coalesce(cg, 0) AS DOUBLE) / tg + CAST(c AS DOUBLE) / tt) / 2.0))
        |        ELSE 0.0 END
        |     + (CAST(c AS DOUBLE) / tt)
        |        * ln((CAST(c AS DOUBLE) / tt)
        |          / ((CAST(coalesce(cg, 0) AS DOUBLE) / tg + CAST(c AS DOUBLE) / tt) / 2.0))
        |    ) * 0.5) AS DECIMAL(28,12)) AS contrib
        |  FROM base, tot)
        |SELECT grp AS source, CAST(max(tg) AS BIGINT) AS n_tokens,
        |  round(CAST(sum(contrib) AS DOUBLE), 6) AS js_div
        |FROM j GROUP BY grp""".stripMargin,

    // each pattern's leftmost non-overlapping count replayed as the SQL
    // replace() length identity — the kernel's contract by construction
    "q_blocklist" -> {
      val per = graft.functions.Blocklist.patterns.map { p =>
        s"((length(lower(text)) - length(replace(lower(text), '$p', ''))) // ${p.length})"
      }
      val total = per.mkString(" + ")
      val distinctHit = per.map(e => s"(CASE WHEN $e > 0 THEN 1 ELSE 0 END)").mkString(" + ")
      s"""SELECT doc_id, CAST($total AS BIGINT) AS n_hits,
         |  CAST($distinctHit AS BIGINT) AS n_patterns,
         |  (($total) >= 1) AS blocked
         |FROM documents WHERE text IS NOT NULL""".stripMargin
    },

    // counts equal q_blocklist's by the automaton's contract — the
    // replace()-arithmetic oracle is shared verbatim
    "q_blocklist_ac" -> {
      val per = graft.functions.Blocklist.patterns.map { p =>
        s"((length(lower(text)) - length(replace(lower(text), '$p', ''))) // ${p.length})"
      }
      val total = per.mkString(" + ")
      val distinctHit = per.map(e => s"(CASE WHEN $e > 0 THEN 1 ELSE 0 END)").mkString(" + ")
      s"""SELECT doc_id, CAST($total AS BIGINT) AS n_hits,
         |  CAST($distinctHit AS BIGINT) AS n_patterns,
         |  (($total) >= 1) AS blocked
         |FROM documents WHERE text IS NOT NULL""".stripMargin
    },

    // the q_bpe_tokens walk rolled up by language; ratios are single
    // rounded divisions over engine-exact integer sums
    "q_bpe_fertility" ->
      s"""WITH RECURSIVE ${bpeWalkCtes("documents")},
         |d AS (SELECT tok.doc_id, CAST(count(*) AS BIGINT) AS w,
         |        CAST(sum(coalesce(wc.c, 0)) AS BIGINT) AS bt
         |      FROM tok LEFT JOIN wc ON tok.w = wc.w GROUP BY tok.doc_id),
         |j AS (SELECT doc.lang, d.w, d.bt, length(doc.text) AS ch
         |      FROM d JOIN documents doc ON doc.doc_id = d.doc_id)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(bt) AS BIGINT) AS n_tokens_bpe,
         |  CAST(sum(w) AS BIGINT) AS n_words, CAST(sum(ch) AS BIGINT) AS n_chars,
         |  round(CAST(sum(bt) AS DOUBLE) / sum(w), 6) AS fertility,
         |  round(CAST(sum(ch) AS DOUBLE) / sum(bt), 6) AS chars_per_token
         |FROM j GROUP BY lang""".stripMargin,

    // Kneser-Ney replay: the same four count tables and the same
    // double-formula ordering (term1 + D*fwd/cv * (bwd/T)), per-bigram
    // NLL truncated to decimal before the doc sum
    "q_kn_score" ->
      """WITH w AS (SELECT doc_id,
        |    string_split_regex(lower(text), '\s+') AS w FROM documents),
        |t AS (SELECT doc_id, bg['a'] AS w1, bg['b'] AS w2 FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(w)),
        |    i -> {'a': w[i], 'b': w[i+1]})) AS bg FROM w)),
        |bi AS (SELECT w1, w2, count(*) AS cb FROM t GROUP BY 1, 2),
        |ctx AS (SELECT w1, CAST(sum(cb) AS DOUBLE) AS cv,
        |        CAST(count(*) AS DOUBLE) AS fwd FROM bi GROUP BY 1),
        |cont AS (SELECT w2, CAST(count(*) AS DOUBLE) AS bwd FROM bi GROUP BY 1),
        |ty AS (SELECT CAST(count(*) AS DOUBLE) AS tt FROM bi)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  round(CAST(sum(CAST(-ln(greatest(cb - 0.75, 0.0) / cv
        |      + 0.75 * fwd / cv * (bwd / tt)) AS DECIMAL(28,12))) AS DOUBLE)
        |    / count(*), 6) AS mean_nll_kn
        |FROM t JOIN bi USING (w1, w2) JOIN ctx USING (w1) JOIN cont USING (w2), ty
        |GROUP BY doc_id""".stripMargin,

    // the q_kn_score CTEs with the type table split kept/pruned at
    // c >= 2: kept types keep the full interpolated formula, pruned
    // types score the factorized continuation backoff
    // -ln(D*fwd/cv) + -ln(bwd/tt) — same double decomposition as Spark
    "q_knp_score" ->
      """WITH w AS (SELECT doc_id,
        |    string_split_regex(lower(text), '\s+') AS w FROM documents),
        |t AS (SELECT doc_id, bg['a'] AS w1, bg['b'] AS w2 FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(w)),
        |    i -> {'a': w[i], 'b': w[i+1]})) AS bg FROM w)),
        |bi AS (SELECT w1, w2, count(*) AS cb FROM t GROUP BY 1, 2),
        |ctx AS (SELECT w1, CAST(sum(cb) AS DOUBLE) AS cv,
        |        CAST(count(*) AS DOUBLE) AS fwd FROM bi GROUP BY 1),
        |cont AS (SELECT w2, CAST(count(*) AS DOUBLE) AS bwd FROM bi GROUP BY 1),
        |ty AS (SELECT CAST(count(*) AS DOUBLE) AS tt FROM bi),
        |model AS (SELECT w1, w2, -ln(greatest(cb - 0.75, 0.0) / cv
        |    + 0.75 * fwd / cv * (bwd / tt)) AS nll
        |  FROM bi JOIN ctx USING (w1) JOIN cont USING (w2), ty WHERE cb >= 2),
        |a AS (SELECT w1, -ln(0.75 * fwd / cv) AS a FROM ctx),
        |b AS (SELECT w2, -ln(bwd / tt) AS b FROM cont, ty)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  round(CAST(sum(CAST(coalesce(nll, a + b) AS DECIMAL(28,12))) AS DOUBLE)
        |    / count(*), 6) AS mean_nll_knp
        |FROM t LEFT JOIN model USING (w1, w2) JOIN a USING (w1) JOIN b USING (w2)
        |GROUP BY doc_id""".stripMargin,

    // same top-K head (freq desc, term ties), same closed-form least
    // squares with decimal-truncated ln sums and identical double
    // formula ordering
    "q_zipf_fit" ->
      """WITH c AS (SELECT term, count(*) AS freq FROM (
        |    SELECT unnest(string_split_regex(lower(text), '\s+')) AS term
        |    FROM documents) GROUP BY 1),
        |top AS (SELECT term, freq, row_number() OVER (ORDER BY freq DESC, term) AS rank
        |        FROM c ORDER BY freq DESC, term LIMIT 25),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n_terms,
        |    CAST(sum(CAST(ln(CAST(rank AS DOUBLE)) AS DECIMAL(28,12))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(ln(CAST(freq AS DOUBLE)) AS DECIMAL(28,12))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(ln(CAST(rank AS DOUBLE)) * ln(CAST(rank AS DOUBLE)) AS DECIMAL(28,12))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(ln(CAST(freq AS DOUBLE)) * ln(CAST(freq AS DOUBLE)) AS DECIMAL(28,12))) AS DOUBLE) AS syy,
        |    CAST(sum(CAST(ln(CAST(rank AS DOUBLE)) * ln(CAST(freq AS DOUBLE)) AS DECIMAL(28,12))) AS DOUBLE) AS sxy
        |  FROM top)
        |SELECT n_terms,
        |  round((CAST(n_terms AS DOUBLE) * sxy - sx * sy)
        |    / (CAST(n_terms AS DOUBLE) * sxx - sx * sx), 6) AS slope,
        |  round((sy - ((CAST(n_terms AS DOUBLE) * sxy - sx * sy)
        |      / (CAST(n_terms AS DOUBLE) * sxx - sx * sx)) * sx)
        |    / CAST(n_terms AS DOUBLE), 6) AS intercept,
        |  round(CASE WHEN CAST(n_terms AS DOUBLE) * syy - sy * sy = 0 THEN 1.0
        |    ELSE (CAST(n_terms AS DOUBLE) * sxy - sx * sy)
        |      * (CAST(n_terms AS DOUBLE) * sxy - sx * sy)
        |    / ((CAST(n_terms AS DOUBLE) * sxx - sx * sx)
        |      * (CAST(n_terms AS DOUBLE) * syy - sy * sy)) END, 6) AS r2
        |FROM a""".stripMargin,

    // the q_quality_clf margin CTEs with source carried through; source
    // means decimal-truncated, docs gated on the rounded source mean
    "q_domain_filter" ->
      """WITH t AS (SELECT doc_id, source,
        |    unnest(string_split_regex(lower(text), '\s+')) AS tok
        |  FROM documents WHERE text IS NOT NULL),
        |b AS (SELECT doc_id, source,
        |    ('0x' || substr(md5(tok), 1, 15))::BIGINT % 512 AS bk FROM t),
        |s AS (SELECT doc_id, source,
        |    CAST(SUM(('0x' || substr(md5('w' || bk), 1, 15))::BIGINT % 2001 - 1000) AS DOUBLE)
        |      / 1000.0 / count(*) + 0.1 AS margin
        |  FROM b GROUP BY doc_id, source),
        |g AS (SELECT source,
        |    round(CAST(sum(CAST(margin AS DECIMAL(28,12))) AS DOUBLE) / count(*), 6)
        |      AS source_quality
        |  FROM s GROUP BY source),
        |bar AS (SELECT
        |    round(CAST(sum(CAST(source_quality AS DECIMAL(28,12))) AS DOUBLE)
        |      / count(*), 6) AS quality_bar
        |  FROM g)
        |SELECT s.doc_id, s.source, g.source_quality, bar.quality_bar,
        |  (g.source_quality >= bar.quality_bar) AS kept
        |FROM s JOIN g USING (source), bar""".stripMargin,

    // the q_lm_score CTEs + quantile_disc terciles (ceil(p*n) order
    // statistics — verified identical to exactQuantiles' convention);
    // p literals interpolate from the same Scala doubles the query uses
    "q_ppl_buckets" ->
      s"""WITH t AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS term FROM documents),
         |lm AS (SELECT term, count(*) AS c FROM t GROUP BY 1),
         |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS tot, CAST(count(*) AS DOUBLE) AS v FROM lm),
         |sc AS (SELECT doc_id,
         |    round(CAST(sum(CAST(-ln((c + 1.0) / (tot + v)) AS DECIMAL(28,12))) AS DOUBLE)
         |      / count(*), 6) AS mean_nll
         |  FROM t JOIN lm USING (term), tot GROUP BY doc_id),
         |th AS (SELECT quantile_disc(mean_nll, ${1.0 / 3}) AS t1,
         |              quantile_disc(mean_nll, ${2.0 / 3}) AS t2 FROM sc)
         |SELECT doc_id, mean_nll,
         |  CASE WHEN mean_nll <= t1 THEN 'head'
         |       WHEN mean_nll <= t2 THEN 'middle'
         |       ELSE 'tail' END AS ppl_bucket
         |FROM sc, th""".stripMargin,

    // the q_lm_score CTEs + quantile_disc quartiles (exactQuantiles'
    // ceil(p*n) convention) + the q_shards hash/rank machinery keyed on
    // the composite (shard, stage)
    "q_curriculum" ->
      """WITH t AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term FROM documents),
        |lm AS (SELECT term, count(*) AS c FROM t GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS tot, CAST(count(*) AS DOUBLE) AS v FROM lm),
        |sc AS (SELECT doc_id,
        |    round(CAST(sum(CAST(-ln((c + 1.0) / (tot + v)) AS DECIMAL(28,12))) AS DOUBLE)
        |      / count(*), 6) AS mean_nll
        |  FROM t JOIN lm USING (term), tot GROUP BY doc_id),
        |th AS (SELECT quantile_disc(mean_nll, 0.25) AS t1,
        |              quantile_disc(mean_nll, 0.5) AS t2,
        |              quantile_disc(mean_nll, 0.75) AS t3 FROM sc),
        |d AS (SELECT doc_id, mean_nll,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 4 AS shard,
        |    CAST(CASE WHEN mean_nll <= t1 THEN 0 WHEN mean_nll <= t2 THEN 1
        |         WHEN mean_nll <= t3 THEN 2 ELSE 3 END AS BIGINT) AS stage,
        |    ('0x' || substr(md5('pos_' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000007 AS ord
        |  FROM sc, th)
        |SELECT doc_id, mean_nll, shard, stage,
        |  CAST(row_number() OVER (PARTITION BY shard, stage ORDER BY ord, doc_id) AS BIGINT) - 1 AS stage_pos
        |FROM d""".stripMargin,

    // scalar-context range() builds the bigram index list (the proven
    // shingle-CTE pattern — range as a TABLE function can't take lateral
    // args, as a list expression it can)
    "q_lm2_score" ->
      """WITH w AS (SELECT doc_id,
        |    string_split_regex(lower(text), '\s+') AS w FROM documents),
        |t AS (SELECT doc_id, unnest(w) AS term FROM w),
        |uni AS (SELECT term, count(*) AS c1 FROM t GROUP BY 1),
        |v AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM uni),
        |bgt AS (SELECT doc_id, bg['a'] AS w1, bg['b'] AS w2 FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(w)),
        |    i -> {'a': w[i], 'b': w[i+1]})) AS bg FROM w)),
        |bi AS (SELECT w1, w2, count(*) AS cb FROM bgt GROUP BY 1, 2)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  round(CAST(sum(CAST(-ln((cb + 1.0) / (c1 + v)) AS DECIMAL(28,12))) AS DOUBLE)
        |    / count(*), 6) AS mean_nll2
        |FROM bgt JOIN bi USING (w1, w2) JOIN uni ON bgt.w1 = uni.term, v
        |GROUP BY doc_id""".stripMargin,

    // the q_lm2_score CTEs with the model split kept/pruned at c >= 2:
    // kept types keep the exact add-1 nll, pruned types score the
    // unseen term ln(c1+v) — identical IEEE steps to the Spark
    // expression (ln(c1+v), NOT -ln(1/(c1+v)), on both engines)
    "q_lm2p_score" ->
      """WITH w AS (SELECT doc_id,
        |    string_split_regex(lower(text), '\s+') AS w FROM documents),
        |t AS (SELECT doc_id, unnest(w) AS term FROM w),
        |uni AS (SELECT term, count(*) AS c1 FROM t GROUP BY 1),
        |v AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM uni),
        |bgt AS (SELECT doc_id, bg['a'] AS w1, bg['b'] AS w2 FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(w)),
        |    i -> {'a': w[i], 'b': w[i+1]})) AS bg FROM w)),
        |model AS (SELECT w1, w2, -ln((cb + 1.0) / (c1 + v)) AS nll
        |  FROM (SELECT w1, w2, count(*) AS cb FROM bgt GROUP BY 1, 2)
        |  JOIN uni ON w1 = term, v WHERE cb >= 2),
        |a AS (SELECT term AS w1, ln(c1 + v) AS a FROM uni, v)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  round(CAST(sum(CAST(coalesce(nll, a) AS DECIMAL(28,12))) AS DOUBLE)
        |    / count(*), 6) AS mean_nll2p
        |FROM bgt LEFT JOIN model USING (w1, w2) JOIN a USING (w1)
        |GROUP BY doc_id""".stripMargin,

    "q_mixture" ->
      """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
        |t(source, tgt) AS (VALUES ('src0', 0.4), ('src1', 0.3), ('src2', 0.2), ('src3', 0.1)),
        |s AS (SELECT min(n / tgt) AS scale FROM c JOIN t USING (source)),
        |r AS (SELECT t.source,
        |        CASE WHEN n / tgt = scale THEN 1000000
        |             ELSE CAST(floor(scale * tgt / n * 1000000) AS BIGINT) END AS thr
        |      FROM c JOIN t ON c.source = t.source, s)
        |SELECT d.doc_id, d.source FROM documents d JOIN r ON d.source = r.source
        |WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 < r.thr""".stripMargin,

    "q_repetition" ->
      """WITH d AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS w FROM documents),
        |b AS (SELECT doc_id, w, len(w) AS n,
        |    CASE WHEN len(w) >= 2
        |         THEN list_transform(generate_series(1, len(w)-1), i -> w[i] || ' ' || w[i+1])
        |         ELSE [] END AS bg
        |  FROM d)
        |SELECT doc_id,
        |  round(1 - CAST(len(list_distinct(w)) AS DOUBLE) / n, 6) AS dup_word_frac,
        |  round(CAST(list_max(list_transform(list_distinct(w),
        |      x -> len(list_filter(w, y -> y = x)))) AS DOUBLE) / n, 6) AS top_word_frac,
        |  CASE WHEN n < 2 THEN 0.0
        |       ELSE round(1 - CAST(len(list_distinct(bg)) AS DOUBLE) / (n-1), 6)
        |  END AS dup_bigram_frac
        |FROM b""".stripMargin,

    "q_pii_scrub" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(
        |        text || ' contact user' || CAST(doc_id AS VARCHAR)
        |          || '@mail.example.com acct '
        |          || CAST((doc_id + 1000000) * 17 AS VARCHAR) || ' end',
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '[0-9]{7,}', '<NUM>', 'g') AS sc
        |  FROM documents)
        |SELECT doc_id, CAST(length(sc) AS INTEGER) AS n_scrubbed,
        |  substr(sc, -60, 60) AS tail
        |FROM s""".stripMargin,

    "q_multimodal" -> {
      val d = 8
      val dimSums = (0 until d).map(j =>
        s"coalesce(sum(CASE WHEN i % $d = $j THEN v END), 0) AS s$j").mkString(", ")
      val feats = (0 until d).map(j =>
        s"CAST(s$j / 255.0 / n AS REAL) AS f$j").mkString(", ")
      // start the fold from a DOUBLE so each float term promotes (DuckDB's
      // bare 0.0 is DECIMAL and would keep the sum in float32)
      val fold = (0 until d).map(j => s"f$j").mkString("CAST(0.0 AS DOUBLE) + ", " + ", "")
      s"""WITH b AS (SELECT doc_id, encode(text) AS blob FROM documents),
         |bytes AS (
         |  SELECT doc_id, unnest(range(octet_length(blob))) AS i,
         |    blob FROM b),
         |bv AS (SELECT doc_id, i,
         |    ('0x' || substr(hex(blob), CAST(i * 2 + 1 AS INTEGER), 2))::BIGINT AS v
         |  FROM bytes),
         |s AS (SELECT doc_id, $dimSums FROM bv GROUP BY doc_id),
         |n AS (SELECT doc_id, greatest(octet_length(blob) // $d, 1) AS n FROM b),
         |f AS (SELECT s.doc_id, $feats FROM s JOIN n ON s.doc_id = n.doc_id)
         |SELECT doc_id AS media_id, round($fold, 4) AS feat_sum FROM f""".stripMargin
    },

    // Recomputes the PCM samples from the word hashes the encoder drew
    // them from — the decode is only correct if the RIFF chunk walk,
    // little-endian shorts, and data offset all land exactly
    "q_wav_audio" ->
      s"""WITH w AS (SELECT doc_id,
         |    list_transform(string_split_regex(lower(text), '\\s+'),
         |      t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % ${Dedup.P}) AS wh
         |  FROM documents WHERE text IS NOT NULL),
         |s AS (SELECT doc_id,
         |    list_transform(wh, x -> (x % 65536) - 32768) AS ss FROM w)
         |SELECT doc_id AS media_id, 'wav' AS format,
         |  CAST(16000 AS INTEGER) AS sample_rate,
         |  CAST(len(ss) AS BIGINT) AS n_samples,
         |  CAST(coalesce(list_sum(list_transform(ss, v -> abs(v))), 0) AS BIGINT)
         |    AS sum_abs,
         |  CAST(len(list_filter(range(1, len(ss)),
         |    i -> (ss[i] >= 0) <> (ss[i+1] >= 0))) AS BIGINT) AS zero_crossings
         |FROM s""".stripMargin,

    // FLAC: the q_wav_audio replay (lossless codec — identical samples),
    // format tag 'flac', with the stereo odd-tail truncation mirrored
    "q_flac_audio" ->
      s"""WITH w AS (SELECT doc_id,
         |    list_transform(string_split_regex(lower(text), '\\s+'),
         |      t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % ${Dedup.P}) AS wh
         |  FROM documents WHERE text IS NOT NULL),
         |s0 AS (SELECT doc_id,
         |    list_transform(wh, x -> (x % 65536) - 32768) AS ss FROM w),
         |s AS (SELECT doc_id,
         |    CASE WHEN doc_id % 3 = 0 AND len(ss) % 2 = 1
         |      THEN ss[1:len(ss)-1] ELSE ss END AS ss FROM s0)
         |SELECT doc_id AS media_id, 'flac' AS format,
         |  CAST(16000 AS INTEGER) AS sample_rate,
         |  CAST(len(ss) AS BIGINT) AS n_samples,
         |  CAST(coalesce(list_sum(list_transform(ss, v -> abs(v))), 0) AS BIGINT)
         |    AS sum_abs,
         |  CAST(len(list_filter(range(1, len(ss)),
         |    i -> (ss[i] >= 0) <> (ss[i+1] >= 0))) AS BIGINT) AS zero_crossings
         |FROM s""".stripMargin,

    // MP3 frame-walk ground truth straight from the plant arithmetic:
    // duration = frames x 1152 samples at the planted rate (integer ms)
    "q_mp3_audio" ->
      """SELECT doc_id, 'mp3' AS format,
        |  CAST(CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
        |    ELSE 32000 END AS INTEGER) AS sample_rate,
        |  CAST(1 + doc_id % 2 AS INTEGER) AS channels,
        |  CAST(3 + doc_id % 5 AS INTEGER) AS frames,
        |  CAST(((3 + doc_id % 5) * 1152 * 1000)
        |    // CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
        |       ELSE 32000 END AS BIGINT) AS duration_ms,
        |  CAST(CASE doc_id % 4 WHEN 0 THEN 64 WHEN 1 THEN 128
        |    WHEN 2 THEN 192 ELSE 320 END AS INTEGER) AS bitrate_kbps,
        |  false AS vbr,
        |  CAST(0 AS INTEGER) AS bad_frames
        |FROM documents WHERE text IS NOT NULL""".stripMargin,

    // replays q_h264_video's fixture arithmetic: dimensions from the
    // mb-count formula minus the 4:2:0 crop, duration from the VUI
    // fps (floor to ms, the parser's integer convention)
    "q_h264_video" ->
      """SELECT doc_id, 'h264' AS format,
        |  CASE WHEN doc_id % 2 = 0 THEN 'baseline' ELSE 'high' END AS profile,
        |  '3.1' AS level,
        |  CAST(16 * (2 + doc_id % 4)
        |    - CASE WHEN doc_id % 5 = 0 THEN 2 ELSE 0 END AS INTEGER) AS width,
        |  CAST(16 * (3 + doc_id % 3) AS INTEGER) AS height,
        |  CAST(3 + doc_id % 6 AS INTEGER) AS frames,
        |  CAST(1 AS INTEGER) AS idr_frames,
        |  CAST(CASE doc_id % 3 WHEN 0 THEN 24.0 WHEN 1 THEN 30.0
        |    ELSE 60.0 END AS DOUBLE) AS fps,
        |  CAST(floor((3 + doc_id % 6) * 1000.0
        |    / CASE doc_id % 3 WHEN 0 THEN 24.0 WHEN 1 THEN 30.0
        |      ELSE 60.0 END) AS BIGINT) AS duration_ms,
        |  CAST(0 AS INTEGER) AS bad_nals
        |FROM documents WHERE text IS NOT NULL""".stripMargin,

    // decimation: mono docs slice every 4th sample (1-based ss[4k+1]);
    // stereo docs (doc_id%3=0) keep BOTH interleaved samples of every
    // 4th FRAME (f[8k+1], f[8k+2]) — then the q_wav_audio stats over
    // the sliced sequence at rate/4. The frame replay is what makes a
    // raw-sample stereo stride (channel swap) fail the hash
    "q_resample" ->
      s"""WITH w AS (SELECT doc_id,
         |    list_transform(string_split_regex(lower(text), '\\s+'),
         |      t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % ${Dedup.P}) AS wh
         |  FROM documents WHERE text IS NOT NULL),
         |s0 AS (SELECT doc_id,
         |    list_transform(wh, x -> (x % 65536) - 32768) AS f FROM w),
         |s AS (SELECT doc_id,
         |    CASE WHEN doc_id % 3 = 0 THEN
         |      flatten(list_transform(range(0, ((len(f) // 2) + 3) // 4),
         |        k -> [f[8 * k + 1], f[8 * k + 2]]))
         |    ELSE
         |      list_transform(range(0, (len(f) + 3) // 4), k -> f[4 * k + 1])
         |    END AS ss
         |  FROM s0)
         |SELECT doc_id AS media_id, 'wav' AS format,
         |  CAST(4000 AS INTEGER) AS sample_rate,
         |  CAST(len(ss) AS BIGINT) AS n_samples,
         |  CAST(coalesce(list_sum(list_transform(ss, v -> abs(v))), 0) AS BIGINT)
         |    AS sum_abs,
         |  CAST(len(list_filter(range(1, len(ss)),
         |    i -> (ss[i] >= 0) <> (ss[i+1] >= 0))) AS BIGINT) AS zero_crossings
         |FROM s""".stripMargin,

    // Recomputes both pixel sums from the generating formula; gy_sum is
    // row-weighted so a vertical flip (forgetting bottom-up rows) or bad
    // 4-byte padding arithmetic cannot cancel out
    "q_bmp_image" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(4 + doc_id % 13 AS INTEGER) AS w,
        |    CAST(3 + doc_id % 7 AS INTEGER) AS h
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (SELECT d.doc_id, d.w, d.h, y.y,
        |    ((x.x * 7 + y.y * 101 + 2 * d.doc_id) % 256) AS g
        |  FROM d, range(0, 16) x(x), range(0, 9) y(y)
        |  WHERE x.x < d.w AND y.y < d.h)
        |SELECT doc_id AS media_id, 'bmp' AS format, w AS width, h AS height,
        |  CAST(3 AS INTEGER) AS channels,
        |  CAST(sum(g) AS BIGINT) AS g_sum,
        |  CAST(sum((y + 1) * g) AS BIGINT) AS gy_sum
        |FROM g GROUP BY doc_id, w, h""".stripMargin,

    // PNG: same formula replay with the png dims (w=3+id%12, h=5+id%7);
    // any DEFLATE/filter/IDAT-concat bug in the decoder breaks these sums
    "q_png_image" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(3 + doc_id % 12 AS INTEGER) AS w,
        |    CAST(5 + doc_id % 7 AS INTEGER) AS h
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (SELECT d.doc_id, d.w, d.h, y.y,
        |    ((x.x * 7 + y.y * 101 + 2 * d.doc_id) % 256) AS g
        |  FROM d, range(0, 15) x(x), range(0, 12) y(y)
        |  WHERE x.x < d.w AND y.y < d.h)
        |SELECT doc_id AS media_id, 'png' AS format, w AS width, h AS height,
        |  CAST(3 AS INTEGER) AS channels,
        |  CAST(sum(g) AS BIGINT) AS g_sum,
        |  CAST(sum((y + 1) * g) AS BIGINT) AS gy_sum
        |FROM g GROUP BY doc_id, w, h""".stripMargin,

    // GIF: the gray palette makes pixel green == the LZW-coded index,
    // so the formula replays directly; interlaced writes must still sum
    // identically because the decoder restores logical row order
    "q_gif_image" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(4 + doc_id % 9 AS INTEGER) AS w,
        |    CAST(3 + doc_id % 10 AS INTEGER) AS h
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (SELECT d.doc_id, d.w, d.h, y.y,
        |    ((x.x * 31 + y.y * 17 + d.doc_id) % 256) AS g
        |  FROM d, range(0, 13) x(x), range(0, 13) y(y)
        |  WHERE x.x < d.w AND y.y < d.h)
        |SELECT doc_id AS media_id, 'gif' AS format, w AS width, h AS height,
        |  CAST(3 AS INTEGER) AS channels,
        |  CAST(sum(g) AS BIGINT) AS g_sum,
        |  CAST(sum((y + 1) * g) AS BIGINT) AS gy_sum
        |FROM g GROUP BY doc_id, w, h""".stripMargin,

    // JPEG: block-constant formula replay (v = (bx*31+by*17+5*id)%256
    // per 8x8 block) — the unit-quant DC-only bridge makes the lossy
    // codec exact, so a Huffman/dequant/IDCT/restart bug breaks the sums
    "q_jpeg_image" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(8 + (doc_id % 3) * 4 AS INTEGER) AS w,
        |    CAST(8 + (doc_id % 5) * 2 AS INTEGER) AS h
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (SELECT d.doc_id, d.w, d.h, y.y,
        |    (((x.x // 8) * 31 + (y.y // 8) * 17 + 5 * d.doc_id) % 256) AS g
        |  FROM d, range(0, 16) x(x), range(0, 16) y(y)
        |  WHERE x.x < d.w AND y.y < d.h)
        |SELECT doc_id AS media_id, 'jpeg' AS format, w AS width, h AS height,
        |  CAST(3 AS INTEGER) AS channels,
        |  CAST(sum(g) AS BIGINT) AS g_sum,
        |  CAST(sum((y + 1) * g) AS BIGINT) AS gy_sum
        |FROM g GROUP BY doc_id, w, h""".stripMargin,

    // real resize: pooled green means (floor of box mean, grid-aligned
    // integer boxes) recomputed from the source pixel formula; the
    // Spark side must round-trip decode→pool→encode→decode exactly
    "q_resize" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(3 + doc_id % 12 AS INTEGER) AS w,
        |    CAST(5 + doc_id % 7 AS INTEGER) AS h
        |  FROM documents WHERE text IS NOT NULL),
        |cell AS (SELECT d.doc_id, ox.ox, oy.oy,
        |    CAST(sum((x.x * 7 + y.y * 101 + 2 * d.doc_id) % 256)
        |      // count(*) AS BIGINT) AS g
        |  FROM d, range(0, 3) ox(ox), range(0, 5) oy(oy),
        |       range(0, 15) x(x), range(0, 12) y(y)
        |  WHERE x.x >= ox.ox * d.w // 3 AND x.x < (ox.ox + 1) * d.w // 3
        |    AND y.y >= oy.oy * d.h // 5 AND y.y < (oy.oy + 1) * d.h // 5
        |  GROUP BY d.doc_id, ox.ox, oy.oy)
        |SELECT doc_id AS media_id, 'png' AS format,
        |  CAST(3 AS INTEGER) AS width, CAST(5 AS INTEGER) AS height,
        |  CAST(3 AS INTEGER) AS channels,
        |  CAST(sum(g) AS BIGINT) AS g_sum,
        |  CAST(sum((oy + 1) * g) AS BIGINT) AS gy_sum
        |FROM cell GROUP BY doc_id""".stripMargin,

    // perceptual near-dup: the full dHash56 replay (9x7 integer-pooled
    // gray grid from md5-noise pixels — the md5Long convention, one
    // hash per (seed, x, y) split into three channels, 8x7 horizontal-
    // gradient bits) then brute-force Hamming pairs — brute force is
    // fine for the sf-bounded ORACLE; the Spark side must band.
    // Planted brightness pairs (2k, 2k+1) land at hamming 0 identically
    "q_image_dedup" ->
      """WITH d AS (SELECT doc_id, doc_id // 2 AS seed, 3 * (doc_id % 2) AS br
        |  FROM documents WHERE text IS NOT NULL),
        |px AS (SELECT d.doc_id, d.br, x.x, y.y,
        |    ('0x' || substr(md5('px_' || CAST(d.seed AS VARCHAR) || '_'
        |      || CAST(x.x AS VARCHAR) || '_' || CAST(y.y AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM d, range(0, 16) x(x), range(0, 12) y(y)),
        |cell AS (SELECT px.doc_id, i.i, j.j,
        |    CAST(sum(px.h % 247 + (px.h // 247) % 247
        |      + (px.h // 247 // 247) % 247 + 3 * px.br)
        |      // count(*) AS BIGINT) AS g
        |  FROM px, range(0, 9) i(i), range(0, 7) j(j)
        |  WHERE px.x >= i.i * 16 // 9 AND px.x < (i.i + 1) * 16 // 9
        |    AND px.y >= j.j * 12 // 7 AND px.y < (j.j + 1) * 12 // 7
        |  GROUP BY px.doc_id, i.i, j.j),
        |h AS (SELECT a.doc_id,
        |    CAST(coalesce(sum(CASE WHEN a.g > b.g
        |      THEN CAST(1 AS BIGINT) << CAST(a.j * 8 + a.i AS INTEGER)
        |      ELSE CAST(0 AS BIGINT) END), 0) AS BIGINT) AS fp
        |  FROM cell a JOIN cell b
        |    ON a.doc_id = b.doc_id AND a.j = b.j AND b.i = a.i + 1
        |  WHERE a.i < 8
        |  GROUP BY a.doc_id)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS hamming
        |FROM h a JOIN h b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.fp, b.fp)) <=
        |  CASE WHEN (SELECT count(*) FROM documents) > 200000
        |       THEN 1 ELSE 3 END""".stripMargin,

    // frame sampling: every 4th 32-byte slice; frames compared as hex
    // (both engines' hex() is uppercase and DuckDB lacks blob md5)
    "q_frames" ->
      """WITH b AS (SELECT doc_id, encode(text) AS blob FROM documents),
        |f AS (SELECT doc_id, blob,
        |        unnest(range(0, octet_length(blob) // 32, 4)) AS fi FROM b)
        |SELECT doc_id AS media_id, CAST(fi AS INTEGER) AS frame_index,
        |  substr(hex(blob), CAST(fi * 64 + 1 AS INTEGER), 64) AS frame_hex
        |FROM f""".stripMargin,

    // IVF: cells = first 16 corpus vectors; argmin cell assignment
    // (first-wins ties), 2-cell probe per query, cosine top-3
    "q_ann_ivf" ->
      s"""WITH flat AS (
         |  SELECT vec_id, d, CAST(list_extract(embedding, CAST(d + 1 AS INTEGER)) AS DOUBLE) AS x
         |  FROM embeddings, range(64) td(d)),
         |cent AS (SELECT vec_id AS cell, d, x FROM flat WHERE vec_id < 16),
         |dist AS (
         |  SELECT f.vec_id, c.cell, sum((f.x - c.x) * (f.x - c.x)) AS dd
         |  FROM flat f JOIN cent c ON f.d = c.d
         |  GROUP BY f.vec_id, c.cell),
         |rkd AS (SELECT vec_id, cell,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dd, cell) AS rn
         |  FROM dist),
         |assign AS (SELECT vec_id, cell FROM rkd WHERE rn = 1),
         |probe AS (SELECT vec_id AS qid, cell FROM rkd WHERE vec_id < 5 AND rn <= 2),
         |cand AS (
         |  SELECT p.qid, a.vec_id
         |  FROM probe p JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.qid),
         |n2 AS (SELECT vec_id, sum(x * x) AS s FROM flat GROUP BY vec_id),
         |dp AS (
         |  SELECT cd.qid, cd.vec_id, sum(fa.x * fb.x) AS dot
         |  FROM cand cd
         |  JOIN flat fa ON fa.vec_id = cd.qid
         |  JOIN flat fb ON fb.vec_id = cd.vec_id AND fb.d = fa.d
         |  GROUP BY cd.qid, cd.vec_id),
         |sc2 AS (
         |  SELECT dp.qid, dp.vec_id, round(dp.dot / (sqrt(na.s) * sqrt(nb.s)), 4) AS score
         |  FROM dp JOIN n2 na ON na.vec_id = dp.qid JOIN n2 nb ON nb.vec_id = dp.vec_id),
         |rk AS (SELECT qid, vec_id, score,
         |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rank
         |  FROM sc2)
         |SELECT qid, vec_id, CAST(rank AS INTEGER) AS rank, score FROM rk WHERE rank <= 3""".stripMargin,

    "q_time_features" ->
      """SELECT o_orderkey, CAST(year(o_orderdate) AS INTEGER) AS year,
        | strftime(o_orderdate, '%m') AS month, strftime(o_orderdate, '%d') AS day
        |FROM orders""".stripMargin,

    "q_stdscale" ->
      """WITH st AS (SELECT avg(c_acctbal) AS mu, stddev_samp(c_acctbal) AS sd FROM customer)
        |SELECT c_custkey, round((c_acctbal - mu) / sd, 6) AS acctbal_scaled
        |FROM customer, st""".stripMargin,

    "q_mean_impute" ->
      """WITH ev AS (SELECT event_id,
        |  CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v FROM events),
        |m AS (SELECT avg(v) AS mu FROM ev)
        |SELECT event_id, round(coalesce(v, mu), 6) AS value_imputed FROM ev, m""".stripMargin,

    "q_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
        |  coalesce(l_linestatus, 'ALL') AS status,
        |  count(*) AS n,
        |  round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS revenue
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,

    "q_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
        |  coalesce(l_linestatus, 'ALL') AS status,
        |  count(*) AS n, round(sum(l_quantity), 2) AS qty
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,

    "q_setops" ->
      """SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'""".stripMargin,

    "q_profile" ->
      """SELECT source, count(*) AS n_docs,
        |  round(avg(n_chars), 6) AS mean_chars,
        |  CAST(round(quantile_cont(n_chars, 0.5), 4) AS DOUBLE) AS p50_chars,
        |  CAST(round(quantile_cont(n_chars, 0.9), 4) AS DOUBLE) AS p90_chars
        |FROM documents GROUP BY source""".stripMargin,

    "q_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000 <
        |  CASE WHEN lang = 'en' THEN 5000 WHEN lang = 'de' THEN 2000 ELSE 1000 END""".stripMargin,

    // The whole three-stage composition replayed: gopher rule gate
    // (minStopHits=1), temperature thresholds computed on the SURVIVOR
    // lang counts, BPE walk over the sampled survivors, per-lang budget
    "q_curate4" -> {
      val req = Seq("the", "be", "to", "of", "and", "that", "have", "with")
      val hits = req.map(sw => s"CAST(list_contains(w, '$sw') AS INT)").mkString(" + ")
      s"""WITH RECURSIVE
         |gm AS (SELECT doc_id, len(w) AS nw,
         |    CAST(list_sum(list_transform(w, x -> len(x))) AS DOUBLE)
         |      / greatest(len(w), 1) AS mean_len,
         |    ((len(text) - len(replace(text, '#', '')))
         |      + (len(text) - len(replace(text, '...', ''))) / 3)
         |      / CAST(greatest(len(w), 1) AS DOUBLE) AS sym,
         |    CAST(len(list_filter(lines, l -> regexp_matches(l, '^[-*•] '))) AS DOUBLE)
         |      / greatest(len(lines), 1) AS bullet,
         |    CAST(len(list_filter(lines, l -> regexp_matches(l, '\\.\\.\\.$$'))) AS DOUBLE)
         |      / greatest(len(lines), 1) AS ell,
         |    CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
         |      / greatest(len(w), 1) AS alpha,
         |    $hits AS sh
         |  FROM (SELECT doc_id, text, string_split_regex(lower(text), '\\s+') AS w,
         |        string_split(text, chr(10)) AS lines
         |        FROM documents WHERE text IS NOT NULL)),
         |surv0 AS (SELECT d.doc_id, d.lang, d.text
         |  FROM documents d JOIN gm USING (doc_id)
         |  WHERE gm.nw BETWEEN 50 AND 100000 AND gm.mean_len BETWEEN 3.0 AND 10.0
         |    AND gm.sym <= 0.1 AND gm.bullet <= 0.9 AND gm.ell <= 0.3
         |    AND gm.alpha >= 0.8 AND gm.sh >= 1),
         |lc AS (SELECT lang, count(*) AS c FROM surv0 GROUP BY lang),
         |lw AS (SELECT lang, c, CAST(floor(sqrt(c)) AS BIGINT) AS w FROM lc),
         |lt AS (SELECT lang, least(10000, (10000 * 150 * w)
         |    // ((SELECT CAST(sum(w) AS BIGINT) FROM lw) * c)) AS thr FROM lw),
         |surv AS (SELECT s.doc_id, s.lang, s.text FROM surv0 s
         |  JOIN lt ON s.lang = lt.lang
         |  WHERE ('0x' || substr(md5(CAST(s.doc_id AS VARCHAR)), 1, 15))::BIGINT
         |        % 10000 < lt.thr),
         |${bpeWalkCtes("surv")},
         |d AS (SELECT tok.doc_id, CAST(sum(coalesce(wc.c, 0)) AS BIGINT) AS n_tokens_bpe
         |      FROM tok LEFT JOIN wc ON tok.w = wc.w GROUP BY tok.doc_id),
         |d2 AS (SELECT d.doc_id, s.lang, d.n_tokens_bpe FROM d JOIN surv s USING (doc_id)),
         |cm AS (SELECT *, sum(n_tokens_bpe) OVER (PARTITION BY lang ORDER BY doc_id
         |        ROWS UNBOUNDED PRECEDING) AS cum FROM d2)
         |SELECT doc_id, lang, n_tokens_bpe FROM cm WHERE cum <= 5000""".stripMargin
    },

    // Chains the three stage oracles: oov gate, bloom gate (bit-exact FP
    // replay), then the minhash cluster closure over the SURVIVOR shingle
    // relation hs (candidates/verify/closure are pairwise, so the subset
    // replay matches Spark's subset computation), then the md5 train gate
    "q_curate5" ->
      s"""WITH RECURSIVE
         |otok AS (SELECT doc_id,
         |    unnest(string_split_regex(lower(text), '\\s+')) AS t
         |  FROM documents WHERE text IS NOT NULL),
         |ov AS (SELECT t FROM (SELECT t, count(*) AS c FROM otok
         |  GROUP BY t ORDER BY c DESC, t LIMIT 20)),
         |od AS (SELECT doc_id, count(*) AS n_tokens,
         |    sum(CASE WHEN t IN (SELECT t FROM ov) THEN 0 ELSE 1 END) AS n_oov
         |  FROM otok GROUP BY doc_id),
         |$mhShingleCtes,
         |bsh AS (SELECT DISTINCT hm FROM h WHERE doc_id < 5),
         |bits AS (SELECT DISTINCT
         |    ('0x' || substr(md5('bl' || r.i || '_' || CAST(hm AS VARCHAR)), 1, 15))::BIGINT
         |      % 4096 AS p
         |  FROM bsh CROSS JOIN range(0, 4) AS r(i)),
         |bpr AS (SELECT h.doc_id, h.hm, count(b.p) AS inb
         |  FROM h CROSS JOIN range(0, 4) AS r(i)
         |  LEFT JOIN bits b ON b.p =
         |    ('0x' || substr(md5('bl' || r.i || '_' || CAST(h.hm AS VARCHAR)), 1, 15))::BIGINT % 4096
         |  GROUP BY h.doc_id, h.hm),
         |bsum AS (SELECT doc_id,
         |    sum(CASE WHEN inb = 4 THEN 1 ELSE 0 END) AS bh
         |  FROM bpr GROUP BY doc_id),
         |surv AS (SELECT od.doc_id, od.n_tokens,
         |    CAST(od.n_oov AS DOUBLE) / greatest(od.n_tokens, 1) AS oov_rate
         |  FROM od JOIN bsum USING (doc_id)
         |  WHERE CAST(od.n_oov AS DOUBLE) / greatest(od.n_tokens, 1) <= 0.35
         |    AND bsum.bh = 0),
         |hs AS (SELECT h.doc_id, h.hm FROM h JOIN surv USING (doc_id)),
         |${mhSigCandCtesOver("hs")},
         |${mhVerifiedEdgeCtesOver("hs")},
         |cl AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id
         |       FROM reach GROUP BY a),
         |asg AS (SELECT s.doc_id, coalesce(cl.cluster_id, s.doc_id) AS cluster_id,
         |        s.n_tokens, s.oov_rate
         |        FROM surv s LEFT JOIN cl ON cl.doc_id = s.doc_id)
         |SELECT doc_id, cluster_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |  round(oov_rate, 6) AS oov_rate
         |FROM (SELECT *,
         |  ('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS bk
         |  FROM asg)
         |WHERE bk < 80""".stripMargin,

    // floor(sqrt) weights + pure BIGINT threshold arithmetic: the
    // allocation replays exactly (IEEE sqrt is correctly rounded)
    "q_temp_mixture" ->
      """WITH c AS (SELECT lang, count(*) AS c FROM documents GROUP BY lang),
        |w AS (SELECT lang, c, CAST(floor(sqrt(c)) AS BIGINT) AS w FROM c),
        |tot AS (SELECT CAST(sum(w) AS BIGINT) AS wt FROM w),
        |t AS (SELECT lang, least(10000, (10000 * 200 * w) // (wt * c)) AS thr
        |      FROM w, tot)
        |SELECT d.doc_id, d.lang
        |FROM documents d JOIN t ON d.lang = t.lang
        |WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
        |      % 10000 < t.thr""".stripMargin,

    // ceil(sqrt) is IEEE-exact; rank order = md5 bucket (mod 1e6, the
    // operator's fine bucket) with doc_id tiebreak, replayed identically
    "q_source_cap" ->
      """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
        |caps AS (SELECT source, n,
        |    greatest(2, CAST(ceil(sqrt(n)) AS BIGINT)) AS cap FROM c),
        |r AS (SELECT d.doc_id, d.source, caps.cap, caps.n,
        |    row_number() OVER (PARTITION BY d.source ORDER BY
        |      ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
        |        % 1000000, d.doc_id) AS rk
        |  FROM documents d JOIN caps USING (source))
        |SELECT doc_id, source, cap AS source_cap FROM r
        |WHERE n <= cap OR rk <= cap""".stripMargin,

    // The waterfill's closed form: sorted ascending, epoch-capped =
    // monotone-prefix of n*E*(L-l+1) <= B - S_{l-1} (min-over-prefix
    // mirrors the operator's stop-at-first-failure loop), budget share =
    // one integer division. All-BIGINT arithmetic end to end. The outer
    // CASTs matter: DuckDB's sum(BIGINT) is HUGEINT, so without them
    // alloc/epochs surface as decimal128 in Arrow while Spark writes
    // int64 — identical values, hash-mismatched types (round-7 red row)
    "q_unimax" ->
      """WITH d AS (SELECT lang,
        |    CAST(len(string_split_regex(lower(text), '\s+')) AS BIGINT) AS nt
        |  FROM documents WHERE text IS NOT NULL),
        |c AS (SELECT lang, CAST(sum(nt) AS BIGINT) AS n FROM d GROUP BY lang),
        |s AS (SELECT lang, n,
        |    row_number() OVER (ORDER BY n, lang) AS rk,
        |    count(*) OVER () AS nl,
        |    coalesce(sum(n * 2) OVER (ORDER BY n, lang
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
        |  FROM c),
        |f AS (SELECT *, CASE WHEN n * 2 * (nl - rk + 1) <= 40000 - pre
        |    THEN 1 ELSE 0 END AS capped FROM s),
        |g AS (SELECT *, min(capped) OVER (ORDER BY rk
        |    ROWS UNBOUNDED PRECEDING) AS is_capped FROM f),
        |agg AS (SELECT coalesce(sum(CASE WHEN is_capped = 1 THEN n * 2 END), 0) AS sk,
        |    coalesce(sum(is_capped), 0) AS k, max(nl) AS nl FROM g),
        |a AS (SELECT g.lang, g.n,
        |    CASE WHEN g.is_capped = 1 THEN g.n * 2
        |      ELSE least((40000 - agg.sk) // greatest(agg.nl - agg.k, 1),
        |                 g.n * 2) END AS alloc
        |  FROM g, agg)
        |SELECT lang, n AS n_tokens, CAST(alloc AS BIGINT) AS alloc_tokens,
        |  CAST(CASE WHEN n > 0 THEN 1000 * alloc // n ELSE 0 END AS BIGINT)
        |    AS epochs_milli
        |FROM a ORDER BY lang""".stripMargin,

    // same waterfill CTE, then the integer milli-epoch gate: div 1000
    // whole copies + md5-bucket fractional keep, unnested to copy_id
    "q_unimax_sample" ->
      """WITH d AS (SELECT lang,
        |    CAST(len(string_split_regex(lower(text), '\s+')) AS BIGINT) AS nt
        |  FROM documents WHERE text IS NOT NULL),
        |c AS (SELECT lang, CAST(sum(nt) AS BIGINT) AS n FROM d GROUP BY lang),
        |s AS (SELECT lang, n,
        |    row_number() OVER (ORDER BY n, lang) AS rk,
        |    count(*) OVER () AS nl,
        |    coalesce(sum(n * 2) OVER (ORDER BY n, lang
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
        |  FROM c),
        |f AS (SELECT *, CASE WHEN n * 2 * (nl - rk + 1) <= 40000 - pre
        |    THEN 1 ELSE 0 END AS capped FROM s),
        |g AS (SELECT *, min(capped) OVER (ORDER BY rk
        |    ROWS UNBOUNDED PRECEDING) AS is_capped FROM f),
        |agg AS (SELECT coalesce(sum(CASE WHEN is_capped = 1 THEN n * 2 END), 0) AS sk,
        |    coalesce(sum(is_capped), 0) AS k, max(nl) AS nl FROM g),
        |a AS (SELECT g.lang, g.n,
        |    CASE WHEN g.is_capped = 1 THEN g.n * 2
        |      ELSE least((40000 - agg.sk) // greatest(agg.nl - agg.k, 1),
        |                 g.n * 2) END AS alloc
        |  FROM g, agg),
        |em AS (SELECT lang,
        |    CASE WHEN n > 0 THEN 1000 * alloc // n ELSE 0 END AS m FROM a),
        |cp AS (SELECT doc.doc_id, doc.lang,
        |    CAST(em.m // 1000
        |      + CASE WHEN ('0x' || substr(md5(CAST(doc.doc_id AS VARCHAR)), 1, 15))::BIGINT
        |          % 10000 < (em.m % 1000) * 10 THEN 1 ELSE 0 END AS BIGINT) AS copies
        |  FROM documents doc JOIN em USING (lang) WHERE doc.text IS NOT NULL)
        |SELECT doc_id, lang, unnest(range(copies)) AS copy_id
        |FROM cp""".stripMargin,

    // v7 replay: the q_domain_filter gate CTEs -> kept docs, the
    // q_moore_lewis CTEs retrained over the kept corpus, the blocklist
    // replace-count veto — one chained statement, hash-exact end to end
    "q_curate7" -> {
      val per = graft.functions.Blocklist.patterns.map { p =>
        s"((length(lower(kd.text)) - length(replace(lower(kd.text), '$p', ''))) // ${p.length})"
      }.mkString(" + ")
      s"""WITH d0 AS (SELECT * FROM documents WHERE text IS NOT NULL),
         |t0 AS (SELECT doc_id, source,
         |    unnest(string_split_regex(lower(text), '\\s+')) AS tok FROM d0),
         |b0 AS (SELECT doc_id, source,
         |    ('0x' || substr(md5(tok), 1, 15))::BIGINT % 512 AS bk FROM t0),
         |s0 AS (SELECT doc_id, source,
         |    CAST(SUM(('0x' || substr(md5('w' || bk), 1, 15))::BIGINT % 2001 - 1000) AS DOUBLE)
         |      / 1000.0 / count(*) + 0.1 AS margin
         |  FROM b0 GROUP BY doc_id, source),
         |g AS (SELECT source,
         |    round(CAST(sum(CAST(margin AS DECIMAL(28,12))) AS DOUBLE) / count(*), 6)
         |      AS source_quality
         |  FROM s0 GROUP BY source),
         |bar AS (SELECT
         |    round(CAST(sum(CAST(source_quality AS DECIMAL(28,12))) AS DOUBLE)
         |      / count(*), 6) AS quality_bar
         |  FROM g),
         |ks AS (SELECT source FROM g, bar WHERE source_quality >= quality_bar),
         |kd AS (SELECT d0.* FROM d0 JOIN ks USING (source)),
         |t AS (SELECT doc_id, (lang = 'en') AS ind,
         |    unnest(string_split_regex(lower(text), '\\s+')) AS term FROM kd),
         |lg AS (SELECT term, count(*) AS cg FROM t GROUP BY 1),
         |li AS (SELECT term, count(*) AS ci FROM t WHERE ind GROUP BY 1),
         |tg AS (SELECT CAST(sum(cg) AS DOUBLE) AS tg, CAST(count(*) AS DOUBLE) AS vg FROM lg),
         |ti AS (SELECT CAST(sum(ci) AS DOUBLE) AS ti, CAST(count(*) AS DOUBLE) AS vi FROM li),
         |ml AS (SELECT doc_id,
         |    round(CAST(sum(CAST(ln((cg + 1.0) / (tg + vg))
         |        - ln((coalesce(ci, 0) + 1.0) / (ti + vi)) AS DECIMAL(28,12))) AS DOUBLE)
         |      / count(*), 6) AS ce_diff
         |  FROM t JOIN lg USING (term) LEFT JOIN li USING (term), tg, ti
         |  GROUP BY doc_id),
         |bl AS (SELECT kd.doc_id, CAST($per AS BIGINT) AS n_hits FROM kd)
         |SELECT ml.doc_id, kd.source, ml.ce_diff
         |FROM ml JOIN kd USING (doc_id) JOIN bl ON bl.doc_id = ml.doc_id
         |WHERE ml.ce_diff < 0 AND bl.n_hits = 0""".stripMargin
    },

    // cap -> waterfill -> gate, composed: the caps CTE feeds the
    // allocation's lang token mass, so the whole recipe replays end to end
    "q_curate6" ->
      """WITH base AS (SELECT * FROM documents WHERE text IS NOT NULL),
        |c AS (SELECT source, count(*) AS n FROM base GROUP BY source),
        |caps AS (SELECT source, n,
        |    greatest(2, CAST(ceil(sqrt(n)) AS BIGINT)) AS cap FROM c),
        |rr AS (SELECT d.doc_id, d.source, d.lang, d.text, caps.cap, caps.n,
        |    row_number() OVER (PARTITION BY d.source ORDER BY
        |      ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
        |        % 1000000, d.doc_id) AS rk
        |  FROM base d JOIN caps USING (source)),
        |surv AS (SELECT doc_id, source, lang,
        |    CAST(len(string_split_regex(lower(text), '\s+')) AS BIGINT) AS nt
        |  FROM rr WHERE n <= cap OR rk <= cap),
        |cc AS (SELECT lang, CAST(sum(nt) AS BIGINT) AS n FROM surv GROUP BY lang),
        |s AS (SELECT lang, n,
        |    row_number() OVER (ORDER BY n, lang) AS rk,
        |    count(*) OVER () AS nl,
        |    coalesce(sum(n * 2) OVER (ORDER BY n, lang
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
        |  FROM cc),
        |f AS (SELECT *, CASE WHEN n * 2 * (nl - rk + 1) <= 8000 - pre
        |    THEN 1 ELSE 0 END AS capped FROM s),
        |g AS (SELECT *, min(capped) OVER (ORDER BY rk
        |    ROWS UNBOUNDED PRECEDING) AS is_capped FROM f),
        |agg AS (SELECT coalesce(sum(CASE WHEN is_capped = 1 THEN n * 2 END), 0) AS sk,
        |    coalesce(sum(is_capped), 0) AS k, max(nl) AS nl FROM g),
        |a AS (SELECT g.lang, g.n,
        |    CASE WHEN g.is_capped = 1 THEN g.n * 2
        |      ELSE least((8000 - agg.sk) // greatest(agg.nl - agg.k, 1),
        |                 g.n * 2) END AS alloc
        |  FROM g, agg),
        |em AS (SELECT lang,
        |    CASE WHEN n > 0 THEN 1000 * alloc // n ELSE 0 END AS m FROM a),
        |cp AS (SELECT surv.doc_id, surv.source, surv.lang,
        |    CAST(em.m // 1000
        |      + CASE WHEN ('0x' || substr(md5(CAST(surv.doc_id AS VARCHAR)), 1, 15))::BIGINT
        |          % 10000 < (em.m % 1000) * 10 THEN 1 ELSE 0 END AS BIGINT) AS copies
        |  FROM surv JOIN em USING (lang))
        |SELECT doc_id, source, lang, unnest(range(copies)) AS copy_id
        |FROM cp""".stripMargin,

    // Every ratio is an exact int/int IEEE division over identical
    // operands (word/line/char counts), so the rounded metrics and the
    // threshold flags replay exactly
    "q_gopher_rules" -> {
      val req = Seq("the", "be", "to", "of", "and", "that", "have", "with")
      val hits = req.map(sw => s"CAST(list_contains(w, '$sw') AS INT)").mkString(" + ")
      s"""WITH t AS (SELECT doc_id, text,
         |    string_split_regex(lower(text), '\\s+') AS w,
         |    string_split(text, chr(10)) AS lines
         |  FROM documents WHERE text IS NOT NULL),
         |m AS (SELECT doc_id, len(w) AS nw,
         |    CAST(list_sum(list_transform(w, x -> len(x))) AS DOUBLE)
         |      / greatest(len(w), 1) AS mean_len,
         |    ((len(text) - len(replace(text, '#', '')))
         |      + (len(text) - len(replace(text, '...', ''))) / 3)
         |      / CAST(greatest(len(w), 1) AS DOUBLE) AS sym,
         |    CAST(len(list_filter(lines, l -> regexp_matches(l, '^[-*•] '))) AS DOUBLE)
         |      / greatest(len(lines), 1) AS bullet,
         |    CAST(len(list_filter(lines, l -> regexp_matches(l, '\\.\\.\\.$$'))) AS DOUBLE)
         |      / greatest(len(lines), 1) AS ell,
         |    CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
         |      / greatest(len(w), 1) AS alpha,
         |    $hits AS sh
         |  FROM t)
         |SELECT doc_id, CAST(nw AS BIGINT) AS n_words,
         |  round(mean_len, 6) AS mean_word_len,
         |  round(sym, 6) AS symbol_ratio,
         |  round(alpha, 6) AS alpha_frac,
         |  CAST(sh AS BIGINT) AS stop_hits,
         |  CAST(nw BETWEEN 50 AND 100000 AS INT) AS words_ok,
         |  CAST(mean_len BETWEEN 3.0 AND 10.0 AS INT) AS mean_len_ok,
         |  CAST(sym <= 0.1 AS INT) AS symbol_ok,
         |  CAST(bullet <= 0.9 AS INT) AS bullet_ok,
         |  CAST(ell <= 0.3 AS INT) AS ellipsis_ok,
         |  CAST(alpha >= 0.8 AS INT) AS alpha_ok,
         |  CAST(sh >= 2 AS INT) AS stop_ok,
         |  CAST(nw BETWEEN 50 AND 100000 AND mean_len BETWEEN 3.0 AND 10.0
         |    AND sym <= 0.1 AND bullet <= 0.9 AND ell <= 0.3
         |    AND alpha >= 0.8 AND sh >= 2 AS INT) AS gopher_pass
         |FROM m""".stripMargin
    },

    // Replays the fixed BPE merge walk exactly (see bpeWalkCtes): same
    // sentinel-space rendering, same leftmost non-overlapping replace,
    // same fixpoint-per-rank recursion; per-doc counts join the
    // distinct-word table (the SQL mirror of the kernel's memo cache)
    "q_bpe_tokens" ->
      s"""WITH RECURSIVE ${bpeWalkCtes("documents")}
         |SELECT tok.doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(coalesce(wc.c, 0)) AS BIGINT) AS n_tokens_bpe
         |FROM tok LEFT JOIN wc ON tok.w = wc.w
         |GROUP BY tok.doc_id""".stripMargin,

    "q_token_budget_bpe" ->
      s"""WITH RECURSIVE ${bpeWalkCtes("documents")},
         |d AS (SELECT tok.doc_id, CAST(sum(coalesce(wc.c, 0)) AS BIGINT) AS n_tokens_bpe
         |      FROM tok LEFT JOIN wc ON tok.w = wc.w GROUP BY tok.doc_id),
         |d2 AS (SELECT d.doc_id, doc.source, d.n_tokens_bpe
         |       FROM d JOIN documents doc ON doc.doc_id = d.doc_id),
         |c AS (SELECT *, sum(n_tokens_bpe) OVER (PARTITION BY source ORDER BY doc_id
         |        ROWS UNBOUNDED PRECEDING) AS cum FROM d2)
         |SELECT doc_id, source, n_tokens_bpe FROM c WHERE cum <= 4000""".stripMargin,

    // Efraimidis-Spirakis in log form with the same hash-derived u:
    // rank on the UNROUNDED score (both engines), round only the output
    "q_weighted_take" ->
      s"""SELECT doc_id, n_chars, round(score, 6) AS sample_score FROM (
         |  SELECT doc_id, n_chars,
         |    ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
         |        % ${Dedup.P} + 1) / CAST(${Dedup.P} AS DOUBLE)) / n_chars AS score
         |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0)
         |ORDER BY score DESC, doc_id LIMIT 100""".stripMargin,

    "q_vocab" ->
      """SELECT source, count(DISTINCT token) AS vocab,
        |  count(DISTINCT doc_id) AS n_docs, count(*) AS n_tokens
        |FROM (SELECT source, doc_id,
        |        unnest(string_split_regex(lower(text), '\s+')) AS token
        |      FROM documents)
        |GROUP BY source""".stripMargin,

    // Replays the top-V selection with the same total order (count desc,
    // term asc) and the same SQL-split tokenization as the Spark side
    "q_oov_rate" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(string_split_regex(lower(text), '\s+')) AS t
        |  FROM documents WHERE text IS NOT NULL),
        |v AS (SELECT t FROM (SELECT t, count(*) AS c FROM tok
        |  GROUP BY t ORDER BY c DESC, t LIMIT 20)),
        |d AS (SELECT doc_id, count(*) AS n_tokens,
        |    sum(CASE WHEN t IN (SELECT t FROM v) THEN 0 ELSE 1 END) AS n_oov
        |  FROM tok GROUP BY doc_id)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(n_oov AS BIGINT) AS n_oov,
        |  round(CAST(n_oov AS DOUBLE) / greatest(n_tokens, 1), 6) AS oov_rate
        |FROM d""".stripMargin,

    "q_autofeature" ->
      """WITH p AS (SELECT p_partkey, p_size,
        |  CASE WHEN p_partkey % 10 = 0 THEN 0.0 ELSE p_retailprice END AS price FROM part),
        |m AS (SELECT avg(CASE WHEN price <> 0.0 THEN price END) AS mu FROM p),
        |d AS (SELECT p_size AS sz, dense_rank() OVER (ORDER BY p_size) - 1 AS idx
        |      FROM (SELECT DISTINCT p_size FROM p))
        |SELECT p.p_partkey, round(CASE WHEN p.price = 0.0 THEN m.mu ELSE p.price END, 6) AS price_imputed,
        |  CAST(d.idx AS INTEGER) AS size_index
        |FROM p CROSS JOIN m JOIN d ON p.p_size = d.sz""".stripMargin,
  )
}
