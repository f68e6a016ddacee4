package graft

import graft.streaming._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Structured Streaming ports of the Online* operators, checked against the
  * same reference goldens as the batch forms (OnlineAHPTest.java:49-71). */
class StreamingSpec extends GraftSpec {
  import spark.implicits._

  private val judgment = Array(
    Array(1.0, 0.5, 4.0, 3.0, 3.0, 2.0),
    Array(2.0, 1.0, 7.0, 5.0, 5.0, 4.0),
    Array(0.25, 0.143, 1.0, 0.5, 0.67, 0.4),
    Array(0.67, 0.2, 2.0, 1.0, 1.0, 0.67),
    Array(0.33, 0.2, 3.0, 1.0, 1.0, 2.0),
    Array(0.5, 0.25, 2.5, 3.0, 0.5, 1.0))
  private val types = Array(1, 1, 1, 0, 0, 0)

  private val rows = Seq(
    (1601913600000L, Array(55.11235847, 49.78789992, 52.67503496, 53.21924296, 0.0, 89128128.86084658)),
    (1602000000000L, Array(53.40227002, 40.73457791, 53.29196931, 42.40159861, 583091.4598, 71011441.25451232)),
    (1602086400000L, Array(42.40831364, 35.97068975, 42.39994711, 40.08397561, 682834.18632335, 67130036.89981823)),
    (1602172800000L, Array(44.90251114, 36.69605677, 39.88526234, 43.76446306, 1658816.92260445, 220265142.10956782)),
    (1602259200000L, Array(47.56953274, 43.2917758, 43.76446306, 46.81774415, 815537.6608, 235632208.16269898)),
    (1602345600000L, Array(51.4056548, 46.70332768, 46.81814554, 49.13371767, 1074627.02770495, 247288428.75616974)),
    (1602432000000L, Array(51.45337431, 48.71603954, 49.13312951, 49.66072573, 692150.60094118, 249940843.43242228)),
    (1602518400000L, Array(54.42141763, 48.75407708, 49.66157329, 52.23869222, 1354836.06481028, 262915666.29307267)),
    (1602518400000L, Array(57.48190422, 49.59873521, 52.23839242, 51.12431679, 1386221.2066711, 257307050.43080166)))

  private val golden = Map(
    1601913600000L -> Seq(0.1342), 1602000000000L -> Seq(0.0931),
    1602086400000L -> Seq(0.0337), 1602172800000L -> Seq(0.0366),
    1602259200000L -> Seq(0.0970), 1602345600000L -> Seq(0.1235),
    1602432000000L -> Seq(0.0543), 1602518400000L -> Seq(0.0215, 0.1326))

  test("streaming OnlineAHP: windows flush on watermark, golden scores match") { withRocksDB {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Array[Double])]
    val scored = OnlineStreaming.onlineAhpStream(
      mem.toDF().toDF("tms", "features"), judgment, types, "3 days")

    val query = scored.writeStream
      .format("memory").queryName("ahp_out").outputMode("append").start()
    try {
      mem.addData(rows.take(5))
      query.processAllAvailable()
      mem.addData(rows.drop(5))
      query.processAllAvailable()
      // sentinel far in the future pushes the watermark past every window
      mem.addData(Seq((1700000000000L, Array(1.0, 1.0, 1.0, 1.0, 1.0, 1.0))))
      query.processAllAvailable()

      val got = spark.table("ahp_out")
        .filter(col("tms") < 1700000000000L)
        .collect()
        .groupBy(_.getLong(0)).view
        .mapValues(_.map(_.getDouble(2)).sorted.toSeq).toMap
      assert(got.keySet == golden.keySet, s"windows flushed: ${got.keySet}")
      golden.foreach { case (id, want) =>
        got(id).sorted.zip(want.sorted).foreach { case (a, b) =>
          assert(math.abs(a - b) <= 1e-4, s"id $id: got ${got(id)} want $want")
        }
      }
    } finally query.stop()
  }}

  test("streaming session windows close on watermark and match batch sessionize") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val h = 3600000L // 1h gap
    // user 1: two sessions (10:00-10:30, 13:00); user 2: one session
    val events = Seq(
      (1L, 1000000000000L, 1L), (2L, 1000000000000L + 30 * 60000L, 1L),
      (3L, 1000000000000L + 3 * h, 1L),
      (4L, 1000000000000L + 10 * 60000L, 2L), (5L, 1000000000000L + 50 * 60000L, 2L))
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Long)]
    val sessions = graft.operators.EventWindows.sessionizeStream(
      mem.toDF().toDF("event_id", "tms", "user_id"), "tms", Seq("user_id"),
      gap = "1 hour", delay = "0 seconds")
    val query = sessions.writeStream
      .format("memory").queryName("sess_out").outputMode("append").start()
    try {
      mem.addData(events)
      query.processAllAvailable()
      // watermark sentinel closes every session
      mem.addData(Seq((99L, 2000000000000L, 9L)))
      query.processAllAvailable()
      val got = spark.table("sess_out")
        .filter(col("user_id") < 9)
        .select("user_id", "n_events", "duration_ms")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == Set((1L, 2L, 30 * 60000L), (1L, 1L, 0L), (2L, 2L, 40 * 60000L)),
        s"got $got")
      // batch parity: same (user, n_events, duration) multiset
      val batch = graft.operators.EventWindows.sessionize(
        events.toDF("event_id", "tms", "user_id"), "tms", Seq("user_id"), h)
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n"), (max(col("tms")) - min(col("tms"))).as("d"))
        .select("user_id", "n", "d")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(batch == got, s"batch $batch != stream $got")
    } finally query.stop()
  }

  test("streaming count-min: cells accumulate across batches, state bounded by the grid") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, String)]
    val cells = graft.operators.TextAnalysis.countMinCells(
      mem.toDF().toDF("doc_id", "text"), "text", depth = 4, width = 32)
    val query = cells.writeStream
      .format("memory").queryName("cm_out").outputMode("complete").start()
    try {
      val b1 = Seq((1L, "spark spark flink"), (2L, "spark beam"))
      val b2 = Seq((3L, "flink flink ray"), (4L, "spark"))
      mem.addData(b1)
      query.processAllAvailable()
      val mid = spark.table("cm_out").agg(sum("cc")).head.getLong(0)
      assert(mid == 5L * 4, s"batch-1 grid must hold 5 tokens x 4 rows: $mid")
      mem.addData(b2)
      query.processAllAvailable()
      val got = spark.table("cm_out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // the drained grid equals the batch grid over the union — cell-exact
      val batch = graft.operators.TextAnalysis.countMinCells(
        (b1 ++ b2).toDF("doc_id", "text"), "text", depth = 4, width = 32)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == batch, s"stream grid != batch grid")
      // streaming agg state is the sketch: never more rows than cells
      val state = query.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(state <= 4L * 32, s"state rows $state exceed the 4x32 grid")
    } finally query.stop()
  }

  test("streaming count-min: grid equals the batch cmBucket path on a tr-TR JVM") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.TextAnalysis
    // Turkish casing maps 'I' to dotless 'ı' in String.toLowerCase, while
    // Spark's lower() (the batch path) lowercases ASCII locale-free
    val docs = Seq((1L, "IBM Istanbul INDEX"), (2L, "Idle io I"))
    def cells(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val prev = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr-TR"))
    try {
      val mem = MemoryStream[(Long, String)]
      val query = TextAnalysis.countMinCells(
          mem.toDF().toDF("doc_id", "text"), "text", depth = 4, width = 32)
        .writeStream.format("memory").queryName("cm_tr").outputMode("complete").start()
      val streamed =
        try { mem.addData(docs); query.processAllAvailable(); cells(spark.table("cm_tr")) }
        finally query.stop()
      // countMinTopTerms' grid: exact term counts, summed per (row, cmBucket)
      val bucket = TextAnalysis.cmBucket(32)
      val batch = cells(docs.toDF("doc_id", "text")
        .select(explode(split(lower(col("text")), "\\s+")).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("n"))
        .select(col("term"), col("n"), explode(sequence(lit(0), lit(3))).as("r"))
        .select(col("r").cast("long").as("r"),
          bucket(col("term"), col("r")).cast("long").as("b"), col("n"))
        .groupBy(col("r"), col("b")).agg(sum(col("n"))))
      assert(streamed == batch, "stream grid != batch grid under tr-TR")
    } finally java.util.Locale.setDefault(prev)
  }

  test("windowed HLL: registers emit as the watermark closes windows; state evicts") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val day = 86400000L
    val mem = MemoryStream[(Long, Long)]
    val cells = graft.operators.TextAnalysis.hllWindowRegisters(
      mem.toDF().toDF("tms", "user_id")
        .withColumn("__t", timestamp_millis(col("tms")))
        .withWatermark("__t", "0 seconds"),
      col("__t"), "1 day", col("user_id"), m = 16)
    val query = cells.writeStream
      .format("memory").queryName("hllw_out").outputMode("append").start()
    try {
      // day-0 users, then a day-2 event whose watermark closes day 0
      mem.addData(Seq((100L, 1L), (200L, 2L), (300L, 1L)))
      query.processAllAvailable()
      mem.addData(Seq((2 * day + 5L, 9L)))
      query.processAllAvailable()
      val emitted = spark.table("hllw_out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val batch = graft.operators.TextAnalysis.hllWindowRegisters(
        Seq((100L, 1L), (200L, 2L), (300L, 1L)).toDF("tms", "user_id")
          .withColumn("__t", timestamp_millis(col("tms"))),
        col("__t"), "1 day", col("user_id"), m = 16)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(emitted == batch, s"closed day-0 registers $emitted != batch $batch")
      // only the open day-2 window's registers remain in state
      val state = query.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(state <= 16L, s"state rows $state exceed one open window's registers")
    } finally query.stop()
  }

  test("streaming quantile grid: cells accumulate across batches, state bounded by bins") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Long]
    val cells = graft.operators.Quantiles.boundedHistCells(
      mem.toDF().toDF("v"), col("v"), binWidth = 10L, bins = 8)
    val query = cells.writeStream
      .format("memory").queryName("qtile_out").outputMode("complete").start()
    try {
      mem.addData(Seq(0L, 5L, 12L, 37L, 999L)) // 999 clamps into the top bin
      query.processAllAvailable()
      mem.addData(Seq(5L, 41L, 12L))
      query.processAllAvailable()
      val q = graft.operators.Quantiles.boundedHistQuantiles(
        spark.table("qtile_out"), binWidth = 10L,
        ps = Seq((50, 1L, 2L), (99, 99L, 100L)))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toList
      // 8 values, p50 rank 4 -> sorted (0,5,5,12,12,37,41,999) 4th = 12 -> bin 1
      // p99 rank 8 -> 999 clamped to top bin 7
      assert(q == List((50, 4L, 1L, 10L), (99, 8L, 7L, 70L)), s"got $q")
      val state = query.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(state <= 8L, s"state rows $state exceed the 8-bin grid")
    } finally query.stop()
  }

  test("streaming covariance: cells accumulate across batches, state bounded by the grid") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, Array[Double])]
    val d = 3
    val cells = graft.operators.Similarity.covCellStream(
      mem.toDF().toDF("id", "v"), "v")
    val query = cells.writeStream
      .format("memory").queryName("cov_out").outputMode("complete").start()
    try {
      val b1 = Seq((1L, Array(1.0, 2.0, 3.0)), (2L, Array(0.5, -1.0, 2.5)))
      val b2 = Seq((3L, Array(-2.0, 0.0, 1.0)), (4L, Array(3.5, 1.5, -0.5)))
      mem.addData(b1)
      query.processAllAvailable()
      mem.addData(b2)
      query.processAllAvailable()
      // finished drained grid == the batch treeAggregate kernel, value-exact
      val got = graft.operators.Similarity.covCellsFinish(spark.table("cov_out"))
        .collect().map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3))).toMap
      val batch = graft.operators.Similarity.embeddingCovariance(
        (b1 ++ b2).toDF("id", "v"), "v")
        .collect().map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2).toLong, r.getDouble(3))).toMap
      assert(got == batch, s"stream cov grid $got != batch kernel $batch")
      // streaming agg state is the moment grid: pair cells + dim sentinels
      val state = query.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(state <= d * (d + 1) / 2 + d, s"state rows $state exceed the moment grid")
    } finally query.stop()
  }

  test("streaming OnlineTopsis fit: window means + per-batch TOPSIS reach the sink") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Array[Double])]
    val collected = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val query = OnlineStreaming.onlineTopsisFitStream(
      mem.toDF().toDF("tms", "features"), "3 days",
      Array(0.1, 0.1, 0.1, 0.1, 0.1, 0.1), Array(1, 1, 1, 2, 2, 2)) { batch =>
      collected ++= batch.select("timestamp", "minTimestamp", "score").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    }
    try {
      mem.addData(rows)
      query.processAllAvailable()
      mem.addData(Seq((1700000000000L, Array(1.0, 1.0, 1.0, 1.0, 1.0, 1.0))))
      query.processAllAvailable()
      // all three reference windows must have flushed with their
      // min/max timestamps intact (scores are per-batch, see Scaladoc)
      val byWindow = collected.map(t => (t._1, t._2)).toSet
      assert(byWindow.contains((1517615999999L, 1517414400000L)) ||
        byWindow.exists(_._2 == 1601913600000L), s"got $byWindow")
      assert(collected.nonEmpty)
    } finally query.stop()
  }

  test("streaming model-gated scoring: rows stream against a fitted model table") {
    implicit val sqlCtx = spark.sqlContext
    // fit in batch (same fixture as OnlineSpec), score a STREAM of rows
    val batchDf = rows.toDF("tms", "features")
    val model = new graft.operators.OnlineTopsis()
      .setCriteriaTypes(1, 1, 1, 2, 2, 2)
      .setWeights(0.1, 0.1, 0.1, 0.1, 0.1, 0.1)
      .setTimeCol("tms").setWindowDuration("3 days")
      .fit(batchDf)
    val mem = MemoryStream[(Long, Array[Double])]
    val scored = OnlineStreaming.onlineTopsisScoreStream(
      mem.toDF().toDF("tms", "features"), model.getModelData)
    val query = scored.writeStream
      .format("memory").queryName("topsis_scored").outputMode("append").start()
    try {
      mem.addData(rows)
      query.processAllAvailable()
      val got = spark.table("topsis_scored")
        .select("tms", "score").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) Double.NaN else r.getDouble(1))).toMap
      assert(got.size == rows.size - 1) // two rows share tms 1602518400000
      // every streamed row found its window model (delay 0, tumbling)
      assert(got.values.forall(!_.isNaN))
      // scores equal the batch model's per-window scores
      val batchScores = model.getModelData.collect()
        .map(r => (r.getAs[Long]("minTimestamp"), r.getAs[Double]("score")))
      batchScores.foreach { case (mnts, s) =>
        assert(math.abs(got(mnts) - s) < 1e-12,
          s"window starting at min ts $mnts: ${got(mnts)} vs $s")
      }
    } finally query.stop()
  }

  test("streaming sliding OnlineAHP matches the batch sliding operator") { withRocksDB {
    implicit val sqlCtx = spark.sqlContext
    val batch = new graft.operators.OnlineAHP()
      .setInputCols("x0", "x1", "x2", "x3", "x4", "x5")
      .setJudgmentMatrix(judgment).setIndicatorType(types)
      .setTimeCol("tms").setWindowDuration("3 days").setSlideDuration("1 day")
      .setOutputCol("score")
      .transform(rows.zipWithIndex
        .map { case ((t, f), _) => (t, f(0), f(1), f(2), f(3), f(4), f(5)) }
        .toDF("tms", "x0", "x1", "x2", "x3", "x4", "x5"))
      .select(col("window_start"), col("tms"), col("score")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

    val mem = MemoryStream[(Long, Array[Double])]
    val scored = OnlineStreaming.onlineAhpStreamSliding(
      mem.toDF().toDF("tms", "features"), judgment, types, "3 days", "1 day")
    val query = scored.writeStream
      .format("memory").queryName("ahp_sliding").outputMode("append").start()
    try {
      mem.addData(rows)
      query.processAllAvailable()
      mem.addData((1603000000000L, Array(1.0, 1.0, 1.0, 1.0, 1.0, 1.0))) // push watermark
      query.processAllAvailable()
      val got = spark.table("ahp_sliding")
        .select("wstart", "tms", "score").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      // every batch (window, row) score the watermark has passed must match;
      // two rows share tms 1602518400000 so compare on distinct keys only
      assert(got.nonEmpty)
      got.foreach { case (key, s) =>
        batch.get(key).foreach { want =>
          assert(s.isNaN == want.isNaN)
          if (!want.isNaN)
            assert(math.abs(s - want) < 1e-9, s"window/tms $key: $s vs $want")
        }
      }
      // all 3-day windows covering the 9 fixture rows eventually scored
      assert(got.keys.map(_._1).toSet.size >= 8)
    } finally query.stop()
  }}

  test("stream-stream gating: rows with no suitable model never emit") {
    implicit val sqlCtx = spark.sqlContext
    val windowMs = 3L * 86400000L
    val dataMem = MemoryStream[(Long, Array[Double])]
    val modelMem = MemoryStream[(Long, Long, Double)]
    val scored = OnlineStreaming.onlineTopsisScoreStreamStream(
      dataMem.toDF().toDF("tms", "features"),
      modelMem.toDF().toDF("timestamp", "minTimestamp", "score"), windowMs)
    val query = scored.writeStream
      .format("memory").queryName("ss_nomodel").outputMode("append").start()
    try {
      dataMem.addData((1601913600000L, Array(1.0)), (1602518400000L, Array(2.0)))
      // model window covers only the FIRST row's timestamp
      modelMem.addData((1602000000000L, 1601913600000L, 0.5))
      query.processAllAvailable()
      val got = spark.table("ss_nomodel").select("tms", "score").collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      assert(got.toSeq == Seq((1601913600000L, 0.5)),
        "only the covered row may emit; the uncovered row stays buffered")
    } finally query.stop()
  }

  test("end-to-end streaming OnlineTopsis: fit stream feeds the stream-stream gate") {
    implicit val sqlCtx = spark.sqlContext
    val windowMs = 3L * 86400000L
    // batch reference: fit + per-window scores
    val model = new graft.operators.OnlineTopsis()
      .setCriteriaTypes(1, 1, 1, 2, 2, 2)
      .setWeights(0.1, 0.1, 0.1, 0.1, 0.1, 0.1)
      .setTimeCol("tms").setWindowDuration("3 days")
      .fit(rows.toDF("tms", "features"))
    val batchScores = model.getModelData.collect()
      .map(r => (r.getAs[Long]("minTimestamp"), r.getAs[Double]("score"))).toMap

    // one pipeline, two live queries: the fit stream's sink feeds the
    // model stream that the stream-stream gate is already joining on
    val fitMem = MemoryStream[(Long, Array[Double])]
    val dataMem = MemoryStream[(Long, Array[Double])]
    val modelMem = MemoryStream[(Long, Long, Double)]
    val fitQuery = OnlineStreaming.onlineTopsisFitStream(
      fitMem.toDF().toDF("tms", "features"), "3 days",
      Array(0.1, 0.1, 0.1, 0.1, 0.1, 0.1), Array(1, 1, 1, 2, 2, 2)) { batch =>
      modelMem.addData(batch.select("timestamp", "minTimestamp", "score")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq)
    }
    val scored = OnlineStreaming.onlineTopsisScoreStreamStream(
      dataMem.toDF().toDF("tms", "features"),
      modelMem.toDF().toDF("timestamp", "minTimestamp", "score"), windowMs)
    val gateQuery = scored.writeStream
      .format("memory").queryName("e2e_scored").outputMode("append").start()
    try {
      // data rows arrive before any model exists -> they wait in join state
      dataMem.addData(rows)
      gateQuery.processAllAvailable()
      assert(spark.table("e2e_scored").count() == 0L, "rows must wait for the fit")
      // the fit stream sees the same data plus one far-future row in the
      // same first batch: after that batch the watermark passes EVERY
      // data window's end, so all of them flush together in the next
      // batch — per-batch TOPSIS then normalizes over the full mean set
      // (batch parity) — and the sink pushes the scored models into the
      // gate's model stream
      fitMem.addData(rows ++ Seq((1700000000000L, Array(1.0, 1.0, 1.0, 1.0, 1.0, 1.0))))
      fitQuery.processAllAvailable()
      gateQuery.processAllAvailable()
      val got = spark.table("e2e_scored")
        .select("tms", "score").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got.size == rows.size - 1) // two rows share tms 1602518400000
      batchScores.foreach { case (mnts, s) =>
        assert(math.abs(got(mnts) - s) < 1e-12,
          s"window starting at min ts $mnts: ${got(mnts)} vs $s")
      }
    } finally { fitQuery.stop(); gateQuery.stop() }
  }

  test("stream-stream gating: data rows wait in join state until their model arrives") {
    implicit val sqlCtx = spark.sqlContext
    val windowMs = 3L * 86400000L
    val batchDf = rows.toDF("tms", "features")
    val model = new graft.operators.OnlineTopsis()
      .setCriteriaTypes(1, 1, 1, 2, 2, 2)
      .setWeights(0.1, 0.1, 0.1, 0.1, 0.1, 0.1)
      .setTimeCol("tms").setWindowDuration("3 days")
      .fit(batchDf)
    val modelRows = model.getModelData
      .select("timestamp", "minTimestamp", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

    val dataMem = MemoryStream[(Long, Array[Double])]
    val modelMem = MemoryStream[(Long, Long, Double)]
    val scored = OnlineStreaming.onlineTopsisScoreStreamStream(
      dataMem.toDF().toDF("tms", "features"),
      modelMem.toDF().toDF("timestamp", "minTimestamp", "score"),
      windowMs)
    val query = scored.writeStream
      .format("memory").queryName("ss_scored").outputMode("append").start()
    try {
      // data first: no model yet -> rows buffer in join state, nothing emits
      dataMem.addData(rows)
      query.processAllAvailable()
      assert(spark.table("ss_scored").count() == 0L,
        "rows must wait for their model")
      // models arrive -> buffered rows drain with their window's score
      modelMem.addData(modelRows)
      query.processAllAvailable()
      val got = spark.table("ss_scored")
        .select("tms", "score").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got.size == rows.size - 1) // two rows share tms 1602518400000
      val batchScores = modelRows.map { case (_, mnts, s) => mnts -> s }
      batchScores.foreach { case (mnts, s) =>
        assert(math.abs(got(mnts) - s) < 1e-12,
          s"window starting at min ts $mnts: ${got(mnts)} vs $s")
      }
    } finally query.stop()
  }

  test("stream-stream gate restarts from a checkpoint with no lost or duplicate scores") {
    // the production shape for the gate: durable sink + checkpoint. Data
    // rows arrive with NO model and buffer in stream-stream join state;
    // the query is stopped; the models arrive while it is down. On
    // restart the buffered rows must come back from the checkpointed
    // join state and drain against the late models — each exactly once.
    implicit val sqlCtx = spark.sqlContext
    val windowMs = 3L * 86400000L
    val tmp = java.nio.file.Files.createTempDirectory("graft_gate_ck_").toString
    val batchDf = rows.toDF("tms", "features")
    val model = new graft.operators.OnlineTopsis()
      .setCriteriaTypes(1, 1, 1, 2, 2, 2)
      .setWeights(0.1, 0.1, 0.1, 0.1, 0.1, 0.1)
      .setTimeCol("tms").setWindowDuration("3 days")
      .fit(batchDf)
    val modelRows = model.getModelData
      .select("timestamp", "minTimestamp", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

    val dataMem = MemoryStream[(Long, Array[Double])]
    val modelMem = MemoryStream[(Long, Long, Double)]
    val scored = OnlineStreaming.onlineTopsisScoreStreamStream(
      dataMem.toDF().toDF("tms", "features"),
      modelMem.toDF().toDF("timestamp", "minTimestamp", "score"), windowMs)
    def start() = scored.writeStream.format("parquet")
      .option("path", s"$tmp/out").option("checkpointLocation", s"$tmp/ck")
      .outputMode("append").start()

    val q1 = start()
    try {
      dataMem.addData(rows) // no model yet -> all rows buffer in join state
      q1.processAllAvailable()
    } finally q1.stop()

    modelMem.addData(modelRows) // models land while the query is down
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val got = spark.read.parquet(s"$tmp/out")
      .select("tms", "score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got.size == rows.size, // every buffered row drained, none twice
      s"expected ${rows.size} exactly-once emissions, got $got")
    // same check direction as the batch-parity gate tests: every model
    // window's minTimestamp is a row tms in this fixture, and the row
    // scored by that window must carry the window's score
    val gotMap = got.toMap
    modelRows.foreach { case (_, mnts, s) =>
      assert(math.abs(gotMap(mnts) - s) < 1e-12,
        s"window starting at min ts $mnts: ${gotMap(mnts)} vs $s")
    }
  }

  test("sessionize stream restarts from a checkpoint with no lost or duplicate sessions") {
    // the production shape: durable sink + checkpointLocation; the query
    // is stopped mid-stream (one session closed and committed, one still
    // open in state) and restarted — the open session's state and the
    // source offsets must come back from the checkpoint, the closed
    // session must not re-emit (file sink exactly-once)
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_ck_").toString
    val h = 3600000L
    val T = 1000000000000L
    val mem = MemoryStream[(Long, Long, Long)]
    val sessions = graft.operators.EventWindows.sessionizeStream(
      mem.toDF().toDF("event_id", "tms", "user_id"), "tms", Seq("user_id"),
      gap = "1 hour", delay = "0 seconds")
    def start() = sessions.writeStream.format("parquet")
      .option("path", s"$tmp/out").option("checkpointLocation", s"$tmp/ck")
      .outputMode("append").start()

    val q1 = start()
    try {
      // user 1: session A (2 events), then an event 3h later — the
      // watermark jump closes A (committed to the sink) while the new
      // session stays OPEN in state
      mem.addData(Seq((1L, T, 1L), (2L, T + 30 * 60000L, 1L), (3L, T + 3 * h, 1L)))
      q1.processAllAvailable()
    } finally q1.stop()

    // data arrives while the query is down; the restart must resume from
    // the committed source offset and restored session state
    mem.addData(Seq(
      (4L, T + 3 * h + 10 * 60000L, 1L), // extends user 1's OPEN session
      (5L, T + 3 * h + 20 * 60000L, 2L))) // a brand-new user-2 session
    val q2 = start()
    try {
      q2.processAllAvailable()
      mem.addData(Seq((99L, 2000000000000L, 9L))) // sentinel closes all
      q2.processAllAvailable()
    } finally q2.stop()

    val all = spark.read.parquet(s"$tmp/out").filter(col("user_id") < 9)
      .select("user_id", "n_events", "duration_ms")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // exactly once: session A once, the merged post-restart session
    // (events 3+4 — state restored across the restart), user 2 once
    assert(all.size == all.toSet.size, s"duplicate emissions: $all")
    assert(all.toSet == Set(
      (1L, 2L, 30 * 60000L), (1L, 2L, 10 * 60000L), (2L, 1L, 0L)),
      s"got $all")
  }

  /** Total state-store rows as of the LAST progress entry that carries
    * state metrics — i.e. after the final (possibly no-data) microbatch's
    * eviction ran. */
  private def stateRows(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
    q.recentProgress.reverse.collectFirst {
      case p if p.stateOperators.nonEmpty => p.stateOperators.map(_.numRowsTotal).sum
    }.getOrElse(-1L)

  test("state bounds: closed sessions/windows/asof-keys are EVICTED, not retained") { withRocksDB {
    // The scale contract the drains document (state ∝ OPEN entities, not
    // corpus) asserted from StreamingQueryProgress state metrics: a
    // regression that starts retaining closed state fails here, not in a
    // 1000x OOM. Each pipeline: load many entities -> peak state; push
    // the watermark past everything -> state must collapse to just the
    // sentinel's own entity.
    implicit val sqlCtx = spark.sqlContext
    val base = 1000000000000L

    // -- session windows: 40 users x 2 sessions
    val sessMem = MemoryStream[(Long, Long, Long)]
    val sessions = graft.operators.EventWindows.sessionizeStream(
      sessMem.toDF().toDF("event_id", "tms", "user_id"), "tms", Seq("user_id"),
      gap = "1 hour", delay = "0 seconds")
    val sq = sessions.writeStream.format("noop").outputMode("append").start()
    try {
      sessMem.addData((1 to 40).flatMap(u => Seq(
        (u * 10L, base + u * 1000L, u.toLong),
        (u * 10L + 1, base + 5 * 3600000L + u * 1000L, u.toLong))))
      sq.processAllAvailable()
      // the batch's own watermark advance already evicted the 40 EARLY
      // sessions (their close fell behind the late events' watermark) —
      // the 40 still-open ones are what state may hold
      val peak = stateRows(sq)
      assert(peak == 40, s"expected exactly the 40 open sessions in state, got $peak")
      sessMem.addData(Seq((9999L, base + 1000L * 3600000L, 999L)))
      sq.processAllAvailable()
      val post = stateRows(sq)
      assert(post == 1, s"closed sessions must evict; state rows = $post")
    } finally sq.stop()

    // -- windowed AHP buffers: events across 3 tumbling 3-day windows
    val ahpMem = MemoryStream[(Long, Array[Double])]
    val day = 86400000L
    val scored = OnlineStreaming.onlineAhpStream(
      ahpMem.toDF().toDF("tms", "features"),
      Array(Array(1.0, 2.0), Array(0.5, 1.0)), Array(1, 0), "3 days")
    val aq = scored.writeStream.format("noop").outputMode("append").start()
    try {
      // events span THREE 3-day windows; once the batch's watermark lands
      // inside the last one, the two scored windows must already be gone.
      // State is insert-only append chunks (AhpWindowProcessor MapState):
      // each microbatch adds its own chunk rows, so a retention
      // regression (scored windows keeping their buffers) reads 3
      // windows' worth here, not 1
      ahpMem.addData((0 until 9).map(i => (base + i * day, Array(i + 1.0, 9.0 - i))))
      aq.processAllAvailable()
      val peak = stateRows(aq)
      // one open window = its single append chunk + its 8-byte counter
      assert(peak == 2, s"open window = 1 chunk row + 1 counter, got $peak")
      // a second microbatch into the SAME open window must land as a NEW
      // chunk row (insert-only append — the monolithic-buffer shape would
      // still read one value here, rewritten in place)
      ahpMem.addData(Seq((base + 8 * day + 3600000L, Array(2.0, 2.0))))
      aq.processAllAvailable()
      val grown = stateRows(aq)
      assert(grown == 3, s"second microbatch must append a chunk row, got $grown")
      ahpMem.addData(Seq((base + 1000 * day, Array(1.0, 1.0))))
      aq.processAllAvailable()
      val post = stateRows(aq)
      // scored windows evicted their chunks; only the sentinel's own
      // window remains (1 chunk + 1 counter)
      assert(post == 2, s"scored windows must evict their chunks; state rows = $post")
    } finally aq.stop()

    // -- as-of join: 30 keys of pending lefts + right buffers
    val asofMem = MemoryStream[(Long, Long, Int, Long, Double)]
    val matched = AsofStreaming.asofStream(
      asofMem.toDF().toDF("key", "tms", "side", "id", "value"),
      tolerance = day, lateness = "0 seconds")
    val jq = matched.toDF().writeStream.format("noop").outputMode("append").start()
    try {
      asofMem.addData((1 to 30).flatMap(k => Seq(
        (k.toLong, base + k * 1000L, 0, k * 100L, k * 1.0),
        (k.toLong, base + k * 1000L + 500L, 1, k * 100L + 1, 0.0))))
      jq.processAllAvailable()
      val peak = stateRows(jq)
      assert(peak >= 30, s"expected >= 30 keys of asof state, got $peak")
      asofMem.addData(Seq((-1L, base + 1000 * day, 0, -1L, 0.0)))
      jq.processAllAvailable()
      val post = stateRows(jq)
      assert(post <= 1, s"finalized asof keys must evict; state rows = $post")
    } finally jq.stop()
  }}

  test("stateless pipeline ops compose onto streams unchanged") {
    // the deployment shape for the filter-class curation ops: hash
    // sampling, PII scrub, repetition metrics are pure projections/
    // filters, so the SAME Column expressions run per-microbatch with
    // no state and match the batch result row-for-row
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Sampling, TextAnalysis}
    val mem = MemoryStream[(Long, String)]
    val streamed = mem.toDF().toDF("doc_id", "text")
      .filter(Sampling.bucket(col("doc_id")) < 5000) // ~50% hash sample
      .select(col("doc_id"), TextAnalysis.scrub(col("text")).as("text"),
        TextAnalysis.dupWordFrac(col("text")).as("dw"))
      .filter(col("dw") <= 0.5)
    val q = streamed.writeStream.format("memory")
      .queryName("stateless_ops").outputMode("append").start()
    try {
      val rows = (1L to 40L).map(i =>
        (i, if (i % 3 == 0) "spam spam spam spam" // repetition-filtered
            else s"doc $i mail me at a@b.co or 12345678"))
      mem.addData(rows)
      q.processAllAvailable()
      val got = spark.table("stateless_ops")
        .select("doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      val want = rows.toDF("doc_id", "text")
        .filter(Sampling.bucket(col("doc_id")) < 5000)
        .select(col("doc_id"), TextAnalysis.scrub(col("text")).as("text"),
          TextAnalysis.dupWordFrac(col("text")).as("dw"))
        .filter(col("dw") <= 0.5)
        .select("doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == want, "stream and batch must select identical rows")
      assert(got.nonEmpty && got.forall(_._2.contains("<EMAIL>")),
        "scrub must have masked the synthetic PII")
      assert(!got.exists(_._2.contains("spam")), "repetition filter must apply")
    } finally q.stop()
  }

  test("exact-gap boundary: batch AND stream keep the event in one session") {
    // batch breaks only on delta > gap, so an event EXACTLY gap later
    // stays in-session. session_window spans [t, t+gap) per event, but
    // Spark merges ABUTTING windows (end == next start counts as the same
    // session), so the stream agrees — exact parity at the boundary,
    // pinned here because it was once documented as a divergence.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val h = 3600000L
    val T = 1000000000000L
    val pair = Seq((1L, T, 1L), (2L, T + h, 1L))
    val batchSessions = graft.operators.EventWindows.sessionize(
      pair.toDF("event_id", "tms", "user_id"), "tms", Seq("user_id"), h)
      .select("session_id").as[Long].collect().toSet
    assert(batchSessions == Set(0L), s"batch must keep one session: $batchSessions")

    val mem = MemoryStream[(Long, Long, Long)]
    val sessions = graft.operators.EventWindows.sessionizeStream(
      mem.toDF().toDF("event_id", "tms", "user_id"), "tms", Seq("user_id"),
      gap = "1 hour", delay = "0 seconds")
    val query = sessions.writeStream
      .format("memory").queryName("gap_out").outputMode("append").start()
    try {
      mem.addData(pair)
      query.processAllAvailable()
      mem.addData(Seq((99L, 2000000000000L, 9L)))
      query.processAllAvailable()
      val got = spark.table("gap_out").filter(col("user_id") < 9)
        .select("n_events", "duration_ms")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == Seq((2L, h)),
        s"stream must keep the exact-gap pair in one session like batch, got $got")
    } finally query.stop()
  }
}
