package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Closed-loop driver for one benchmark workload.
  *
  * One thread issues the workload's queries back to back, in the order
  * given, on `local[nproc]`. Each query is timed through three public calls:
  * `SparkEntry.queries(name)(spark, dir)` (build),
  * `df.queryExecution.executedPlan` (plan) and
  * `df.queryExecution.toRdd.count()` (exec). One untimed warm-up pass runs
  * first; after each query's exec it also writes the same DataFrame's result
  * as parquet, with the oracle SQL beside it, in the layout
  * `tools/check_oracle.py` reads. Timed passes then repeat until `seconds`
  * have elapsed (at least three of them; none when `seconds` is 0), and a
  * JSON record of the whole run is written last.
  *
  * With tracing on, traced and untraced passes alternate. In a traced pass
  * each span (pass, query, phase) sets its own job group, and a
  * `SparkListener` records every job, stage and task.
  *
  * Usage: Harness <dataDir> <outDir> <seconds> <trace 0|1> <q1,q2,...>
  */
object Harness {

  final case class Span(id: Int, parent: Int, kind: String, name: String,
                        pass: Int, startUs: Long, var endUs: Long = -1L)

  /** Wall-clock microseconds with `nanoTime` resolution. */
  private val originNs = System.nanoTime()
  private val originUs = System.currentTimeMillis() * 1000L
  def nowUs(): Long = originUs + (System.nanoTime() - originNs) / 1000L

  def main(args: Array[String]): Unit = {
    if (args.length != 5) {
      System.err.println(
        "usage: Harness <dataDir> <outDir> <seconds> <trace 0|1> <q1,q2,...>")
      sys.exit(2)
    }
    val Array(dataDir, outDir, secondsArg, traceArg, queryArg) = args
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val names = queryArg.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    // registry guard: a workload must never shrink silently
    val missing = names.filterNot(graft.SparkEntry.queries.contains)
    if (missing.nonEmpty) {
      System.err.println("perfbench: workload lists queries absent from " +
        s"SparkEntry.queries: ${missing.mkString(", ")}")
      sys.exit(3)
    }
    val fns = names.map(n => n -> graft.SparkEntry.queries(n))

    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionUs = nowUs()

    val spans = new ConcurrentLinkedQueue[Span]()
    val spanIds = new AtomicInteger(0)
    @volatile var current: Span = null
    val jobs = new JobListener
    val streams = new StreamListener(() => current)
    spark.streams.addListener(streams)

    // the open spans, innermost first; only the driver thread touches it
    var stack = List.empty[Span]
    def setGroup(traced: Boolean): Unit = if (traced) stack match {
      case s :: _ => spark.sparkContext.setJobGroup(s"span-${s.id}", s"${s.kind} ${s.name}")
      case Nil => spark.sparkContext.clearJobGroup()
    }
    def open(kind: String, name: String, pass: Int, traced: Boolean): Span = {
      val s = Span(spanIds.incrementAndGet(), stack.headOption.fold(-1)(_.id),
        kind, name, pass, nowUs())
      spans.add(s)
      stack = s :: stack
      current = s
      setGroup(traced)
      s
    }
    def close(s: Span, traced: Boolean): Unit = {
      s.endUs = nowUs()
      stack = stack.tail
      current = stack.headOption.orNull
      setGroup(traced)
    }
    def phase[A](kind: String, name: String, pass: Int, traced: Boolean)(
        body: => A): A = {
      val s = open(kind, name, pass, traced)
      try body finally close(s, traced)
    }

    val queryRecs = mutable.ArrayBuffer.empty[Map[String, Any]]
    /** One pass over the workload. Pass 0 is the untimed warm-up; it also
      * writes each query's result for the oracle check. */
    def runPass(pass: Int, traced: Boolean): Map[String, Any] = {
      val before = Host.sample()
      val t0 = nowUs()
      phase("pass", s"pass-$pass", pass, traced) {
        fns.foreach { case (name, fn) =>
          spark.catalog.clearCache()
          var err: String = null
          var rows = -1L
          val times = mutable.LinkedHashMap.empty[String, Double]
          phase("query", name, pass, traced) {
            try {
              var df: DataFrame = null
              def timed(kind: String)(body: => Unit): Unit = {
                val a = nowUs()
                phase(kind, name, pass, traced)(body)
                times(kind) = (nowUs() - a) / 1e6
              }
              timed("build") { df = fn(spark, dataDir) }
              timed("plan") { df.queryExecution.executedPlan }
              timed("exec") { rows = df.queryExecution.toRdd.count() }
              if (pass == 0) timed("dump") {
                df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/verify/$name")
              }
            } catch {
              case e: Throwable =>
                err = s"${e.getClass.getName}: ${e.getMessage}"
                System.err.println(s"[perfbench] $name failed in pass $pass: $err")
            }
          }
          queryRecs += Map("pass" -> pass, "query" -> name, "ok" -> (err == null),
            "error" -> err, "rows" -> rows) ++ times
        }
      }
      val wall = (nowUs() - t0) / 1e6
      Map("pass" -> pass, "traced" -> traced, "wall_s" -> wall) ++
        Host.delta(before, Host.sample())
    }

    val startUs = nowUs()
    val warmup = runPass(0, traced = false)
    val warmupUs = nowUs()
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val measureUs = (seconds * 1e6).toLong
    def elapsed = nowUs() - warmupUs
    var pass = 1
    def untraced(): Unit = { passes += runPass(pass, traced = false); pass += 1 }
    if (seconds <= 0) {
      // warm-up only: how the build records which classes a run loads
    } else if (!trace) {
      while (pass <= 3 || elapsed < measureUs) untraced()
    } else {
      // traced passes alternate with untraced ones, and every traced pass
      // has an untraced pass on either side: comparing the two cancels the
      // drift of a still-warming JVM out of the tracing overhead
      untraced()
      while (pass <= 3 || elapsed < measureUs) {
        spark.sparkContext.addSparkListener(jobs)
        passes += runPass(pass, traced = true); pass += 1
        ListenerBusAccess.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(jobs)
        untraced()
      }
    }
    val measuredUs = nowUs()
    val peakRssKb = Host.vmHwmKb()
    ListenerBusAccess.drain(spark.sparkContext)

    OracleSql.write(s"$outDir/verify", names)

    val jvmStartUs =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime * 1000L
    Json.write(s"$outDir/raw.json", Map(
      "nproc" -> cpus,
      "queries" -> names,
      "jvm_start_us" -> jvmStartUs,
      "session_us" -> sessionUs,
      "start_us" -> startUs,
      "warmup_end_us" -> warmupUs,
      "measure_end_us" -> measuredUs,
      "warmup" -> warmup,
      "passes" -> passes.toSeq,
      "query_runs" -> queryRecs.toSeq,
      "peak_rss_kb" -> peakRssKb,
      "spans" -> spans.asScala.toSeq.map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "pass" -> s.pass, "start_us" -> s.startUs, "end_us" -> s.endUs)),
      "jobs" -> jobs.jobRecords,
      "stages" -> jobs.stageRecords,
      "batches" -> streams.batchRecords,
    ))
    spark.stop()
  }

  /** Jobs, stages and per-stage task totals, for the traced passes. */
  final class JobListener extends SparkListener {
    private val jobsById = mutable.LinkedHashMap.empty[Int, mutable.Map[String, Any]]
    private val stagesByKey =
      mutable.LinkedHashMap.empty[(Int, Int), mutable.Map[String, Any]]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
      jobsById(e.jobId) = mutable.Map("job" -> e.jobId, "group" -> group,
        "start_ms" -> e.time, "stages" -> e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobsById.get(e.jobId).foreach { j =>
        j("end_ms") = e.time
        j("ok") = e.jobResult == JobSucceeded
      }
    }
    private def stage(id: Int, attempt: Int): mutable.Map[String, Any] =
      stagesByKey.getOrElseUpdate((id, attempt), mutable.Map[String, Any](
        "stage" -> id, "attempt" -> attempt, "tasks" -> 0L, "failed_tasks" -> 0L,
        "busy_ms" -> 0L, "run_ms" -> 0L, "cpu_ns" -> 0L, "sched_ms" -> 0L,
        "shuffle_write_b" -> 0L, "shuffle_read_b" -> 0L, "spill_b" -> 0L,
        "result_b" -> 0L, "input_b" -> 0L, "output_b" -> 0L))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val s = stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
      s("num_tasks") = e.stageInfo.numTasks
      e.stageInfo.submissionTime.foreach(t => s("start_ms") = t)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val s = stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
      e.stageInfo.submissionTime.foreach(t => s("start_ms") = t)
      e.stageInfo.completionTime.foreach(t => s("end_ms") = t)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val s = stage(e.stageId, e.stageAttemptId)
      def add(k: String, v: Long): Unit = s(k) = s(k).asInstanceOf[Long] + v
      val info = e.taskInfo
      add("tasks", 1)
      if (!info.successful) add("failed_tasks", 1)
      val busy = math.max(0L, info.finishTime - info.launchTime)
      add("busy_ms", busy)
      val m = e.taskMetrics
      if (m != null) {
        add("run_ms", m.executorRunTime)
        add("cpu_ns", m.executorCpuTime)
        add("sched_ms", math.max(0L, busy - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          info.gettingResultTime))
        add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten)
        add("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead)
        add("spill_b", m.diskBytesSpilled)
        add("input_b", m.inputMetrics.bytesRead)
        add("output_b", m.outputMetrics.bytesWritten)
        if (e.taskType == "ResultTask") add("result_b", m.resultSize)
      }
    }
    def jobRecords: Seq[Map[String, Any]] = synchronized(jobsById.values.map(_.toMap).toSeq)
    def stageRecords: Seq[Map[String, Any]] = synchronized(stagesByKey.values.map(_.toMap).toSeq)
  }

  /** Every microbatch of every stream, tagged with the span that was open
    * when its query started (start events are delivered synchronously). */
  final class StreamListener(currentSpan: () => Span) extends StreamingQueryListener {
    import StreamingQueryListener._
    private val owner = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, Span]()
    private val batches = new ConcurrentLinkedQueue[Map[String, Any]]()

    override def onQueryStarted(e: QueryStartedEvent): Unit = {
      val s = currentSpan()
      if (s != null) owner.put(e.runId, s)
    }
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val s = owner.get(p.runId)
      val ops = p.stateOperators.toSeq
      batches.add(Map(
        "run_id" -> p.runId.toString,
        "batch" -> p.batchId,
        "span" -> (if (s == null) -1 else s.id),
        "pass" -> (if (s == null) -1 else s.pass),
        "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "input_rows" -> p.numInputRows,
        "durations_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        "state_commit_ms" -> ops.map(_.commitTimeMs).sum,
        "state_rows" -> ops.map(_.numRowsTotal).sum))
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    def batchRecords: Seq[Map[String, Any]] = batches.asScala.toSeq
  }

  /** Host load, read from /proc, and the JVM's own CPU time and memory. */
  object Host {
    final case class Sample(load1: Double, cpu: Array[Long], processCpuNs: Long)
    private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    private def read(path: String): String =
      try new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))
      catch { case _: Exception => "" }
    def sample(): Sample = {
      val load = read("/proc/loadavg").split("\\s+").headOption
        .flatMap(_.toDoubleOption).getOrElse(-1.0)
      // aggregate "cpu" line: user nice system idle iowait irq softirq steal
      val cpu = read("/proc/stat").linesIterator.find(_.startsWith("cpu "))
        .map(_.trim.split("\\s+").drop(1).take(8).map(_.toLong))
        .getOrElse(Array.fill(8)(0L))
      Sample(load, cpu, os.getProcessCpuTime)
    }
    def delta(a: Sample, b: Sample): Map[String, Any] = {
      val d = a.cpu.zip(b.cpu).map { case (x, y) => y - x }
      val total = math.max(1L, d.sum).toDouble
      Map("load1" -> b.load1,
        "cpu_s" -> (b.processCpuNs - a.processCpuNs) / 1e9,
        "iowait_pct" -> 100.0 * d(4) / total,
        "steal_pct" -> 100.0 * d(7) / total)
    }
    def vmHwmKb(): Long = read("/proc/self/status").linesIterator
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)
  }
}

/** Minimal JSON writer for the harness records. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: java.lang.Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def write(path: String, v: Any): Unit = {
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, render(v))
  }
}
