package graft.core

import org.apache.spark.sql.DataFrame

/**
 * Session-temp parquet stage tables: the production-shape alternative to
 * `persist()` inside a LAZY query builder.
 *
 * A persist there leaks — the builder returns before the query runs, so
 * nothing can unpersist it and the cache outlives the query (the house
 * rule the q_curate staging comment documents; the round-6 pplBuckets
 * persist was exactly this hazard). `materialize` instead writes the
 * relation ONCE to a temp stage table and returns a lazy reader over it:
 * upstream computes exactly once, every downstream pass re-reads compact
 * columnar data, and nothing stays resident in the cache manager after
 * cleanup.
 *
 * WHERE the stage table lives is the cluster-portability question: a
 * driver-local `Files.createTempDirectory` path is only valid when driver
 * and executors share a filesystem (local mode). On a real multi-node
 * cluster, set **`spark.graft.stage.dir`** to a shared-filesystem URI
 * (HDFS/S3A/NFS job-scratch space); each materialize call then writes a
 * unique subdirectory under it through the Hadoop FileSystem API and
 * every executor resolves the same bytes. Unset (the default) it falls
 * back to the local temp dir — correct for local[*], NOT for a cluster,
 * and the conf is the documented switch.
 *
 * Cleanup is a JVM shutdown hook in both modes (best-effort: scratch
 * space is assumed to have its own retention policy, as job-scratch
 * areas do).
 *
 * The write runs at query-BUILD time; Bench times the build, so staged
 * queries pay their materialization inside the measured window.
 */
object Stage {
  /** Spark conf key: shared-filesystem URI for stage tables. */
  val StageDirConf = "spark.graft.stage.dir"

  private val localDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private val remoteDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[(org.apache.hadoop.conf.Configuration, String)]()
  private lazy val hookInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      localDirs.forEach { root =>
        try java.nio.file.Files.walk(root)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
        catch { case _: Exception => } // best-effort: shutdown must not fail
      }
      remoteDirs.forEach { case (conf, dir) =>
        try {
          val p = new org.apache.hadoop.fs.Path(dir)
          p.getFileSystem(conf).delete(p, true); ()
        } catch { case _: Exception => }
      }
    }))
  private val runId = new java.util.concurrent.atomic.AtomicInteger(0)

  /** A fresh driver-local temp dir, deleted with its contents at JVM
    * exit — the one scratch-dir mechanism behind stage tables, stream
    * drains and fixture writers. */
  private[graft] def tempDir(prefix: String): java.nio.file.Path = {
    hookInstalled
    val dir = java.nio.file.Files.createTempDirectory(
      s"${prefix}_${runId.incrementAndGet()}_")
    localDirs.add(dir)
    dir
  }

  /** Write `df` to a fresh stage table and return a lazy reader over it. */
  def materialize(df: DataFrame, tag: String): DataFrame = {
    val spark = df.sparkSession
    val path = spark.conf.getOption(StageDirConf) match {
      case Some(base) =>
        hookInstalled
        val dir = s"${base.stripSuffix("/")}/graft_stage_${tag}_" +
          s"${runId.incrementAndGet()}_" + java.util.UUID.randomUUID().toString.take(8)
        remoteDirs.add((spark.sparkContext.hadoopConfiguration, dir))
        s"$dir/data"
      case None => tempDir(s"graft_stage_$tag").resolve("data").toString
    }
    df.write.parquet(path)
    spark.read.parquet(path)
  }
}
