package graft.sources

import org.apache.spark.sql.DataFrame

/**
 * Corpus interchange formats: CSV and JSONL round-trips through Spark's
 * native readers/writers — the Spark-first counterpart of the
 * reference's hand-rolled CSV parsing (`AHPExample.java:51-72`,
 * `FCMExample.java:56-79`, `AprioriExample.java:69-88` read Iris/NFLX/
 * Groceries by BufferedReader + split). Here the format handling is
 * entirely `spark.read`/`df.write` — schema-checked, quoted/escaped,
 * null-distinguishing, splittable where the format allows — and the
 * round-trip queries PROVE losslessness against the original parquet
 * table as the oracle.
 *
 * Losslessness contract:
 *  - nulls serialize as an explicit `\N` token (CSV) so they stay
 *    distinct from empty strings; JSONL omits null fields and the
 *    schema-driven read restores them.
 *  - longs round-trip textually exactly; doubles via shortest-repr
 *    (Spark writes the shortest decimal that parses back to the same
 *    IEEE value).
 *  - text with separators/quotes/newlines survives via standard CSV
 *    double-quote escaping.
 *
 * Scale shape (100 TB): JSONL is line-splittable — a corpus-sized read
 * parallelizes like parquet (minus columnar pruning: every byte is
 * scanned, which is why the pipeline's STANDING format is parquet and
 * these are ingest/egress edges). CSV here reads with `multiLine=true`
 * to honor quoted newlines, which makes a file NON-splittable — one
 * task per file; a production ingest shards into many files (as this
 * writer already does, one per partition) or strips newlines upstream
 * and drops multiLine.
 */
object TextFormats {
  /** Shutdown-cleaned scratch path for the writers here and their
    * siblings (Warc, GraftTable). */
  private[sources] def scratchDir(tag: String): String =
    graft.core.Stage.tempDir(s"graft_fmt_$tag").resolve("data").toString

  /** Write `df` as headered, `\N`-null, quote-escaped CSV and read it
    * back under the same schema.
    *
    * The null token needs its own escaping layer: Spark's reader maps
    * any field EQUAL to `nullValue` back to null — even a quoted one —
    * so the literal string `\N` would be silently nulled. The fix is a
    * bijection on the colliding family only: on write, every string
    * matching `\+N` (one or more backslashes then N) gains one leading
    * backslash; on read, one is stripped. null ↔ bare `\N`,
    * `\N` ↔ `\\N`, `\\N` ↔ `\\\N`, …; every other string is untouched
    * in both directions. Applied per string column as a codegen'd
    * regexp — scan-local, no shuffle. */
  def csvRoundTrip(df: DataFrame, tag: String): DataFrame = {
    val path = scratchDir(tag)
    escapeNullToken(df).write
      .option("header", "true").option("nullValue", "\\N")
      .option("escape", "\"")
      .csv(path)
    unescapeNullToken(df.sparkSession.read.schema(df.schema)
      .option("header", "true").option("nullValue", "\\N")
      .option("escape", "\"").option("multiLine", "true")
      .csv(path))
  }

  /** Write-side half of the `\N` null-token bijection (see
    * [[csvRoundTrip]]): every string column value matching `\+N` gains
    * one leading backslash so it cannot collide with the bare token. */
  def escapeNullToken(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, regexp_replace, when}
    stringCols(df).foldLeft(df) { (d, c) =>
      d.withColumn(c, when(col(c).rlike("^\\\\+N$"),
        regexp_replace(col(c), "^", "\\\\")).otherwise(col(c)))
    }
  }

  /** Read-side inverse of [[escapeNullToken]]: strings of two-or-more
    * backslashes then N lose one backslash. */
  def unescapeNullToken(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, regexp_replace, when}
    stringCols(df).foldLeft(df) { (d, c) =>
      d.withColumn(c, when(col(c).rlike("^\\\\\\\\+N$"),
        regexp_replace(col(c), "^\\\\", "")).otherwise(col(c)))
    }
  }

  private def stringCols(df: DataFrame): Seq[String] =
    df.schema.fields.collect {
      case f if f.dataType == org.apache.spark.sql.types.StringType => f.name
    }.toSeq

  /** Write `df` as JSON Lines and read it back under the same schema. */
  def jsonlRoundTrip(df: DataFrame, tag: String): DataFrame = {
    val path = scratchDir(tag)
    df.write.json(path)
    df.sparkSession.read.schema(df.schema).json(path)
  }

  /** The single-huge-file variant of [[csvRoundTrip]]: write the table
    * as ONE quoted CSV file (the shape Spark's own `multiLine` reader
    * scans with a single task) and read it back through
    * [[SplittableCsv]]'s parallel byte ranges. `blockBytes` controls
    * the range count — the round trip is lossless at ANY cut because
    * record ownership is quote-aware (see SplittableCsv). */
  def csvSplittableRoundTrip(df: DataFrame, tag: String,
                             blockBytes: Long): DataFrame = {
    val path = scratchDir(tag)
    escapeNullToken(df).coalesce(1).write
      .option("header", "true").option("nullValue", "\\N")
      .option("escape", "\"")
      .csv(path)
    val part = new java.io.File(path).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
    require(part.length == 1, s"expected one part file, got ${part.length}")
    unescapeNullToken(SplittableCsv.read(df.sparkSession,
      part.head.getAbsolutePath, df.schema, header = true,
      blockBytes = blockBytes))
  }
}
