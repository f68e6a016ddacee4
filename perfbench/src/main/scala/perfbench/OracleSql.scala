package perfbench

/** Writes the DuckDB oracle of the named queries, as `graft.Verify` does:
  * `oracle_sql.json` (query -> SQL) and `oracle_tolerance.json` (query ->
  * declared absolute tolerance) in `dir`. No Spark session is started.
  *
  * Usage: OracleSql <dir> <q1,q2,...>
  */
object OracleSql {
  def write(dir: String, names: Seq[String]): Unit = {
    val wanted = names.toSet
    Json.write(s"$dir/oracle_sql.json",
      graft.SparkEntry.oracleSql.filter { case (k, _) => wanted(k) })
    Json.write(s"$dir/oracle_tolerance.json",
      graft.SparkEntry.oracleTolerance.filter { case (k, _) => wanted(k) })
  }

  def main(args: Array[String]): Unit = {
    val Array(dir, queries) = args
    write(dir, queries.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
  }
}
