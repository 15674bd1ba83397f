package perfbench

/** Writes `{entry: oracle SQL}` for every benchmarked catalog entry —
  * the input refs.py replays in DuckDB to build the references.
  *
  *   java -cp <classpath> perfbench.OracleSql <out.json>
  */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val sql = graft.SparkEntry.oracleSql
    val names = Entries.interactive ++ Entries.corpusDedup
    Json.writeFile(args(0), names.map(n => n -> sql.get(n)).toMap)
  }
}
