package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd+ args: restrict to these query keys (local sf1
    // spot-checks); the driver's 2-arg call dumps the full catalog
    val only = if (args.length > 2) args.drop(2).toSet else SparkEntry.queries.keySet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Profile-invariance gate (r10): SPARK_GRAFT_PROFILE overrides the
    // OPERATOR-knob profile (salts, hot thresholds, lake buckets —
    // consumed via GraftSession.profileOf) while the builder below
    // keeps LOCAL sizing (shuffle partitions = cpus). Running the full
    // battery with cluster1000 knobs proves "knobs change sizing,
    // never answers" as a gate instead of prose. The cluster profile
    // stages through a reliable checkpoint only, so it gets a
    // checkpoint dir in a JVM-scoped scratch dir (outside outDir).
    val profile = sys.env.get("SPARK_GRAFT_PROFILE")
    val b = GraftSession.tune(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus))
    val spark = (if (profile.contains(GraftSession.Cluster1000.name))
      b.config("spark.checkpoint.dir", graft.queries.StateCatalog.jvmScratch("graft_verify_ckpt"))
    else b).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    profile.foreach(p => spark.conf.set("spark.graft.profile", p))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => only(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => only(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
