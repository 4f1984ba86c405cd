package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet is TIMESTAMP(NANOS); Spark 4 only reads it as long
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // InferFiltersFromGenerate re-inlines the whole shingle transform
      // into a pre-explode filter (3 evaluations/row in d02/d04/d06
      // scan stages); Generate already skips empty arrays, so the
      // inferred filter only burns scan-stage CPU.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // local iteration aid (driver never sets it): run only the named
    // comma-separated queries
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
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
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Bounded-error gates for the declared-approximate queries (r16
    // verdict #2): exact-recompute SQL + per-column tolerance checks.
    // The check fragments are authored as raw JSON in SparkEntry
    // (newlines legal between JSON tokens); only the SQL needs escaping.
    val gates = SparkEntry.toleranceExactSql
      .map { case (k, sql) =>
        s"${q(k)}: {${q("exact_sql")}: ${q(sql)}, " +
          SparkEntry.toleranceChecks(k) + "}"
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/tolerance_gates.json"), gates)
    spark.stop()
  }
}
