package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness. */
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Runs each query, dumps results + oracle_sql.json + errors.json.
    * Factored out of main so VerifySpec can drive it with a deliberately
    * failing query and assert the failure is VISIBLE in the artifact.
    * Returns the failed-query map (empty on a clean run). */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          queries: Map[String, (SparkSession, String) => DataFrame],
          oracleSql: Map[String, String]): Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    // A crashed query must be VISIBLE in the artifact: collect id → error
    // and write errors.json beside oracle_sql.json. Round 5/6 lesson: the
    // swallow-and-stderr version let a 17-query subsystem failure show up
    // as "130 clean rows" in the driver's correctness report.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}"
        System.err.println(s"[verify] $name failed: $msg")
        errors(name) = msg.take(500)
      }
      // queries that persist internally (recipe, resample, pagerank
      // scaffolding) must not pin cache across the remaining ~100
      // queries of this one-session run — same contract as Bench
      spark.sharedState.cacheManager.clearCache()
    }
    val json = oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    // Loud but zero-exit: the driver must still read the artifacts above.
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED: " +
        errors.keys.mkString(", "))
    errors.toMap
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    // optional dev-only 3rd arg: comma-separated query-name filter for
    // fast single-query iteration (driver always calls with 2 args)
    val only: Set[String] =
      if (args.length > 2) args(2).split(",").toSet else Set.empty
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Graft.session(master = s"local[$cpus]")
    spark.sparkContext.setLogLevel("WARN")
    val queries = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
    run(spark, sfDir, outDir, queries, SparkEntry.oracleSql)
    spark.stop()
  }
}
