package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal

/** Optimization-round instrumentation: dump `.explain("formatted")` for a
  * set of declared queries to one file each, so plan-shape claims
  * (Exchange count, join strategy, PushedFilters/ReadSchema) are
  * committed evidence rather than prose. Usage:
  *   runMain graft.PlanDump <sfDir> <outDir> [q1,q2,...]
  * The session comes from `Graft.session(local[$SPARK_GRAFT_CPUS])`, the
  * factory Bench uses too, so the dumped plans are the ones the bench
  * executes by construction. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    val only: Set[String] =
      if (args.length > 2) args(2).split(",").toSet else Set.empty
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Graft.session(master = s"local[$cpus]")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only(n))
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/$name.txt"), txt)
        println(s"[plandump] $name ok")
      } catch { case NonFatal(e) =>
        System.err.println(s"[plandump] $name FAILED: $e")
      }
      spark.sharedState.cacheManager.clearCache()
    }
    spark.stop()
  }
}
