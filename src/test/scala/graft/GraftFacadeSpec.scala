package graft

import java.lang.management.ManagementFactory
import java.nio.file.Files
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics

class GraftFacadeSpec extends SparkSpec {

  test("facade exposes the full declared surface and runs a query by id") {
    // independent floor + spot ids, not a tautological self-compare
    assert(Graft.queries.size >= 120)
    assert(Graft.queries.contains("q_agg_hash") &&
      Graft.queries.contains("q_graph_pagerank"))
    val out = Graft.run("q_agg_hash", spark, sf)
    assert(out.count() > 0)
    val err = intercept[IllegalArgumentException] {
      Graft.run("q_no_such_query", spark, sf)
    }
    assert(err.getMessage.contains("valid ids"))
  }

  // The shared SparkSpec session is created first in this JVM and has no
  // extensions, so the facade's static confs (extensions, codegen cache
  // size) can only be observed in a JVM whose first session is
  // Graft.session: a child JVM on this JVM's classpath runs
  // GraftFacadeProbe and reports on stdout.
  private lazy val probe: Map[String, String] = {
    // the JVM reports `--add-opens X` as `--add-opens=X`
    val addOpens = ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.filter(_.startsWith("--add-opens="))
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java", "-Xmx1g") ++
      addOpens ++ Seq("-cp", System.getProperty("java.class.path"),
        "graft.GraftFacadeProbe")
    val log = Files.createTempFile("graft_facade_probe", ".log").toFile
    val proc = new ProcessBuilder(cmd.asJava)
      .redirectErrorStream(true).redirectOutput(log).start()
    if (!proc.waitFor(300, TimeUnit.SECONDS)) proc.destroyForcibly()
    val lines = Files.readAllLines(log.toPath).asScala.toSeq
    log.delete()
    val out = lines.collect {
      case l if l.startsWith("PROBE ") =>
        val Array(k, v) = l.stripPrefix("PROBE ").split("=", 2)
        k -> v
    }.toMap
    assert(out.contains("done"),
      s"probe JVM did not finish:\n${lines.takeRight(40).mkString("\n")}")
    out
  }

  test("the extensions the facade installs resolve in SQL") {
    assert(math.abs(probe("cosine_sim").toDouble - 1.0) < 1e-9)
  }

  test("the facade's codegen cache keeps a query's classes past 120 other plan shapes") {
    assert(probe("shape_compiles").toLong >= 120,
      "the distinct plans must each have compiled new classes")
    assert(probe("recompiles").toLong == 0,
      "re-running the first query recompiled its generated classes")
  }
}

/** Child-JVM side of GraftFacadeSpec: the first session in this JVM is
  * `Graft.session`, as in the harness mains. */
object GraftFacadeProbe {
  def main(args: Array[String]): Unit = {
    val spark = Graft.session("local[2]")
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def queryA(): Unit = spark.range(1000)
      .selectExpr("id % 7 AS k", "id * 3 AS v").groupBy("k").sum("v")
      .collect()
    queryA()
    // primitive literals are inlined into generated code, so each shape
    // is a distinct entry in the codegen cache
    val c0 = compiles
    (1 to 120).foreach(i => spark.range(10).selectExpr(s"id * $i").collect())
    val c1 = compiles
    queryA()
    println(s"PROBE shape_compiles=${c1 - c0}")
    println(s"PROBE recompiles=${compiles - c1}")
    val cos = spark.sql(
      "SELECT cosine_sim(array(1.0F, 0.0F), array(1.0F, 0.0F))").head.getDouble(0)
    println(s"PROBE cosine_sim=$cos")
    println("PROBE done=1")
    spark.stop()
  }
}
