package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import java.util.{ArrayList => JList, LinkedHashMap => JMap}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.sun.management.GarbageCollectionNotificationInfo

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run in one JVM: a session from `graft.Graft.session`,
  * an untimed check pass that writes every output for the oracle check,
  * `--warm` untimed passes, then `--passes` closed-loop timed passes over
  * the workload's query ids. It times the library's public query
  * functions from outside and writes raw measurements to `<out>/run.json`
  * (and `<out>/spans.json` when traced); `perfbench/run.py` turns them
  * into metrics.
  *
  * Arguments: --data DIR --out DIR --ids a,b,c --warm N --passes N --seed N
  * --trace 0|1 --cores N
  */
object Driver {

  private def obj(kv: (String, Any)*): JMap[String, Any] = {
    val m = new JMap[String, Any](); kv.foreach { case (k, v) => m.put(k, v) }; m
  }
  private def arr(xs: Iterable[Any]): JList[Any] = new JList[Any](xs.asJavaCollection)

  private def read(path: String): String =
    try new String(Files.readAllBytes(Paths.get(path)), "UTF-8")
    catch { case NonFatal(_) => "" }

  /** (rchar, wchar) of this process. */
  private def procIo(): (Long, Long) = {
    val kv = read("/proc/self/io").linesIterator.map(_.split(":\\s*"))
      .collect { case Array(k, v) => k -> v.trim.toLong }.toMap
    (kv.getOrElse("rchar", 0L), kv.getOrElse("wchar", 0L))
  }

  /** User + system CPU seconds of this process (clock ticks at 100 Hz). */
  private def procCpuS(): Double = {
    val f = read("/proc/self/stat").split("\\) ").last.split(" ")
    (f(11).toLong + f(12).toLong) / 100.0
  }

  private def vmKb(key: String): Long =
    read("/proc/self/status").linesIterator.find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum

  private def loadavg(): String = read("/proc/loadavg").trim

  /** Records the largest heap in use right after any collection: the
    * high-water mark of the live heap, whatever the collector's sizing. */
  private def watchLiveHeap(): AtomicLong = {
    val peak = new AtomicLong(0L)
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    def onGc(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peak.accumulateAndGet(used, (a, b) => math.max(a, b))
      }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(onGc _, null, null)
      case _ =>
    }
    peak
  }

  /** The module a query id is declared in: its function value is a lambda
    * synthesized inside the declaring object, `graft.<module>.<Object>`. */
  private def moduleOf(fn: AnyRef): String =
    fn.getClass.getName.split('.') match {
      case Array("graft", m, _*) if !m.contains('$') => m
      case _ => "graft"
    }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val dataDir = opt("data"); val outDir = opt("out")
    val ids = opt("ids").split(",").toSeq
    val nWarm = opt("warm").toInt
    val nPasses = opt("passes").toInt
    val seed = opt("seed").toLong
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val loadBefore = loadavg()
    val peakLiveHeap = watchLiveHeap()

    val spark = graft.Graft.session(master = s"local[$cores]")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val sc = spark.sparkContext
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

    val queries = graft.SparkEntry.queries
    val oracle = graft.SparkEntry.oracleSql
    val missing: (SparkSession, String) => DataFrame =
      (_, _) => throw new NoSuchElementException("query id not declared")
    def fnOf(id: String) = queries.getOrElse(id, missing)
    val module = ids.map(id => id -> queries.get(id).map(moduleOf).getOrElse("graft")).toMap

    val jobs = new JobTracer
    val qes = new QeTracer
    var nextQid = 0L

    /** One closed-loop call: construct the DataFrame, then run `sink`. */
    def runOne(id: String, pass: Int, traced: Boolean,
               sink: DataFrame => Unit): JMap[String, Any] = {
      val qid = nextQid; nextQid += 1
      def tag(phase: String): Unit = if (traced) {
        PerfbenchBus.drain(sc)
        qes.current = (qid, phase)
        sc.setLocalProperty(Tag.Qid, qid.toString)
        sc.setLocalProperty(Tag.Phase, phase)
      }
      tag("construct")
      val (r0, w0) = procIo(); val gc0 = gcMs()
      val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val fd0 = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
      val fh0 = HiveCatalogMetrics.METRIC_FILE_CACHE_HITS.getCount
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var t1 = t0
      var error: String = null
      try {
        val df = fnOf(id)(spark, dataDir)
        t1 = System.nanoTime()
        tag("execute")
        sink(df)
      } catch { case NonFatal(e) =>
        error = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(500)
        if (t1 == t0) t1 = System.nanoTime()
      }
      val t2 = System.nanoTime()
      val endMs = System.currentTimeMillis()
      val (r1, w1) = procIo()
      val rec = obj("id" -> id, "module" -> module(id), "pass" -> pass,
        "qid" -> qid, "traced" -> traced, "start_ms" -> startMs,
        "construct_end_ms" -> (startMs + (t1 - t0) / 1000000L),
        "end_ms" -> endMs, "latency_s" -> (t2 - t0) / 1e9,
        "construct_s" -> (t1 - t0) / 1e9, "action_s" -> (t2 - t1) / 1e9,
        "error" -> error, "io_read_b" -> (r1 - r0), "io_write_b" -> (w1 - w0),
        "gc_ms" -> (gcMs() - gc0),
        "codegen_compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0),
        "files_discovered" -> (HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount - fd0),
        "file_cache_hits" -> (HiveCatalogMetrics.METRIC_FILE_CACHE_HITS.getCount - fh0))
      if (traced) {
        PerfbenchBus.drain(sc)
        qes.current = (-1L, "")
        sc.setLocalProperty(Tag.Qid, null)
        sc.setLocalProperty(Tag.Phase, null)
      }
      // queries that persist internally must not pin cache for the next one
      classic.sharedState.cacheManager.clearCache()
      rec
    }

    // Suffix-index ids read a persisted index; build it up front, as
    // graft.Bench does, and report the build on its own.
    val suffixS = if (ids.exists(_.contains("suffix"))) {
      val t = System.nanoTime()
      try graft.llm.SuffixIndex.levels(spark, dataDir)
      catch { case NonFatal(e) => System.err.println(s"[perfbench] suffix index: $e") }
      (System.nanoTime() - t) / 1e9
    } else 0.0

    val noop: DataFrame => Unit =
      _.write.format("noop").mode("overwrite").save()
    val rng = new scala.util.Random(seed)

    // Untimed check pass: builds lazy fixtures and writes each output for
    // the oracle comparison. The JIT is still far from steady after it;
    // the warm passes that follow absorb part of the rest of the warm-up
    // curve. Both run in declared order, so the profile the JIT compiles
    // from does not depend on the seed.
    val w0 = System.nanoTime()
    val warmup = ids.map(id => runOne(id, -1, traced = false, df =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/check/$id")))
    for (_ <- 0 until nWarm; id <- ids) runOne(id, -1, traced = false, noop)
    val warmupS = (System.nanoTime() - w0) / 1e9

    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val passes = new JList[Any]()
    for (pass <- 0 until nPasses) {
      // Traced runs alternate untraced and traced passes, so the tracing
      // overhead is measured inside the same JVM.
      val traced = trace && pass % 2 == 1
      if (traced) { sc.addSparkListener(jobs); classic.listenerManager.register(qes) }
      val order = rng.shuffle(ids)
      // every pass starts from a collected heap, so one pass's garbage is
      // not collected on the next pass's clock
      System.gc()
      val c0 = procCpuS(); val p0 = System.nanoTime()
      val execs = order.map(id => runOne(id, pass, traced, noop))
      val wall = (System.nanoTime() - p0) / 1e9
      val cpu = procCpuS() - c0
      if (traced) {
        PerfbenchBus.drain(sc)
        sc.removeSparkListener(jobs); classic.listenerManager.unregister(qes)
      }
      passes.add(obj("pass" -> pass, "traced" -> traced, "wall_s" -> wall,
        "cpu_s" -> cpu, "execs" -> arr(execs)))
    }

    if (trace) Trace.annotate(passes, jobs, qes)
    val result = obj(
      "workload_ids" -> arr(ids),
      "modules" -> obj(ids.map(id => id -> module(id)): _*),
      "oracle_sql" -> obj(ids.map(id => id -> oracle.get(id).orNull): _*),
      "setup" -> obj("setup_s" -> setupS, "session_s" -> sessionS,
        "suffix_index_s" -> suffixS, "warmup_s" -> warmupS),
      "warmup" -> arr(warmup),
      "passes" -> passes,
      "peak_rss_mb" -> vmKb("VmHWM") / 1024.0,
      "peak_live_heap_mb" -> peakLiveHeap.get / (1024.0 * 1024.0),
      "env" -> obj(
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "cores" -> cores,
        "mem_total_kb" -> read("/proc/meminfo").linesIterator
          .find(_.startsWith("MemTotal:")).map(_.split("\\s+")(1).toLong).orNull,
        "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "loadavg_before" -> loadBefore, "loadavg_after" -> loadavg(),
        "jdk" -> System.getProperty("java.runtime.version"),
        "spark" -> spark.version, "seed" -> seed,
        "session_confs" -> obj(spark.conf.getAll.toSeq.sortBy(_._1): _*)))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    mapper.writeValue(new File(outDir, "run.json"), result)
    if (trace) mapper.writeValue(new File(outDir, "spans.json"),
      Trace.spans(passes, jobs, qes))
    spark.stop()
  }
}
