package perfbench

import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import scala.jdk.CollectionConverters._

/** Turns what the listeners recorded during traced passes into per-call
  * counters (added to each traced exec record) and into spans. */
object Trace {
  val CatalystPhases = Seq("analysis", "optimization", "planning")

  private def tracedExecs(passes: JList[Any]): Seq[JMap[String, Any]] =
    passes.asScala.toSeq.map(_.asInstanceOf[JMap[String, Any]])
      .filter(_.get("traced") == true)
      .flatMap(_.get("execs").asInstanceOf[JList[Any]].asScala)
      .map(_.asInstanceOf[JMap[String, Any]])

  private def median(xs: Seq[Long]): Double = {
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2).toDouble else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  def annotate(passes: JList[Any], jobs: JobTracer, qes: QeTracer): Unit = {
    val jobsBy = jobs.jobs.values.toSeq.groupBy(_.qid)
    val stagesBy = jobs.stages.values.toSeq.groupBy(_.qid)
    val qesBy = qes.recs.toSeq.groupBy(_.qid)
    for (e <- tracedExecs(passes)) {
      val qid = e.get("qid").asInstanceOf[Long]
      val js = jobsBy.getOrElse(qid, Nil)
      val ss = stagesBy.getOrElse(qid, Nil)
      val ts = ss.flatMap(s => s.tasks.map(t => (s, t)))
      val execQes = qesBy.getOrElse(qid, Nil).filter(_.phase == "execute")
      def phaseMs(p: String) = execQes.flatMap(_.phases.get(p))
        .map { case (a, b) => b - a }.sum
      val withTasks = ss.filter(_.tasks.nonEmpty)
      val put = e.put _
      put("construct_jobs", js.count(_.phase == "construct"))
      put("jobs", js.count(_.phase == "execute"))
      put("stages", ss.size)
      put("tasks", ts.size)
      put("empty_tasks", ts.count(_._2.recordsRead == 0))
      put("task_run_ms", ts.map(_._2.runMs).sum)
      put("task_cpu_ns", ts.map(_._2.cpuNs).sum)
      put("sched_delay_ms",
        ts.map { case (s, t) => math.max(0L, t.launchMs - s.submittedMs) }.sum)
      put("stage_max_task_ms", withTasks.map(_.tasks.map(_.runMs).max).sum)
      put("stage_median_task_ms", withTasks.map(s => median(s.tasks.map(_.runMs).toSeq)).sum)
      put("shuffle_write_b", ts.map(_._2.shuffleWriteB).sum)
      put("shuffle_read_b", ts.map(_._2.shuffleReadB).sum)
      put("spill_b", ts.map(_._2.spillB).sum)
      put("peak_exec_mem_b", (0L +: ts.map(_._2.peakMemB)).max)
      CatalystPhases.foreach(p => put(p + "_ms", phaseMs(p)))
      put("max_op_rows", (0L +: execQes.map(_.maxOpRows)).max)
    }
  }

  /** Spans with parent links: query → construct | analysis | optimization
    * | planning | execute; construct/execute → job → stage. Times are
    * epoch milliseconds. */
  def spans(passes: JList[Any], jobs: JobTracer, qes: QeTracer): JList[Any] = {
    val out = new JList[Any]()
    var nextId = 0
    def span(parent: Int, kind: String, name: String, qid: Long,
             start: Long, end: Long): Int = {
      val id = nextId; nextId += 1
      val m = new JMap[String, Any]()
      m.put("id", id); m.put("parent", if (parent < 0) null else parent)
      m.put("kind", kind); m.put("name", name); m.put("qid", qid)
      m.put("start_ms", start); m.put("end_ms", math.max(start, end))
      out.add(m); id
    }
    val jobsBy = jobs.jobs.values.toSeq.groupBy(_.qid)
    val stagesBy = jobs.stages.values.toSeq.groupBy(_.qid)
    val qesBy = qes.recs.toSeq.groupBy(_.qid)
    for (e <- tracedExecs(passes)) {
      val qid = e.get("qid").asInstanceOf[Long]
      val start = e.get("start_ms").asInstanceOf[Long]
      val cEnd = e.get("construct_end_ms").asInstanceOf[Long]
      val end = e.get("end_ms").asInstanceOf[Long]
      val q = span(-1, "query", e.get("id").toString, qid, start, end)
      val c = span(q, "construct", "construct", qid, start, cEnd)
      var planned = cEnd
      for (r <- qesBy.getOrElse(qid, Nil) if r.phase == "execute";
           p <- CatalystPhases; (a, b) <- r.phases.get(p)) {
        span(q, p, p, qid, a, b)
        planned = math.max(planned, b)
      }
      val x = span(q, "execute", "execute", qid, math.min(planned, end), end)
      // a stage shared by several jobs hangs under the first one
      var unplaced = stagesBy.getOrElse(qid, Nil)
      for (j <- jobsBy.getOrElse(qid, Nil)) {
        val jid = span(if (j.phase == "construct") c else x, "job",
          s"job ${j.id}", qid, j.startMs, j.endMs)
        val (mine, rest) = unplaced.partition(s => j.stageIds.contains(s.id))
        mine.foreach(s =>
          span(jid, "stage", s"stage ${s.id}", qid, s.submittedMs, s.completedMs))
        unplaced = rest
      }
    }
    out
  }
}
