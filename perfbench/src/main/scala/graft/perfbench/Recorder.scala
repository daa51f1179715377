package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.CommandResultExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark's public per-query hooks, read from outside graft: the
  * planning tracker of every query execution (phases and per-rule
  * summaries), and the scheduler's job, stage and task events. Jobs are
  * tied to a benchmark query by the job group the client thread sets;
  * query executions by the time their planning started, which is
  * unambiguous because one client thread runs one query at a time.
  *
  * Everything is buffered in memory and written as one `trace` event
  * per query by [[flush]], after the listener bus has drained.
  */
final class Recorder(out: Events) extends SparkListener with QueryExecutionListener {
  private case class Qe(startMs: Long, phases: Seq[(String, Long, Long)], rules: (Double, Long, Long),
      scans: (Long, Double), parsed: Boolean)
  private case class Job(id: Int, group: String, start: Long, var end: Long, stages: Seq[Int])
  private case class Query(group: String, phase: String, pass: Int, entry: String, t0: Long, t1: Long,
      own: Option[Qe])

  private val qes = mutable.ArrayBuffer.empty[Qe]
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val tasks = mutable.ArrayBuffer.empty[(Int, Seq[Any])]
  private val queries = mutable.ArrayBuffer.empty[Query]

  /** Called by the client thread after each query. The returned
    * DataFrame's own execution is analysed there but never runs, so the
    * listener never sees it; its tracker is read here. */
  def query(group: String, phase: String, pass: Int, entry: String, t0: Long, t1: Long,
      df: QueryExecution): Unit = synchronized {
    queries += Query(group, phase, pass, entry, t0, t1, Option(df).map(summarize(_, executed = false)))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
  private def record(qe: QueryExecution): Unit = {
    val s = summarize(qe, executed = true)
    synchronized(qes += s)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobs(e.jobId) = Job(e.jobId, group, e.time, -1L, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = e.taskMetrics
    val row: Seq[Any] =
      if (m == null) Seq(i.launchTime, i.finishTime, 0, 0, 0, 0, 0, 0, 0, 0, 0)
      else Seq(i.launchTime, i.finishTime, m.executorRunTime, m.executorCpuTime / 1e6, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleReadMetrics.fetchWaitTime, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead)
    synchronized(tasks += ((e.stageId, row)))
  }

  /** One `trace` event per recorded query. Task rows are
    * `[stage, launch, finish, run_ms, cpu_ms, gc_ms, shuffle_write,
    * shuffle_read, fetch_wait_ms, spill, input_bytes, input_records]`. */
  def flush(): Unit = synchronized {
    val byStage = tasks.groupBy(_._1)
    for (q <- queries) {
      val mine = qes.filter(x => x.startMs >= q.t0 && x.startMs <= q.t1) ++ q.own
      val js = jobs.values.filter(_.group == q.group).toSeq
      val ts = js.flatMap(_.stages).distinct.flatMap(s => byStage.getOrElse(s, Nil))
      out.emit("trace", "phase" -> q.phase, "pass" -> q.pass, "entry" -> q.entry,
        "t0" -> q.t0, "t1" -> q.t1,
        "phases" -> mine.flatMap(_.phases).sortBy(_._2).map { case (n, s, e) => Seq(n, s, e) },
        "statements" -> mine.count(_.parsed),
        "rules" -> Seq(mine.map(_.rules._1).sum, mine.map(_.rules._2).sum, mine.map(_.rules._3).sum),
        "scan" -> Seq(mine.map(_.scans._1).sum, mine.map(_.scans._2).sum),
        "jobs" -> js.map(j => Seq(j.id, j.start, if (j.end < 0) q.t1 else j.end, j.stages)),
        "tasks" -> ts.map { case (s, row) => s +: row })
    }
    queries.clear(); qes.clear(); jobs.clear(); tasks.clear()
  }

  private val phaseNames = Map("parsing" -> "sql.parse", "analysis" -> "plans.analyze",
    "optimization" -> "plans.optimize", "planning" -> "plans.physical")

  private def summarize(qe: QueryExecution, executed: Boolean): Qe = {
    val t = qe.tracker
    val phases = t.phases.toSeq.collect { case (n, p) if phaseNames.contains(n) =>
      (phaseNames(n), p.startTimeMs, p.endTimeMs)
    }
    // graft's injected rules are the ones whose class lives in graft
    val graft = t.rules.filter(_._1.startsWith("graft."))
    val rules = (graft.values.map(_.totalTimeNs).sum / 1e6,
      graft.values.map(_.numInvocations).sum, graft.values.map(_.numEffectiveInvocations).sum)
    val scans = if (executed) scanMetrics(qe) else (0L, 0.0)
    Qe(if (phases.isEmpty) Long.MinValue else phases.map(_._2).min, phases, rules, scans,
      t.phases.contains("parsing"))
  }

  /** Rows out of and time inside the leaf scans of the final (post-AQE)
    * physical plan. */
  private def scanMetrics(qe: QueryExecution): (Long, Double) = {
    var rows = 0L
    var ms = 0.0
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case c: CommandResultExec => walk(c.commandPhysicalPlan)
      case leaf if leaf.children.isEmpty && leaf.nodeName.contains("Scan") =>
        leaf.metrics.get("numOutputRows").foreach(rows += _.value)
        leaf.metrics.get("scanTime").foreach(ms += _.value)
      case other =>
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    try walk(qe.executedPlan) catch { case _: Throwable => () }
    (rows, ms)
  }
}
