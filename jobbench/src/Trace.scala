package jobbench

import graft._
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import org.apache.spark.scheduler._
import org.apache.spark.sql.JobBenchAccess
import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import scala.jdk.CollectionConverters._

/** Wall clock in epoch nanoseconds with `nanoTime` resolution, so the
  * benchmark's own spans line up with Spark's epoch-millisecond event times. */
object Clock {
  private val base = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = base + System.nanoTime()
}

/** One recorded interval. `trace` is the job ID (empty for calls that belong
  * to no job); `id`/`parent` link the span tree. */
final case class Span(trace: String, name: String, start: Long, end: Long,
    id: String = "", parent: String = "", attrs: Map[String, Any] = Map.empty)

/** In-memory span sink for the traced run. Everything is kept until the run
  * ends and written out once ([[SpanWriter]]). */
final class Tracer {
  val spans = new ConcurrentLinkedQueue[Span]()
  def add(s: Span): Unit = spans.add(s): Unit

  // Spark-side records, joined to jobs by the job group Executor.run sets
  final case class SparkJob(group: String, execId: String, site: String, start: Long,
      stageIds: Seq[Int], var end: Long = 0L)
  final case class Stage(start: Long, end: Long, taskS: Double, inputBytes: Long,
      shuffleBytes: Long)
  final case class SqlExec(group: String, start: Long, end: Long = 0L,
      planS: Double = 0, outRows: Long = -1, outBytes: Long = -1)
  val sparkJobs = new ConcurrentHashMap[Int, SparkJob]()
  val stages = new ConcurrentHashMap[Int, Stage]()
  val sqlExecs = new ConcurrentHashMap[Long, SqlExec]()
}

/** Delegating [[JobStateStore]] that times every call naming a job. Each
  * becomes a `store.<op>` span of that job; `tryAdmit` is `store.admit`, and
  * `setIfPresent` carries the state it writes, which is where the queue-wait,
  * exec and status-visible spans are cut. */
final class TracedStore(inner: JobStateStore, t: Tracer) extends JobStateStore {
  private def timed[A](id: String, op: String, attrs: Map[String, Any] = Map.empty)(f: => A): A = {
    val s = Clock.now()
    try f finally t.add(Span(id, s"store.$op", s, Clock.now(), attrs = attrs))
  }
  def tryAdmit(id: String): Long = timed(id, "admit")(inner.tryAdmit(id))
  def epoch(id: String): Long = timed(id, "epoch")(inner.epoch(id))
  def set(id: String, st: JobState.Value, count: Long, error: String): Unit =
    timed(id, "set", Map("state" -> JobState.label(st)))(inner.set(id, st, count, error))
  def setIfPresent(id: String, st: JobState.Value, count: Long, error: String): Unit =
    timed(id, "setIfPresent", Map("state" -> JobState.label(st)))(
      inner.setIfPresent(id, st, count, error))
  def get(id: String): Option[JobStatus] = timed(id, "get")(inner.get(id))
  def remove(id: String): Unit = timed(id, "remove")(inner.remove(id))
  def rollback(id: String): Unit = timed(id, "rollback")(inner.rollback(id))
  def putGroup(groupId: String, jobIds: Seq[String]): Unit = inner.putGroup(groupId, jobIds)
  def groupJobIds(groupId: String): Option[Seq[String]] = inner.groupJobIds(groupId)
  def removeGroup(groupId: String): Unit = inner.removeGroup(groupId)
  def groupStatus(groupId: String): Option[GroupStatus] = inner.groupStatus(groupId)
  def snapshot: Map[String, JobStatus] = inner.snapshot
}

/** Delegating [[JobBroker]] that times `submit` as `broker.submit`. */
final class TracedBroker(inner: JobBroker, t: Tracer) extends JobBroker {
  def submit(job: Job, task: Task): Boolean = {
    val s = Clock.now()
    try inner.submit(job, task) finally t.add(Span(job.id, "broker.submit", s, Clock.now()))
  }
  def pendingJobs(queue: String): Seq[String] = inner.pendingJobs(queue)
  def cancel(jobId: String, purge: Boolean, backends: SourcePool): Unit =
    inner.cancel(jobId, purge, backends)
  def cancelGroup(groupId: String, purge: Boolean, backends: SourcePool): Unit =
    inner.cancelGroup(groupId, purge, backends)
  def awaitQuiescence(timeoutMs: Long): Boolean = inner.awaitQuiescence(timeoutMs)
  def shutdown(): Unit = inner.shutdown()
}

/** Spark-side spans: Spark jobs keyed by the job group `Executor.run` sets
  * to the job ID, their stages with aggregated task metrics, and the SQL
  * executions with their Catalyst phase times (`QueryExecution.tracker`:
  * analysis, optimization, planning) and the write metrics of the
  * `results_<id>` commit. The phases are read from the execution-end event,
  * which carries the execution ID the Spark jobs are tagged with; the
  * `QueryExecutionListener` callback Spark derives from the same event
  * drops that ID (`QueryExecution.id` is a different counter), so it could
  * not be attributed to a job. */
final class SparkSpans(t: Tracer) extends SparkListener {
  private val ms = 1000000L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("")
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
    t.sparkJobs.put(e.jobId, t.SparkJob(prop("spark.jobGroup.id"),
      prop("spark.sql.execution.id"), site, e.time * ms, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(t.sparkJobs.get(e.jobId)).foreach(_.end = e.time * ms)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    for (s <- i.submissionTime; c <- i.completionTime)
      t.stages.put(i.stageId, t.Stage(s * ms, c * ms,
        if (m == null) 0.0 else m.executorRunTime / 1000.0,
        if (m == null) 0L else m.inputMetrics.bytesRead,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      t.sqlExecs.put(s.executionId, t.SqlExec(s.jobGroupId.getOrElse(""), s.time * ms))
    case x: SparkListenerSQLExecutionEnd =>
      Option(t.sqlExecs.get(x.executionId)).foreach { st =>
        val qe = JobBenchAccess.queryExecution(x)
        val planS = Option(qe).map { q =>
          val phases = q.tracker.phases
          Seq("analysis", "optimization", "planning").flatMap(phases.get).map(_.durationMs).sum / 1000.0
        }.getOrElse(0.0)
        val write = Option(qe).flatMap(q => writeMetrics(q.executedPlan))
        t.sqlExecs.put(x.executionId, st.copy(end = x.time * ms, planS = planS,
          outRows = write.map(_("numOutputRows").value).getOrElse(-1L),
          outBytes = write.map(_("numOutputBytes").value).getOrElse(-1L)))
      }
    case _ => ()
  }

  /** The metrics of the plan node that wrote files, if any, looking through
    * the adaptive-execution and command wrappers it may sit under. */
  private def writeMetrics(p: SparkPlan): Option[Map[String, SQLMetric]] =
    if (p.metrics.contains("numOutputBytes")) Some(p.metrics)
    else (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case _ => p.children
    }).iterator.flatMap(writeMetrics).nextOption()
}

/** Builds each timed job's span tree from the raw records:
  * `client.job` → `HttpApi.post` → `broker.submit` → `store.admit`, then
  * `queue.wait` (admitted → STARTED write begins), then `exec` (STARTED write
  * begins → SUCCESS written) → `sql.execution`, `spark.job` → `spark.stage`,
  * then `status.visible` (SUCCESS written → the client reads it). */
object SpanWriter {
  def spansOf(t: Tracer, recs: Seq[JobRec]): Seq[Span] = {
    val byTrace = t.spans.asScala.toSeq.groupBy(_.trace)
    val jobsByGroup = t.sparkJobs.asScala.toSeq.groupBy(_._2.group)
    val execsByGroup = t.sqlExecs.asScala.toSeq.groupBy(_._2.group)
    recs.filter(_.id.nonEmpty).flatMap { r =>
      val raw = byTrace.getOrElse(r.id, Nil)
      def first(name: String, state: String = ""): Option[Span] =
        raw.filter(s => s.name == name && (state.isEmpty || s.attrs.get("state").contains(state)))
          .sortBy(_.start).headOption
      val client = Span(r.id, "client.job", r.sendNs, r.doneNs, "client.job", "",
        Map("task" -> r.task, "state" -> r.state, "polls" -> r.polls))
      val post = Span(r.id, "HttpApi.post", r.sendNs, r.postNs, "HttpApi.post", "client.job")
      val own = raw.map(s => s.copy(parent = s.name match {
        case "broker.submit" => "HttpApi.post"
        case "store.admit"   => "broker.submit"
        case _               => "client.job"
      }))
      val admitted = first("store.admit").map(_.end)
      val started = first("store.setIfPresent", "STARTED").map(_.start)
      val success = first("store.setIfPresent", "SUCCESS").map(_.end)
      val derived = Seq(
        for (a <- admitted; s <- started) yield Span(r.id, "queue.wait", a, s, "queue.wait", "client.job"),
        for (s <- started; d <- success) yield Span(r.id, "exec", s, d, "exec", "client.job"),
        success.filter(_ => r.state == "SUCCESS").map(d =>
          Span(r.id, "status.visible", d, r.doneNs, "status.visible", "client.job"))).flatten
      val spark = jobsByGroup.getOrElse(r.id, Nil).flatMap { case (jid, j) =>
        Span(r.id, "spark.job", j.start, j.end, s"spark.job:$jid", "exec",
          Map("exec_id" -> j.execId, "site" -> j.site)) +:
          j.stageIds.flatMap(sid => Option(t.stages.get(sid)).map(st =>
            Span(r.id, "spark.stage", st.start, st.end, s"spark.stage:$sid", s"spark.job:$jid",
              Map("task_s" -> st.taskS, "input_bytes" -> st.inputBytes,
                "shuffle_bytes" -> st.shuffleBytes))))
      }
      val sql = execsByGroup.getOrElse(r.id, Nil).map { case (eid, x) =>
        Span(r.id, "sql.execution", x.start, x.end, s"sql.execution:$eid", "exec",
          Map("plan_s" -> x.planS, "output_rows" -> x.outRows, "output_bytes" -> x.outBytes))
      }
      Seq(client, post) ++ own ++ derived ++ spark ++ sql
    }
  }
}
