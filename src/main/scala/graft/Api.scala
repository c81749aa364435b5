package graft

import java.util.UUID
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Library facade mirroring the reference's 8 HTTP verbs
  * (`cmd/http.go:18-169`, routes `cmd/init.go:131-141`) and Go client SDK
  * (`client/client.go:67-120`). In-process: the HTTP envelope
  * (`{"status","message","data"}`, models.go:59-63) collapses to typed
  * returns + exceptions.
  */
final class GraftCore(
    val spark: SparkSession,
    val tasks: Map[String, Task],
    val sources: SourcePool,
    val resultBackends: SourcePool,
    // control-plane SPI ([[JobStateStore]]/[[JobBroker]], see Spi.scala):
    // defaults are the in-process pair; a multi-process deployment plugs a
    // shared state store + queue-backed broker here without touching this
    // facade (the reference's Redis seam, cmd/init.go:200-229)
    mkStore: () => JobStateStore = () => new StatusStore,
    mkBroker: (SparkSession, JobStateStore) => JobBroker = new Scheduler(_, _),
    // `[app] default_job_ttl`: the TTL of a job whose request names none
    defaultTtlSec: Int = JobFactory.DefaultTtlSec) {

  val store: JobStateStore = mkStore()
  val scheduler: JobBroker = mkBroker(spark, store)

  private def task(name: String): Task =
    tasks.getOrElse(name, throw new NoSuchElementException(s"unknown task: $name"))

  // GET /tasks — names by default; full SQL with withSql=true. (Documented
  // deviation: the reference inverts this, returning SQL by default and names
  // when ?sql is passed — cmd/http.go:18-34.)
  def listTasks(withSql: Boolean = false): Either[Seq[String], Map[String, String]] =
    if (withSql) Right(tasks.map { case (n, t) => n -> t.raw })
    else Left(tasks.keys.toSeq.sorted)

  // POST /tasks/{task}/jobs (handlePostJob, http.go:79-112)
  def postJob(req: JobReq): Job = {
    val t = task(req.taskName)
    val job = JobFactory.make(req, t, defaultTtlSec)
    if (!scheduler.submit(job, t))
      throw new IllegalStateException(
        s"job ${job.id} is already queued or running") // core.go:336-338
    job
  }

  // GET /jobs/{id} (handleGetJobStatus, http.go:37-48)
  def getJobStatus(jobId: String): JobStatus =
    store.get(jobId).getOrElse(throw new NoSuchElementException(s"unknown job: $jobId"))

  // DELETE /jobs/{id}[?purge] (handleCancelJob)
  def deleteJob(jobId: String, purge: Boolean = false): Unit =
    scheduler.cancel(jobId, purge, resultBackends)

  // GET /jobs/queue/{q} (GetPendingJobs, core.go:150-162)
  def getPendingJobs(queue: String): Seq[String] = scheduler.pendingJobs(queue)

  // POST /groups (NewJobGroup, core.go:107-147)
  def postJobGroup(groupId: String, reqs: Seq[JobReq]): (String, Seq[Job]) = {
    val gid = if (groupId.nonEmpty) groupId else s"group_${UUID.randomUUID()}"
    val jobs = reqs.map { r =>
      val t = task(r.taskName)
      (JobFactory.make(r, t, defaultTtlSec), t)
    }
    // record membership before submission so group status is immediately whole
    store.putGroup(gid, jobs.map(_._1.id))
    jobs.foreach { case (j, t) =>
      if (!scheduler.submit(j, t))
        throw new IllegalStateException(s"job ${j.id} is already queued or running")
    }
    (gid, jobs.map(_._1))
  }

  // GET /groups/{id} (GetJobGroupStatus, core.go:207-241)
  def getGroupStatus(groupId: String): GroupStatus =
    store.groupStatus(groupId)
      .getOrElse(throw new NoSuchElementException(s"unknown group: $groupId"))

  // DELETE /groups/{id}[?purge]
  def deleteGroup(groupId: String, purge: Boolean = false): Unit =
    scheduler.cancelGroup(groupId, purge, resultBackends)

  /** Read back a completed job's materialized result (README: follow-up
    * queries hit the smaller results store). */
  def results(jobId: String): DataFrame = Results.read(spark, resultBackends, jobId)

  def shutdown(): Unit = scheduler.shutdown()
}

object GraftCore {
  /** Bootstrap from task dirs + named source/backend maps (the port of
    * cmd/init.go:150-244 minus TOML/flags). */
  def apply(
      spark: SparkSession,
      taskDirs: Seq[String],
      sources: Map[String, String],
      resultBackends: Map[String, String],
      defaultQueue: String = TaskRegistry.DefaultQueue,
      defaultTtlSec: Int = JobFactory.DefaultTtlSec): GraftCore = {
    require(sources.nonEmpty, "at least one source is required")        // init.go guard
    require(resultBackends.nonEmpty, "at least one result backend is required")
    val src = SourcePool(sources)
    val bk = SourcePool(resultBackends)
    new GraftCore(spark, TaskRegistry.load(spark, taskDirs, src, bk, defaultQueue), src, bk,
      defaultTtlSec = defaultTtlSec)
  }
}
