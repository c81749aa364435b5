package graft

import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/** Job model + 5-state machine + status store — the port of dungbeetle's
  * job management (`models/models.go:8-63`, `internal/core/core.go:86-352,
  * 574-599`).
  */
object JobState extends Enumeration {
  /** The reference's public states (`core.go:574-580`). */
  val Pending, Started, Retry, Success, Failure = Value
  def label(v: Value): String = v.toString.toUpperCase
  /** Terminal: the job ran to an outcome (re-admission is allowed). */
  def isDone(v: Value): Boolean = v == Success || v == Failure
  /** Queued or running: the ID is held against re-admission. */
  def isLive(v: Value): Boolean = !isDone(v)
}

/** JobReq (`models/models.go:8-19`): caller-supplied job parameters. */
final case class JobReq(
    taskName: String,
    jobId: String = "",
    queue: String = "",
    eta: Option[String] = None,      // "yyyy-MM-dd HH:mm:ss" (core.go:359-367)
    retries: Int = 0,
    ttlSec: Int = 0,
    args: Seq[String] = Nil,         // always strings (models.go:15)
    db: Option[String] = None)

/** A validated, enqueueable job (`makeJob`, core.go:325-395). */
final case class Job(
    id: String,
    taskName: String,
    queue: String,
    eta: Option[LocalDateTime],
    retries: Int,
    ttlSec: Int,
    args: Seq[String],
    db: Option[String])

final case class JobStatus(
    jobId: String,
    state: JobState.Value,
    count: Long = -1,
    error: String = "")

final case class GroupStatus(
    groupId: String,
    state: JobState.Value,
    jobs: Seq[JobStatus])

object GroupStatus {
  /** Group state reduction (core.go:230-241), the one lattice every store
    * answers `groupStatus` with: any FAILURE → FAILURE; all SUCCESS with no
    * member unaccounted → SUCCESS; any STARTED/RETRY → STARTED; else
    * PENDING. Canceled members are left out, so a group whose remaining
    * jobs all succeeded reports SUCCESS; a member that is absent and not
    * canceled (its submit has not landed yet, or it was rolled back) holds
    * the group at PENDING, so a partial group never reads as complete.
    * `canceled` is asked only for members with no status entry. */
  def reduce(groupId: String, ids: Seq[String], get: String => Option[JobStatus],
      canceled: String => Boolean): GroupStatus = {
    val found = ids.map(id => id -> get(id))
    val sts = found.flatMap(_._2)
    val unaccounted = found.exists { case (id, st) => st.isEmpty && !canceled(id) }
    val state =
      if (sts.exists(_.state == JobState.Failure)) JobState.Failure
      else if (sts.nonEmpty && !unaccounted && sts.forall(_.state == JobState.Success)) JobState.Success
      else if (sts.exists(s => s.state == JobState.Started || s.state == JobState.Retry)) JobState.Started
      else JobState.Pending
    GroupStatus(groupId, state, sts)
  }
}

object JobFactory {
  /** cmd/http.go:14 — permitted job-ID alphabet (case-insensitive). */
  private val IdRe = "(?i)^[a-z0-9-_:]+$".r
  private val EtaFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  val DefaultTtlSec = 60 // app.default_job_ttl (config.toml.sample:3)

  /** Validate + normalize a request into a Job (core.go:325-395); a request
    * without a TTL gets `defaultTtlSec` (`[app] default_job_ttl`). The
    * duplicate-running gate (core.go:332-339) lives in the store's
    * `tryAdmit` so check-and-mark is atomic. */
  def make(req: JobReq, task: Task, defaultTtlSec: Int = DefaultTtlSec): Job = {
    val id =
      if (req.jobId.isEmpty) s"job_${UUID.randomUUID()}"
      else if (IdRe.matches(req.jobId)) req.jobId
      else throw new IllegalArgumentException(
        s"invalid characters in the `job_id`: ${req.jobId}")
    val eta = req.eta.filter(_.nonEmpty).map { e =>
      try LocalDateTime.parse(e.trim, EtaFmt)
      catch { case _: Exception =>
        throw new IllegalArgumentException(s"invalid eta: $e") }
    }
    val queue = // request → task tag → task default (core.go:369-373)
      if (req.queue.nonEmpty) req.queue else task.queue
    val ttl = if (req.ttlSec > 0) req.ttlSec else defaultTtlSec
    Job(id, task.name, queue, eta, math.max(req.retries, 0), ttl, req.args, req.db)
  }
}

/** In-process job + group state store — the port's stand-in for the Redis
  * state store (`cmd/init.go:219-229`). A [[LockedStore]] over concurrent
  * maps: the same-ID admission gate (core.go:332-339, where a job ID that
  * is PENDING/STARTED/RETRY refuses re-enqueue and a completed one is
  * silently replaced — result tables are keyed by ID and overwritten by
  * design, sqldb.go:298) runs under the JVM stripe lock for the ID.
  */
final class StatusStore extends LockedStore {
  private val jobs = new ConcurrentHashMap[String, JobStatus]()
  private val groups = new ConcurrentHashMap[String, Seq[String]]()
  private val canceled = ConcurrentHashMap.newKeySet[String]()
  private val epochs = new ConcurrentHashMap[String, java.lang.Long]()

  protected def locked[A](id: String)(f: => A): A = LockedStore.stripe(id).synchronized(f)
  protected def write(s: JobStatus): Unit = jobs.put(s.jobId, s): Unit
  protected def delete(id: String): Unit = jobs.remove(id): Unit
  protected def nextEpoch(id: String): Long = epochs.merge(id, 1L, (a, b) => a + b)
  protected def markCanceled(id: String): Unit = canceled.add(id): Unit
  protected def clearCanceled(id: String): Unit = canceled.remove(id): Unit
  protected def isCanceled(id: String): Boolean = canceled.contains(id)

  /** Current admission generation for an ID (0 if never admitted). */
  def epoch(id: String): Long = Option(epochs.get(id)).map(_.longValue).getOrElse(0L)
  def get(id: String): Option[JobStatus] = Option(jobs.get(id))

  def putGroup(groupId: String, jobIds: Seq[String]): Unit = groups.put(groupId, jobIds)
  def groupJobIds(groupId: String): Option[Seq[String]] = Option(groups.get(groupId))
  def removeGroup(groupId: String): Unit = groups.remove(groupId)

  def snapshot: Map[String, JobStatus] = jobs.asScala.toMap
}
