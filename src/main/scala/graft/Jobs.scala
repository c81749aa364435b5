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

object JobFactory {
  /** cmd/http.go:14 — permitted job-ID alphabet (case-insensitive). */
  private val IdRe = "(?i)^[a-z0-9-_:]+$".r
  private val EtaFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  val DefaultTtlSec = 60 // app.default_job_ttl (config.toml.sample:3)

  /** Validate + normalize a request into a Job (core.go:325-395). The
    * duplicate-running gate (core.go:332-339) lives in StatusStore.tryAdmit
    * so check-and-mark is atomic. */
  def make(req: JobReq, task: Task): Job = {
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
    val ttl = if (req.ttlSec > 0) req.ttlSec else DefaultTtlSec
    Job(id, task.name, queue, eta, math.max(req.retries, 0), ttl, req.args, req.db)
  }
}

/** In-process job + group state store — the port's stand-in for the Redis
  * state store (`cmd/init.go:219-229`). Thread-safe; the same-ID admission
  * gate is atomic (compute-if-absent), mirroring core.go:332-339 where a job
  * ID that is PENDING/STARTED/RETRY refuses re-enqueue and a completed one is
  * silently replaced (result tables are keyed by ID and overwritten by
  * design, sqldb.go:298).
  */
final class StatusStore extends JobStateStore {
  private val jobs = new ConcurrentHashMap[String, JobStatus]()
  private val groups = new ConcurrentHashMap[String, Seq[String]]()
  // IDs removed via cancel — distinguishes "canceled" from "never admitted"
  // in the group reduction (a member missing because its submit hasn't
  // happened yet must hold the group at PENDING, not be skipped)
  private val canceled = ConcurrentHashMap.newKeySet[String]()
  // admission generation per ID: bumped on every successful tryAdmit, so
  // async continuations (retry timers) can detect that "their" job was
  // canceled and the ID re-admitted as a NEW job in the meantime
  private val epochs = new ConcurrentHashMap[String, java.lang.Long]()

  /** Atomically admit a job ID for execution. Returns the admission epoch
    * (unique per successful admission of an ID), or -1 if the same ID is
    * currently queued/running. The epoch bumps inside the same atomic
    * compute that flips the store entry, so a cancel + re-admit can never
    * interleave between an admission and its generation stamp (the stamp is
    * what stale retry timers compare against). */
  def tryAdmit(id: String): Long = {
    var myEpoch = -1L
    jobs.compute(id, (_, cur) => {
      val running = cur != null && JobState.isLive(cur.state)
      if (running) cur
      else {
        canceled.remove(id)
        myEpoch = epochs.merge(id, 1L, (a, b) => a + b)
        JobStatus(id, JobState.Pending)
      }
    })
    myEpoch
  }

  /** Current admission generation for an ID (0 if never admitted). */
  def epoch(id: String): Long = Option(epochs.get(id)).map(_.longValue).getOrElse(0L)

  def set(id: String, st: JobState.Value, count: Long = -1, error: String = ""): Unit =
    jobs.put(id, JobStatus(id, st, count, error))

  /** Atomic conditional update: no-op if the entry was removed (canceled) —
    * a worker finishing concurrently with a cancel must not resurrect the
    * job as SUCCESS/FAILURE. */
  def setIfPresent(id: String, st: JobState.Value, count: Long = -1, error: String = ""): Unit = {
    jobs.computeIfPresent(id, (_, _) => JobStatus(id, st, count, error))
    ()
  }

  def get(id: String): Option[JobStatus] = Option(jobs.get(id))

  /** CancelJob's delete-from-store step (core.go:268). */
  def remove(id: String): Unit = {
    canceled.add(id)
    jobs.remove(id): Unit
  }

  /** Failed-enqueue rollback: drop the admission WITHOUT marking canceled,
    * so a group containing the job reads PENDING (visible anomaly), never a
    * false SUCCESS that skips the member. */
  def rollback(id: String): Unit = jobs.remove(id): Unit

  def putGroup(groupId: String, jobIds: Seq[String]): Unit = groups.put(groupId, jobIds)
  def groupJobIds(groupId: String): Option[Seq[String]] = Option(groups.get(groupId))
  def removeGroup(groupId: String): Unit = groups.remove(groupId)

  /** Group state reduction (core.go:230-241): any FAILURE → FAILURE, all
    * SUCCESS → SUCCESS, any STARTED/RETRY → STARTED, else PENDING.
    * Explicitly-canceled members are excluded from the reduction — a group
    * whose remaining jobs all succeeded reports SUCCESS — but a member that
    * is simply absent (submit not yet landed, or rolled back) still holds
    * the group at PENDING, never letting a partial group read as complete. */
  def groupStatus(groupId: String): Option[GroupStatus] =
    groupJobIds(groupId).map { ids =>
      val sts = ids.flatMap(get)
      val unaccounted = ids.exists(id => !jobs.containsKey(id) && !canceled.contains(id))
      val state =
        if (sts.exists(_.state == JobState.Failure)) JobState.Failure
        else if (sts.nonEmpty && !unaccounted && sts.forall(_.state == JobState.Success)) JobState.Success
        else if (sts.exists(s => s.state == JobState.Started || s.state == JobState.Retry)) JobState.Started
        else JobState.Pending
      GroupStatus(groupId, state, sts)
    }

  def snapshot: Map[String, JobStatus] = jobs.asScala.toMap
}
