package graft

import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** The [[JobBroker]] skeleton every control plane shares: admission,
  * cancel, group cancel and the quiescence wait are the same on the
  * in-process [[Scheduler]] and a shared plane's [[QueueBroker]]. A broker
  * supplies only its queue primitives:
  *
  *   - [[enqueue]]: put an admitted job on the queue;
  *   - [[dropQueued]]: forget a canceled job's unclaimed entry (runs after
  *     `store.remove`, so a claim racing the drop is stopped by the
  *     workers' store check instead);
  *   - [[anyQueued]]: is anything still queued or in this process's hands?
  */
abstract class BrokerBase(store: JobStateStore) extends JobBroker {
  @volatile protected var closed = false

  protected def enqueue(job: Job, task: Task, epoch: Long): Unit
  protected def dropQueued(jobId: String): Unit
  protected def anyQueued: Boolean

  /** Admit, enqueue, and roll the admission back if the enqueue throws: a
    * failed enqueue must not leave a Pending admission that wedges the ID.
    * Rollback ≠ cancel: the ID stays unaccounted, so a group holding it
    * reads PENDING rather than skipping the member. */
  def submit(job: Job, task: Task): Boolean = {
    require(!closed, "broker stopped")
    val epoch = store.tryAdmit(job.id)
    if (epoch < 0) return false
    try enqueue(job, task, epoch)
    catch {
      case e: Throwable =>
        store.rollback(job.id)
        throw e
    }
    true
  }

  /** CancelJob (core.go:244-271): refuses completed jobs unless purge. The
    * store entry goes first: every worker's pre-run check keys off its
    * absence. */
  def cancel(jobId: String, purge: Boolean, backends: SourcePool): Unit = {
    val st = store.get(jobId)
      .getOrElse(throw new NoSuchElementException(s"unknown job: $jobId"))
    if (JobState.isDone(st.state) && !purge)
      throw new IllegalStateException("can't cancel a completed job without purge")
    store.remove(jobId)
    dropQueued(jobId)
    if (purge) Results.purge(backends, jobId)
  }

  /** CancelJobGroup (core.go:274-322): per-member cancel with the
    * *group-level* completed guard only — a mixed group (some members done,
    * some running) cancels the running members and removes the finished
    * ones, like the reference's per-member delete loop. */
  def cancelGroup(groupId: String, purge: Boolean, backends: SourcePool): Unit = {
    val ids = store.groupJobIds(groupId)
      .getOrElse(throw new NoSuchElementException(s"unknown group: $groupId"))
    val statuses = ids.flatMap(store.get)
    if (statuses.nonEmpty && statuses.forall(s => JobState.isDone(s.state)) && !purge)
      throw new IllegalStateException("can't cancel a completed group without purge")
    ids.foreach { id =>
      store.get(id).foreach { st =>
        if (JobState.isDone(st.state) && !purge) store.remove(id) // done: just drop
        else cancel(id, purge, backends)
      }
    }
    store.removeGroup(groupId)
  }

  /** Drained when nothing is queued and no shared-store entry is still live
    * (workers may be mid-run in other processes). */
  def awaitQuiescence(timeoutMs: Long = 120000): Boolean = {
    val deadline = System.currentTimeMillis + timeoutMs
    while (System.currentTimeMillis < deadline) {
      if (!anyQueued && !store.snapshot.values.exists(s => JobState.isLive(s.state)))
        return true
      Thread.sleep(25)
    }
    false
  }

  def shutdown(): Unit = closed = true
}

/** The [[JobStateStore]] skeleton the in-memory, File and Redis stores
  * share: admission, status writes, cancel, rollback and the group
  * reduction are written once here, each write under the store's per-ID
  * lock. A store supplies only its storage primitives:
  *
  *   - [[locked]]: run `f` exclusively for one ID, across every instance
  *     over the same storage;
  *   - `get` / [[write]] / [[delete]]: one ID's status entry (present ⇔
  *     admitted);
  *   - [[nextEpoch]]: bump and return the ID's admission epoch. The counter
  *     survives cancel, so a cancel + re-admit always bumps and a stale
  *     retry timer in any process sees that its epoch is old;
  *   - [[markCanceled]] / [[clearCanceled]] / [[isCanceled]]: the cancel
  *     mark, which tells a canceled group member from one never admitted.
  *
  * Admission writes PENDING over the old entry and deletes nothing, so a
  * reader never finds a re-admitted ID missing. [[JdbcJobStateStore]] keeps
  * its own single-statement admission and shares only the reduction.
  */
abstract class LockedStore extends JobStateStore {
  protected def locked[A](id: String)(f: => A): A
  protected def write(s: JobStatus): Unit
  protected def delete(id: String): Unit
  protected def nextEpoch(id: String): Long
  protected def markCanceled(id: String): Unit
  protected def clearCanceled(id: String): Unit
  protected def isCanceled(id: String): Boolean

  def tryAdmit(id: String): Long = locked(id) {
    if (get(id).exists(s => JobState.isLive(s.state))) -1L
    else {
      val epoch = nextEpoch(id)
      clearCanceled(id)
      write(JobStatus(id, JobState.Pending))
      epoch
    }
  }

  def set(id: String, st: JobState.Value, count: Long, error: String): Unit =
    locked(id)(write(JobStatus(id, st, count, error)))

  def setIfPresent(id: String, st: JobState.Value, count: Long, error: String): Unit =
    locked(id) { if (get(id).isDefined) write(JobStatus(id, st, count, error)) }

  /** CancelJob's delete-from-store step (core.go:268), remembered as a
    * cancel for the group reduction. */
  def remove(id: String): Unit = locked(id) { markCanceled(id); delete(id) }

  def rollback(id: String): Unit = locked(id)(delete(id))

  def groupStatus(groupId: String): Option[GroupStatus] =
    groupJobIds(groupId).map(GroupStatus.reduce(groupId, _, get, isCanceled))
}

object LockedStore {
  // JVM-global serialization per key: two stores over the same storage in
  // one JVM must contend on the same object
  private val stripes = Array.fill(64)(new Object)
  private[graft] def stripe(key: String): Object =
    stripes(math.floorMod(key.hashCode, stripes.length))
}

/** A job a queue worker has claimed, with what its queue needs to ack it
  * (the claimed file, the queue row, the parked payload). */
final case class Claimed[R](job: Job, epoch: Long, attempt: Int, receipt: R)

/** The one queued-job payload, carried unchanged by every queue: a File
  * plane queue file's content, a JDBC `graft_queue.payload`, a Redis list
  * entry. The reference likewise encodes a queued job once (msgpack of
  * `taskMeta`, `core.go:380-387`) and its broker carries the bytes.
  *
  * One URL-encoded field per line in a fixed order (id, task, queue, eta,
  * retries, ttlSec, db, epoch, attempt, arg count), then one line per arg.
  * The payload is pure ASCII and round-trips bytes-exactly, so Redis's LREM
  * removes the exact string LRANGE returned. `attempt` is 1 on the first
  * publish and N+1 on a cross-worker retry, so the claiming worker resumes
  * the retry budget where the failing one left off. */
object JobWire {
  private val UTF8 = java.nio.charset.StandardCharsets.UTF_8

  def encode(job: Job, epoch: Long, attempt: Int): String =
    (Seq(job.id, job.taskName, job.queue, job.eta.map(_.toString).getOrElse(""),
      job.retries.toString, job.ttlSec.toString, job.db.getOrElse(""),
      epoch.toString, attempt.toString, job.args.size.toString) ++ job.args)
      .map(java.net.URLEncoder.encode(_, UTF8)).mkString("\n")

  /** (job, admission epoch, attempt); None for a torn or foreign payload. */
  def decode(s: String): Option[(Job, Long, Int)] = try {
    val f = s.split("\n", -1).map(java.net.URLDecoder.decode(_, UTF8))
    val nargs = f(9).toInt
    if (f.length != 10 + nargs) None
    else Some((Job(f(0), f(1), f(2),
      Some(f(3)).filter(_.nonEmpty).map(java.time.LocalDateTime.parse),
      f(4).toInt, f(5).toInt, f.drop(10).toSeq, Some(f(6)).filter(_.nonEmpty)),
      f(7).toLong, f(8).toInt))
  } catch { case _: Exception => None }
}

/** A shared plane's queue, one object for the API node's [[QueueBroker]]
  * (publish, list, drop) and every worker's [[ClaimLoop]] (claim, ack,
  * recover orphans, publish a retry). Each plane names its queue layout in
  * its one implementation: [[FileQueue]], [[JdbcQueue]], [[RedisQueue]]. */
trait SharedQueue {
  type Receipt

  /** Put `attempt` of an admitted job on its queue: attempt 1 is the
    * submit, attempt N+1 the cross-worker retry of a failed attempt N. */
  def publish(job: Job, epoch: Long, attempt: Int): Unit
  /** The unclaimed job IDs of `queue`, newest first. */
  def pending(queue: String): Seq[String]
  /** Forget a canceled job's unclaimed entry, if any. */
  def drop(jobId: String): Unit
  /** Nothing is queued, and no claim is waiting for its hand-off. */
  def isEmpty: Boolean
  /** Return claims whose owner died before executing them to the queue.
    * Runs at the start of every tick, so it must leave live claims alone. */
  def recoverOrphans(store: JobStateStore): Unit
  /** Atomically claim the next job queued on `queues` (every queue when
    * None); None once they are empty. */
  def claim(queues: Option[Seq[String]]): Option[Claimed[Receipt]]
  /** Release a claim that has been handed to the local scheduler (or
    * refused for lack of the task). */
  def ack(c: Claimed[Receipt]): Unit
  /** Recover after a failed tick (e.g. reconnect). */
  def reset(): Unit = ()
  def close(): Unit = ()
}

/** The API node's [[JobBroker]] over a shared plane's queue. */
class QueueBroker(queue: SharedQueue, store: JobStateStore) extends BrokerBase(store) {
  protected def enqueue(job: Job, task: Task, epoch: Long): Unit = queue.publish(job, epoch, 1)
  override def pendingJobs(q: String): Seq[String] = queue.pending(q)
  protected def dropQueued(jobId: String): Unit = queue.drop(jobId)
  protected def anyQueued: Boolean = !queue.isEmpty
  override def shutdown(): Unit = { super.shutdown(); queue.close() }
}

/** The one queue-worker loop, over any [[SharedQueue]]: every `pollMs` it
  * stops the local runs canceled on another node, recovers orphaned
  * claims, then drains `queues` (all of them when None) — claim, hand the
  * job to a local [[Scheduler]] (full retry/TTL/cancel machinery against
  * the SHARED store), ack. Retryable failures are published to the queue
  * as the next attempt (see [[Scheduler.retryPublisher]]). Any non-fatal
  * error ends the tick: the queue is reset and the loop tries again after
  * `pollMs`, so a transient I/O, SQL or socket error never kills the
  * worker.
  *
  * The poll thread starts at the end of this constructor. A worker class
  * passes a fully built queue in and adds no state of its own, so the
  * thread never sees a half-constructed worker. */
class ClaimLoop(
    spark: SparkSession,
    tasks: Map[String, Task],
    store: JobStateStore,
    queue: SharedQueue,
    queues: Option[Seq[String]],
    pollMs: Long,
    threadName: String) {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)
  private val scheduler = new Scheduler(spark, store)
  @volatile private var stopped = false

  // a publish failure returns false (or throws) and the scheduler retries
  // locally instead, so the attempt is never dropped either way
  scheduler.retryPublisher = (job, nextAttempt, epoch) =>
    !stopped && { queue.publish(job, epoch, nextAttempt); true }

  private val thread = new Thread(() => {
    var failing = false
    while (!stopped) {
      try { tick(); failing = false }
      catch {
        case _: InterruptedException => ()
        case NonFatal(e) =>
          if (!failing && !stopped) log.warn(s"$threadName: tick failed, retrying", e)
          failing = true
          try queue.reset() catch { case NonFatal(_) => () }
      }
      try Thread.sleep(pollMs) catch { case _: InterruptedException => () }
    }
  }, threadName)
  thread.setDaemon(true)
  thread.start()

  private def tick(): Unit = {
    scheduler.stopCanceled()
    queue.recoverOrphans(store)
    var next = if (stopped) None else queue.claim(queues)
    while (next.isDefined) {
      val c = next.get
      tasks.get(c.job.taskName) match {
        case Some(task) => scheduler.executeClaimed(c.job, task, c.epoch, c.attempt)
        case None => // this worker doesn't carry the task: refuse, don't lose it
          store.setIfPresent(c.job.id, JobState.Failure, -1,
            s"worker has no task '${c.job.taskName}'")
      }
      queue.ack(c)
      next = if (stopped) None else queue.claim(queues)
    }
  }

  def awaitQuiescence(timeoutMs: Long = 120000): Boolean =
    scheduler.awaitQuiescence(timeoutMs)

  def stop(): Unit = {
    stopped = true
    thread.interrupt()
    scheduler.shutdown()
    queue.close()
  }
}

object ClaimLoop {
  /** Queue poll interval: the idle worker's claim latency. */
  val DefaultPollMs = 50L
  /** JDBC claims older than this whose job is still PENDING are orphans. */
  val DefaultClaimLeaseMs = 30000L
}
