package graft

import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** The [[JobBroker]] skeleton every control plane shares: admission,
  * cancel, group cancel and the quiescence wait are the same on the
  * in-process [[Scheduler]] and the File, JDBC and Redis brokers. A broker
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
    if (purge) ResultPurge.purge(backends, jobId)
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

/** A job a queue worker has claimed, with what its backend needs to ack it
  * (the claimed file, the queue row, the parked payload). */
final case class Claimed[R](job: Job, epoch: Long, attempt: Int, receipt: R)

/** The backend half of a queue worker: one atomic claim primitive and the
  * bookkeeping around it. [[ClaimLoop]] owns everything else. */
trait ClaimBackend {
  type Receipt

  /** Return claims whose owner died before executing them to the queue.
    * Runs at the start of every tick, so it must leave live claims alone. */
  def recoverOrphans(): Unit
  /** Atomically claim the next queued job; None once the queues are empty. */
  def claim(): Option[Claimed[Receipt]]
  /** Release a claim that has been handed to the local scheduler (or
    * refused for lack of the task). */
  def ack(c: Claimed[Receipt]): Unit
  /** Publish the next attempt of a failed job to the shared queue, so any
    * worker in the fleet can claim it. */
  def republish(job: Job, attempt: Int, epoch: Long): Unit
  /** Recover after a failed tick (e.g. reconnect). */
  def reset(): Unit = ()
  def close(): Unit = ()
}

/** The one queue-worker loop, over any [[ClaimBackend]]: every `pollMs` it
  * recovers orphaned claims, then drains the queues — claim, hand the job
  * to a local [[Scheduler]] (full retry/TTL/cancel machinery against the
  * SHARED store), ack. Retryable failures re-publish through the backend
  * (see [[Scheduler.retryPublisher]]). Any non-fatal error ends the tick:
  * the backend is reset and the loop tries again after `pollMs`, so a
  * transient I/O, SQL or socket error never kills the worker.
  *
  * The poll thread starts at the end of this constructor. A worker class
  * passes a fully built backend in and adds no state of its own, so the
  * thread never sees a half-constructed worker. */
class ClaimLoop(
    spark: SparkSession,
    tasks: Map[String, Task],
    store: JobStateStore,
    backend: ClaimBackend,
    pollMs: Long,
    threadName: String) {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)
  private val scheduler = new Scheduler(spark, store)
  @volatile private var stopped = false

  // a publish failure returns false (or throws) and the scheduler retries
  // locally instead, so the attempt is never dropped either way
  scheduler.retryPublisher = (job, nextAttempt, epoch) =>
    !stopped && { backend.republish(job, nextAttempt, epoch); true }

  private val thread = new Thread(() => {
    var failing = false
    while (!stopped) {
      try { tick(); failing = false }
      catch {
        case _: InterruptedException => ()
        case NonFatal(e) =>
          if (!failing && !stopped) log.warn(s"$threadName: tick failed, retrying", e)
          failing = true
          try backend.reset() catch { case NonFatal(_) => () }
      }
      try Thread.sleep(pollMs) catch { case _: InterruptedException => () }
    }
  }, threadName)
  thread.setDaemon(true)
  thread.start()

  private def tick(): Unit = {
    backend.recoverOrphans()
    var next = if (stopped) None else backend.claim()
    while (next.isDefined) {
      val c = next.get
      tasks.get(c.job.taskName) match {
        case Some(task) => scheduler.executeClaimed(c.job, task, c.epoch, c.attempt)
        case None => // this worker doesn't carry the task: refuse, don't lose it
          store.setIfPresent(c.job.id, JobState.Failure, -1,
            s"worker has no task '${c.job.taskName}'")
      }
      backend.ack(c)
      next = if (stopped) None else backend.claim()
    }
  }

  def awaitQuiescence(timeoutMs: Long = 120000): Boolean =
    scheduler.awaitQuiescence(timeoutMs)

  def stop(): Unit = {
    stopped = true
    thread.interrupt()
    scheduler.shutdown()
    backend.close()
  }
}

object ClaimLoop {
  /** Queue poll interval: the idle worker's claim latency. */
  val DefaultPollMs = 50L
  /** JDBC claims older than this whose job is still PENDING are orphans. */
  val DefaultClaimLeaseMs = 30000L
}
