package graft

import java.time.{Duration, LocalDateTime}
import java.util.concurrent._
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** In-process job queue + workers — the port of the reference's
  * tasqueue/Redis broker usage (`internal/core/core.go:406-447` worker
  * registration, `core.go:68-78` worker loop) onto plain JVM executors and
  * Spark's own scheduler.
  *
  * Semantics preserved:
  *   - one worker pool per queue; a queue's concurrency is fixed by the
  *     first task that names it (the reference documents exactly this in
  *     sql/test.sql comments);
  *   - ETA = delayed start (`core.go:359-367`);
  *   - retries = N re-runs with state RETRY between attempts
  *     (`core.go:389-394`); attempt N+1 is re-enqueued with an ETA
  *     250 ms × N later (at most 2 s), on this scheduler or through the
  *     shared queue ([[retryPublisher]]);
  *   - TTL = max runtime; enforced by a scheduled `cancelJobGroup`
  *     (`core.go:354-357`);
  *   - pending listing returns the backlog newest-first (`core.go:156-159`);
  *   - cancel refuses completed jobs unless purge, kills the in-flight query,
  *     and deletes from the store (`core.go:244-271`).
  */
final class Scheduler(spark: SparkSession, store: JobStateStore) extends BrokerBase(store) {
  private val pools = new ConcurrentHashMap[String, ThreadPoolExecutor]()
  private val pending = new ConcurrentHashMap[String, ConcurrentLinkedDeque[String]]()
  /** A running attempt: its worker thread and its admission epoch. */
  private final class Run(val thread: Thread, val epoch: Long)
  private val running = new ConcurrentHashMap[String, Run]()
  // per-task concurrency limit (tasqueue registers task.Conc workers per
  // task, core.go:437-440); fixed at first sight like queue concurrency
  private val taskSlots = new ConcurrentHashMap[String, java.util.concurrent.Semaphore]()
  private val timers = Executors.newScheduledThreadPool(2, daemonFactory("graft-timer"))
  // task SQL's custom functions, once on the session every job runs on
  graft.functions.GraftFunctions.registerAll(spark)

  /** Cross-process retry hop (set by a queue worker's [[ClaimLoop]]): when
    * non-null, a retryable failure re-publishes the job THROUGH THE BROKER
    * (`(job, nextAttempt, epoch) => published`) instead
    * of re-enqueueing it on this process's pools — so the retry is visible
    * in the shared queue and ANY worker in the fleet can claim the next
    * attempt (the reference gets this from tasqueue re-enqueueing through
    * Redis, core.go:389-394). The published job carries its backoff as its
    * ETA, so the claiming worker starts it no sooner than a local retry
    * would start. Returning false (broker closed, disk error) falls back to
    * this process's pools so the attempt is never lost. The
    * attempt's admission epoch rides along so a cancel+resubmit during the
    * failure window can't be resurrected under a newer epoch (and the
    * claim side re-checks the epoch against the shared store anyway). */
  @volatile private[graft] var retryPublisher: (Job, Int, Long) => Boolean = null

  private def daemonFactory(prefix: String): ThreadFactory = new ThreadFactory {
    private val n = new java.util.concurrent.atomic.AtomicInteger
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"$prefix-${n.incrementAndGet()}")
      t.setDaemon(true); t
    }
  }

  /** Queue pool; size pinned at first sight of the queue. */
  private def pool(queue: String, conc: Int): ThreadPoolExecutor =
    pools.computeIfAbsent(queue, _ => new ThreadPoolExecutor(
      conc, conc, 60L, TimeUnit.SECONDS, new LinkedBlockingQueue[Runnable](),
      daemonFactory(s"graft-q-$queue")))

  private def backlog(queue: String): ConcurrentLinkedDeque[String] =
    pending.computeIfAbsent(queue, _ => new ConcurrentLinkedDeque[String]())

  /** Enqueue an admitted job (NewJob, core.go:86-105); [[BrokerBase]]
    * admits first and rolls the admission back if this throws. */
  protected def enqueue(job: Job, task: Task, epoch: Long): Unit =
    executeClaimed(job, task, epoch)

  /** A job whose next start a stopped scheduler refuses is marked failed
    * instead of left parked in PENDING/RETRY forever. Epoch-gated like every
    * other async continuation: a stale attempt must not stamp FAILURE onto a
    * newer admission of the same ID. */
  private def failStopped(job: Job, myEpoch: Long): Unit =
    if (store.epoch(job.id) == myEpoch)
      store.setIfPresent(job.id, JobState.Failure, -1, "re-enqueue rejected: scheduler stopped")

  private def runWithRetries(job: Job, task: Task, attempt: Int, myEpoch: Long): Unit = {
    // stale-first: a canceled-then-resubmitted ID enqueues a NEW runnable;
    // this old one must return before touching anything — including the
    // backlog, where job.id now denotes the new admission's pending entry
    if (store.epoch(job.id) != myEpoch) return
    backlog(job.queue).remove(job.id)
    // canceled-while-pending guard (execJob's not-canceled check,
    // core.go:452-454): cancellation removes the ID from the store.
    if (store.get(job.id).isEmpty) return
    val slot = taskSlots.computeIfAbsent(task.name,
      _ => new java.util.concurrent.Semaphore(math.max(task.conc, 1), true))
    try slot.acquire()
    catch { case _: InterruptedException => Thread.interrupted(); return }
    try runAttempt(job, task, attempt, myEpoch) finally slot.release()
  }

  /** One attempt; a retryable failure RE-ENQUEUES the next attempt with a
    * capped-backoff ETA (the reference re-enqueues through its broker)
    * instead of sleeping on the worker — the thread and the per-task slot
    * free up so a retrying job never head-of-line blocks its queue. */
  private def runAttempt(job: Job, task: Task, attempt: Int, myEpoch: Long): Unit = {
    // canceled while waiting for slot/retry: no Spark job ran under its group
    if (store.get(job.id).isEmpty) return
    // a non-empty store entry may belong to a NEWER admission of the same ID
    // (cancel + resubmit while this attempt waited on the slot or the retry
    // backoff): a stale attempt must not touch the fresh job's state/results
    if (store.epoch(job.id) != myEpoch) return
    val worker = Thread.currentThread()
    val run = new Run(worker, myEpoch)
    running.put(job.id, run)
    try {
      store.setIfPresent(job.id, JobState.Started)
      // TTL watchdog (core.go:354-357): cancel the job group AND interrupt
      // the worker — a job stalled driver-side (e.g. a hung JDBC schema
      // probe) has no tagged stages for cancelJobGroup to kill. The
      // attemptLive flag keeps a late-firing timer from interrupting
      // whatever the thread runs next.
      val attemptLive = new java.util.concurrent.atomic.AtomicBoolean(true)
      val ttlTimer = timers.schedule((() => {
        spark.sparkContext.cancelJobGroup(job.id)
        if (attemptLive.get()) worker.interrupt()
      }): Runnable, job.ttlSec.toLong, TimeUnit.SECONDS)
      try {
        val res = graft.Executor.run(spark, job, task)
        attemptLive.set(false); ttlTimer.cancel(false)
        // conditional update: a concurrent cancel removed the entry and
        // must not be resurrected as SUCCESS
        store.setIfPresent(job.id, JobState.Success, res.count)
      } catch {
        case e: Throwable =>
          attemptLive.set(false); ttlTimer.cancel(false)
          if (store.get(job.id).isEmpty || store.epoch(job.id) != myEpoch) {
            // canceled (or canceled and re-admitted): kill any stages that
            // slipped in after the canceler's cancelJobGroup (e.g. cancel
            // landed during planning), then stop.
            Thread.interrupted() // clear the canceler's interrupt
            spark.sparkContext.cancelJobGroup(job.id)
          }
          else if (attempt <= job.retries) {
            store.setIfPresent(job.id, JobState.Retry)
            val next = job.copy(eta = Some(LocalDateTime.now.plus(
              Duration.ofMillis(math.min(250L * attempt, 2000L)))))
            val rp = retryPublisher
            val published =
              try rp != null && rp(next, attempt + 1, myEpoch)
              catch { case _: Exception => false }
            // the admission epoch rides along: runWithRetries drops the
            // attempt if the ID was canceled and re-submitted meanwhile
            if (!published)
              try executeClaimed(next, task, myEpoch, attempt + 1)
              catch { case _: Exception => failStopped(job, myEpoch) }
          }
          else store.setIfPresent(job.id, JobState.Failure, -1, safeMsg(e))
      } finally Thread.interrupted() // drop any stray TTL interrupt
    } finally run.synchronized(running.remove(job.id, run))
  }

  private def safeMsg(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getSimpleName).linesIterator.take(3).mkString(" ")

  /** Pending backlog for a queue, newest-first (core.go:150-162). */
  def pendingJobs(queue: String): Seq[String] =
    Option(pending.get(queue)).map(_.iterator().asScala.toSeq.reverse).getOrElse(Nil)

  /** Cancel's local half, after [[BrokerBase.cancel]] removed the store
    * entry (the worker's catch keys off its absence). */
  protected def dropQueued(jobId: String): Unit = {
    // drop the pending-backlog entry too: the job's runnable no longer
    // touches the backlog once its admission is stale, so cancel owns
    // the removal (otherwise a cancel + resubmit leaves a ghost entry)
    pending.values().asScala.foreach(_.remove(jobId))
    // only a running job has Spark jobs to kill: a queued or finished job's
    // group has none, and cancelling it would only log DAGScheduler's
    // "Failed to cancel job group" WARN
    Option(running.get(jobId)).foreach(stop(jobId, _))
  }

  /** Stop every local run whose admission the shared store no longer
    * holds (entry gone, or epoch moved on): a queue worker's [[ClaimLoop]]
    * calls this every tick, as a cancel issued on another node cannot reach
    * this process's threads otherwise. */
  private[graft] def stopCanceled(): Unit =
    running.forEach { (id, run) =>
      if (store.get(id).isEmpty || store.epoch(id) != run.epoch) stop(id, run)
    }

  /** Kill a running attempt's Spark jobs and interrupt its worker, whose
    * query may still be in planning (the worker then re-fires
    * cancelJobGroup for late stages). Only while the run is registered, so
    * an attempt that just ended never passes the interrupt on. */
  private def stop(jobId: String, run: Run): Unit = run.synchronized {
    if (running.get(jobId) eq run) {
      spark.sparkContext.cancelJobGroup(jobId)
      run.thread.interrupt()
    }
  }

  protected def anyQueued: Boolean =
    pools.values().asScala.exists(p => p.getActiveCount > 0 || !p.getQueue.isEmpty) ||
      pending.values().asScala.exists(!_.isEmpty)

  /** Execute a job ALREADY ADMITTED — by [[submit]], or by another process
    * (a queue worker's entry point, see [[ClaimLoop]]): skips the gate, runs
    * through this process's queue pools with the full retry/TTL/cancel
    * machinery. The epoch is the remote admission's; every staleness and
    * cancellation check inside `runWithRetries` reads the SHARED store, so
    * a cancel issued by any process stops the claimed job before it starts
    * (and stops its retries after). ETA = delayed start. */
  private[graft] def executeClaimed(job: Job, task: Task, epoch: Long,
      attempt: Int = 1): Unit = {
    require(!closed, "scheduler stopped")
    backlog(job.queue).addLast(job.id)
    val delayMs = job.eta
      .map(e => Duration.between(LocalDateTime.now, e).toMillis.max(0L))
      .getOrElse(0L)
    val runnable: Runnable = () => runWithRetries(job, task, attempt, epoch)
    try {
      // after shutdown() the pool rejects, and a ScheduledThreadPoolExecutor
      // would swallow the RejectedExecutionException of a timer's execute
      if (delayMs > 0)
        timers.schedule((() =>
          try pool(job.queue, task.conc).execute(runnable)
          catch { case _: RejectedExecutionException => failStopped(job, epoch) }): Runnable,
          delayMs, TimeUnit.MILLISECONDS)
      else pool(job.queue, task.conc).execute(runnable)
    } catch {
      case e: Throwable =>
        backlog(job.queue).remove(job.id)
        throw e
    }
  }

  override def shutdown(): Unit = {
    super.shutdown()
    pools.values().asScala.foreach(_.shutdown())
    timers.shutdown()
  }
}
