package graft

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite

/** The control-plane contract: every shared plane's [[JobStateStore]] and
  * [[SharedQueue]] (File, JDBC, Redis), under a [[QueueBroker]] and
  * [[ClaimLoop]] workers, must pass these cases. A backend suite extends
  * this class with a [[Plane]] and adds its backend-only cases.
  * Independent store, broker and worker instances over one plane stand in
  * for separate processes: the API nodes and the worker fleet of the
  * reference's shared-Redis topology.
  *
  * `names` maps a case's key (`run`, `codegen`, `dup`, `cancel`, `race`,
  * `retry`, `backoff`, `orphan`, `notask`, `fault`, `wire`, `cancelrun`) to
  * the name of the backend test it replaced, so that test keeps its ID.
  */
abstract class ControlPlaneContract(names: Map[String, String] = Map.empty)
    extends AnyFunSuite {
  protected lazy val spark = TestSpark.spark

  /** One backend's shared state (a directory, a database, a Redis server). */
  protected trait Plane {
    def store(): JobStateStore
    /** A new client of the plane's queue. */
    def queue(): SharedQueue
    final def broker(store: JobStateStore): JobBroker = new QueueBroker(queue(), store)
    final def worker(tasks: Map[String, Task], store: JobStateStore,
        pollMs: Long = ClaimLoop.DefaultPollMs): ClaimLoop =
      new ClaimLoop(spark, tasks, store, queue(), None, pollMs, "graft-contract-worker")
    /** Leave `job` claimed by a worker that died before executing it. */
    def strandClaim(job: Job): Unit
    /** Claims currently held by any worker, live or dead. */
    def claimsHeld(): Long
    /** The attempt number `job` waits in the queue with, if it is queued. */
    def queuedAttempt(job: Job): Option[Int]
    def close(): Unit = ()
  }

  protected def newPlane(): Plane

  protected def withPlane[A](f: Plane => A): A = {
    val p = newPlane()
    try f(p) finally p.close()
  }

  protected final class Fixture(val tasks: Map[String, Task], val src: SourcePool,
      val bk: SourcePool, results: String, srcDir: Path) {
    def job(id: String, retries: Int = 0): Job =
      JobFactory.make(JobReq("count_events", jobId = id, retries = retries),
        tasks("count_events"))
    def task: Task = tasks("count_events")
    def ran(id: String): Boolean = new java.io.File(DirResults(results).path(id)).exists()
    /** Give an empty source directory its `events` table. */
    def makeEvents(): Unit = {
      import spark.implicits._
      Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("event_id", "user_id")
        .coalesce(1).write.mode("overwrite")
        .parquet(srcDir.resolve("events.parquet").toString)
    }
  }

  /** `count_events`, `profit` and `slow_count` (minutes of work whose
    * tasks stop when killed) over the sf0.001 fixture, or over an empty
    * source directory (every run fails until [[Fixture.makeEvents]]). */
  protected def fixture(emptySource: Boolean = false): Fixture = {
    val tasksDir = TempDirs.make("graft-cp-tasks")
    Files.writeString(tasksDir.resolve("t.sql"),
      """-- name: count_events
        |SELECT COUNT(*) AS n FROM events;
        |
        |-- name: profit
        |SELECT CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM events WHERE user_id = $1;
        |
        |-- name: slow_count
        |SELECT COUNT(*) AS n FROM range(0, 1000000000000) WHERE id % 7 <> $1;
        |""".stripMargin)
    val srcDir = TempDirs.make("graft-cp-src")
    val results = TempDirs.make("graft-cp-results").toString
    val src = SourcePool(Map("db" -> (if (emptySource) srcDir.toString else TestSpark.sf0001)))
    val bk = SourcePool(Map("res" -> results))
    new Fixture(TaskRegistry.load(spark, Seq(tasksDir.toString), src, bk), src, bk, results, srcDir)
  }

  protected def await(timeoutMs: Long)(cond: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis + timeoutMs
    while (System.currentTimeMillis < deadline) {
      if (cond) return true
      Thread.sleep(30)
    }
    cond
  }

  protected def awaitDone(store: JobStateStore, id: String,
      timeoutMs: Long = 60000): Option[JobStatus] = {
    await(timeoutMs)(store.get(id).exists(s => JobState.isDone(s.state)))
    store.get(id)
  }

  private def contract(key: String, name: String)(body: => Any): Unit =
    test(names.getOrElse(key, name))(body)

  contract("run", "enqueue, a separate worker claims and runs it, the API sees SUCCESS") {
    withPlane { p =>
      val fx = fixture()
      val apiStore = p.store()
      val api = new GraftCore(spark, fx.tasks, fx.src, fx.bk,
        mkStore = () => apiStore, mkBroker = (_, st) => p.broker(st))
      val worker = p.worker(fx.tasks, p.store())
      try {
        val job = api.postJob(JobReq("profit", jobId = "cp-run", args = Seq("1")))
        val st = awaitDone(apiStore, job.id)
        assert(st.exists(s => s.state == JobState.Success && s.count > 0), s"API saw: $st")
        assert(fx.ran(job.id), "the worker must materialize the result")
        // a terminal state frees the ID: re-admission runs under a new epoch
        val e1 = apiStore.epoch(job.id)
        api.postJob(JobReq("profit", jobId = "cp-run", args = Seq("2")))
        assert(awaitDone(apiStore, job.id).exists(_.state == JobState.Success))
        assert(apiStore.epoch(job.id) > e1, "re-admission must bump the epoch")
      } finally { worker.stop(); api.scheduler.shutdown() }
    }
  }

  contract("codegen",
      "a worker's jobs share their task's generated code: new argument values compile nothing") {
    withPlane { p =>
      val fx = fixture()
      val apiStore = p.store()
      val api = new GraftCore(spark, fx.tasks, fx.src, fx.bk,
        mkStore = () => apiStore, mkBroker = (_, st) => p.broker(st))
      val worker = p.worker(fx.tasks, p.store())
      def run(k: Int): Unit = {
        val job = api.postJob(JobReq("profit", jobId = s"cp-codegen-$k", args = Seq(k.toString)))
        assert(awaitDone(apiStore, job.id).exists(_.state == JobState.Success))
      }
      try {
        run(1)
        val afterFirst = OpsFixture.codegenCompiles
        (2 to 4).foreach(run)
        assert(OpsFixture.codegenCompiles == afterFirst,
          "a job with a new argument value compiled code")
      } finally { worker.stop(); api.scheduler.shutdown() }
    }
  }

  contract("dup", "same-ID admission is refused across two brokers") {
    withPlane { p =>
      val fx = fixture()
      val storeA = p.store()
      val brokerA = p.broker(storeA)
      val brokerB = p.broker(p.store())
      try {
        val job = fx.job("cp-dup")
        assert(brokerA.submit(job, fx.task))
        assert(!brokerB.submit(job, fx.task), "dup ID admitted twice")
        assert(brokerA.pendingJobs(job.queue) == Seq(job.id))
        // cancel drops the queued entry and frees the ID for any broker
        brokerA.cancel(job.id, purge = false, fx.bk)
        assert(brokerA.pendingJobs(job.queue).isEmpty)
        // canceled ≠ never admitted: a group holding only it is not lost
        storeA.putGroup("cp-dup-g", Seq(job.id))
        assert(storeA.groupStatus("cp-dup-g").exists(_.state == JobState.Pending))
        assert(brokerB.submit(job, fx.task), "a canceled ID must be admissible again")
      } finally { brokerA.shutdown(); brokerB.shutdown() }
    }
  }

  contract("cancel", "cancel before claim: the job never runs") {
    withPlane { p =>
      val fx = fixture()
      val store = p.store()
      val broker = p.broker(store)
      val job = fx.job("cp-cancel")
      assert(broker.submit(job, fx.task))
      broker.cancel(job.id, purge = false, fx.bk)
      assert(broker.pendingJobs(job.queue).isEmpty, "the queued entry must be gone")
      assert(store.get(job.id).isEmpty)
      // a late worker finds nothing; even a claim racing the drop would be
      // stopped by the store check
      val worker = p.worker(fx.tasks, p.store())
      try {
        Thread.sleep(300)
        assert(store.get(job.id).isEmpty)
        assert(!fx.ran(job.id))
      } finally { worker.stop(); broker.shutdown() }
    }
  }

  contract("race", "cancel racing finish: the cancel wins, setIfPresent does not resurrect") {
    withPlane { p =>
      val fx = fixture()
      val store = p.store()
      val broker = p.broker(store)
      // the finishing worker's conditional write lands after the cancel
      val early = fx.job("cp-race-1")
      assert(broker.submit(early, fx.task))
      broker.cancel(early.id, purge = false, fx.bk)
      p.store().setIfPresent(early.id, JobState.Success, 5)
      assert(store.get(early.id).isEmpty, "a finishing worker resurrected a canceled job")
      // a real run, canceled wherever it happens to be: no interleaving
      // may leave the job visible once the worker is idle
      val worker = p.worker(fx.tasks, p.store(), pollMs = 5)
      try {
        val job = fx.job("cp-race-2")
        assert(broker.submit(job, fx.task))
        await(10000)(store.get(job.id).forall(_.state != JobState.Pending))
        broker.cancel(job.id, purge = true, fx.bk)
        assert(worker.awaitQuiescence(60000))
        assert(store.get(job.id).isEmpty, s"cancel lost the race: ${store.get(job.id)}")
        assert(broker.submit(job, fx.task), "the canceled ID must be admissible again")
      } finally { worker.stop(); broker.shutdown() }
    }
  }

  contract("retry", "a failed attempt is re-published and another worker finishes it") {
    withPlane { p =>
      val fx = fixture(emptySource = true) // attempt 1 fails: no events table
      val apiStore = p.store()
      val broker = p.broker(apiStore)
      val job = fx.job("cp-retry", retries = 1)
      assert(broker.submit(job, fx.task))
      // worker A claims once: it claims attempt 1 but cannot claim the
      // retry, so the attempt provably crosses workers
      val storeA = p.store()
      val workerA = new ClaimLoop(spark, fx.tasks, storeA,
        new ControlPlaneContract.ClaimOnce(p.queue()), None, 25, "graft-contract-worker")
      try {
        // the re-published entry carries attempt 2: a publish that kept
        // attempt 1 would retry across workers forever
        assert(await(30000) {
          apiStore.get(job.id).exists(_.state == JobState.Retry) &&
            broker.pendingJobs(job.queue).contains(job.id) &&
            p.queuedAttempt(job).contains(2)
        }, s"attempt 2 was never re-published; state=${apiStore.get(job.id)}, " +
          s"queued attempt=${p.queuedAttempt(job)}")
        fx.makeEvents()
        val workerB = p.worker(fx.tasks, p.store(), pollMs = 25)
        try assert(awaitDone(apiStore, job.id).exists(_.state == JobState.Success),
          s"worker B never finished the retry; state=${apiStore.get(job.id)}")
        finally workerB.stop()
      } finally { workerA.stop(); broker.shutdown() }
    }
  }

  contract("backoff", "a retry waits its backoff: RETRY to FAILURE takes at least 250 ms") {
    withPlane { p =>
      val fx = fixture(emptySource = true) // every attempt fails: no events table
      val store = p.store()
      val broker = p.broker(store)
      val stamps = new ControlPlaneContract.StampingStore(p.store())
      val worker = p.worker(fx.tasks, stamps, pollMs = 25)
      try {
        val job = fx.job("cp-backoff", retries = 1)
        assert(broker.submit(job, fx.task))
        assert(awaitDone(store, job.id).exists(_.state == JobState.Failure),
          s"state=${store.get(job.id)}")
        val waitedMs = for (r <- stamps.at(JobState.Retry); f <- stamps.at(JobState.Failure))
          yield (f - r) / 1000000
        assert(waitedMs.exists(_ >= 250),
          s"attempt 2 failed ${waitedMs.getOrElse("?")} ms after attempt 1's RETRY")
      } finally { worker.stop(); broker.shutdown() }
    }
  }

  contract("orphan", "an orphaned claim is recovered and executed") {
    withPlane { p =>
      val fx = fixture()
      val store = p.store()
      val broker = p.broker(store)
      val job = fx.job("cp-orphan")
      assert(broker.submit(job, fx.task))
      p.strandClaim(job)
      assert(broker.pendingJobs(job.queue).isEmpty, "the job must be stranded")
      assert(p.claimsHeld() == 1)
      assert(store.get(job.id).exists(_.state == JobState.Pending))
      val worker = p.worker(fx.tasks, p.store())
      try {
        assert(awaitDone(store, job.id).exists(_.state == JobState.Success),
          s"the orphan was never recovered; state=${store.get(job.id)}")
        assert(await(10000)(p.claimsHeld() == 0), "the recovered claim must be acked")
      } finally { worker.stop(); broker.shutdown() }
    }
  }

  contract("notask", "a worker without the task marks the job FAILURE") {
    withPlane { p =>
      val fx = fixture()
      val store = p.store()
      val broker = p.broker(store)
      val job = fx.job("cp-notask")
      assert(broker.submit(job, fx.task))
      val worker = p.worker(Map.empty, p.store())
      try {
        val st = awaitDone(store, job.id, 10000)
        assert(st.exists(s => s.state == JobState.Failure && s.error.contains("no task")),
          s"got $st")
      } finally { worker.stop(); broker.shutdown() }
    }
  }

  contract("fault", "the worker survives a transient claim fault and keeps claiming") {
    withPlane { p =>
      val fx = fixture()
      val store = p.store()
      val broker = p.broker(store)
      val job = fx.job("cp-fault")
      assert(broker.submit(job, fx.task))
      val workerStore = p.store()
      val flaky = new ControlPlaneContract.FailFirstClaim(p.queue())
      val worker = new ClaimLoop(spark, fx.tasks, workerStore, flaky, None, 25,
        "graft-contract-worker")
      try {
        assert(awaitDone(store, job.id).exists(_.state == JobState.Success),
          s"the worker stopped claiming after the fault; state=${store.get(job.id)}")
        assert(flaky.faults == 1)
        val next = fx.job("cp-fault-2")
        assert(broker.submit(next, fx.task))
        assert(awaitDone(store, next.id).exists(_.state == JobState.Success))
      } finally { worker.stop(); broker.shutdown() }
    }
  }

  /** The Spark tasks of `group`'s jobs still running in this JVM, also
    * those of a cancelled job whose task has not noticed the kill yet. */
  private def activeTasks(group: String): Int = {
    val tracker = spark.sparkContext.statusTracker
    tracker.getJobIdsForGroup(group).flatMap(tracker.getJobInfo(_)).flatMap(_.stageIds)
      .flatMap(tracker.getStageInfo(_)).map(_.numActiveTasks).sum
  }

  contract("cancelrun", "cancel while running: the worker stops the job's Spark work") {
    withPlane { p =>
      val fx = fixture()
      val apiStore = p.store()
      val api = new GraftCore(spark, fx.tasks, fx.src, fx.bk,
        mkStore = () => apiStore, mkBroker = (_, st) => p.broker(st))
      val worker = p.worker(fx.tasks, p.store())
      val id = "cp-cancelrun"
      try {
        api.postJob(JobReq("slow_count", jobId = id, args = Seq("3"), ttlSec = 600))
        // cancel once the count's tasks run: a cancel that lands while the
        // job is still being planned is a separate race
        assert(await(60000)(activeTasks(id) > 0),
          s"the job never ran a Spark task; state=${apiStore.get(id)}")
        api.deleteJob(id)
        assert(await(10000)(activeTasks(id) == 0 && worker.awaitQuiescence(100)),
          s"the cancel left ${activeTasks(id)} Spark task(s) of the job running")
        assert(apiStore.get(id).isEmpty)
      } finally {
        // where the cancel did not reach the worker, stop the count here
        await(60000) {
          if (activeTasks(id) > 0) spark.sparkContext.cancelJobGroup(id)
          activeTasks(id) == 0 && worker.awaitQuiescence(100)
        }
        worker.stop(); api.scheduler.shutdown()
      }
    }
  }

  contract("wire", "a claim returns the job as submitted, with its epoch and attempt") {
    withPlane { p =>
      val fx = fixture()
      val store = p.store()
      val broker = p.broker(store)
      val queue = p.queue()
      val full = Job("cp-wire-1", "count_events", "default",
        Some(java.time.LocalDateTime.of(2031, 1, 2, 3, 4, 5, 6000)), 2, 90,
        Seq("", "a\nb", "c,d;e%f", "\u00fc"), Some("db"))
      val bare = Job("cp-wire-2", "count_events", "default", None, 0, 60, Nil, None)
      try {
        Seq(full, bare).foreach(j => assert(broker.submit(j, fx.task)))
        val claims = Seq(queue.claim(None), queue.claim(None)).flatten
        claims.foreach(queue.ack(_))
        assert(claims.map(c => (c.job, c.epoch, c.attempt)).toSet ==
          Set((full, store.epoch(full.id), 1), (bare, store.epoch(bare.id), 1)))
        queue.publish(full, store.epoch(full.id), 2)
        val retry = queue.claim(None)
        retry.foreach(queue.ack(_))
        assert(retry.map(c => (c.job, c.epoch, c.attempt)) ==
          Some((full, store.epoch(full.id), 2)))
      } finally { queue.close(); broker.shutdown() }
    }
  }
}

object ControlPlaneContract {
  /** A queue that passes every call on to `inner`. */
  abstract class Forwarding(val inner: SharedQueue) extends SharedQueue {
    type Receipt = inner.Receipt
    def publish(job: Job, epoch: Long, attempt: Int): Unit = inner.publish(job, epoch, attempt)
    def pending(queue: String): Seq[String] = inner.pending(queue)
    def drop(jobId: String): Unit = inner.drop(jobId)
    def isEmpty: Boolean = inner.isEmpty
    def recoverOrphans(store: JobStateStore): Unit = inner.recoverOrphans(store)
    def claim(queues: Option[Seq[String]]): Option[Claimed[Receipt]] = inner.claim(queues)
    def ack(c: Claimed[Receipt]): Unit = inner.ack(c)
    override def reset(): Unit = inner.reset()
    override def close(): Unit = inner.close()
  }

  /** A queue whose first `claim` throws an I/O error. */
  final class FailFirstClaim(queue: SharedQueue) extends Forwarding(queue) {
    @volatile var faults = 0
    override def claim(queues: Option[Seq[String]]): Option[Claimed[Receipt]] =
      if (faults == 0) { faults += 1; throw new java.io.IOException("injected claim fault") }
      else super.claim(queues)
  }

  /** A queue that claims one job and then finds every queue empty. */
  final class ClaimOnce(queue: SharedQueue) extends Forwarding(queue) {
    @volatile private var claimed = false
    override def claim(queues: Option[Seq[String]]): Option[Claimed[Receipt]] =
      if (claimed) None
      else { val c = super.claim(queues); claimed = c.isDefined; c }
  }

  /** A store that notes when each state was first written. */
  final class StampingStore(inner: JobStateStore) extends JobStateStore {
    private val first = new java.util.concurrent.ConcurrentHashMap[JobState.Value, java.lang.Long]()
    /** `System.nanoTime` of the first write of `st`, if it was written. */
    def at(st: JobState.Value): Option[Long] = Option(first.get(st)).map(_.longValue)
    private def stamp(st: JobState.Value): Unit = first.putIfAbsent(st, System.nanoTime): Unit
    def tryAdmit(id: String): Long = inner.tryAdmit(id)
    def epoch(id: String): Long = inner.epoch(id)
    def set(id: String, st: JobState.Value, count: Long, error: String): Unit = {
      inner.set(id, st, count, error); stamp(st)
    }
    def setIfPresent(id: String, st: JobState.Value, count: Long, error: String): Unit = {
      inner.setIfPresent(id, st, count, error); stamp(st)
    }
    def get(id: String): Option[JobStatus] = inner.get(id)
    def remove(id: String): Unit = inner.remove(id)
    def rollback(id: String): Unit = inner.rollback(id)
    def putGroup(groupId: String, jobIds: Seq[String]): Unit = inner.putGroup(groupId, jobIds)
    def groupJobIds(groupId: String): Option[Seq[String]] = inner.groupJobIds(groupId)
    def removeGroup(groupId: String): Unit = inner.removeGroup(groupId)
    def groupStatus(groupId: String): Option[GroupStatus] = inner.groupStatus(groupId)
    def snapshot: Map[String, JobStatus] = inner.snapshot
  }
}
