package graft

/** Job-distribution SPI — the seam where the reference plugs Redis.
  *
  * The reference is a *distributed* job server: N instances on N machines
  * share a tasqueue broker (Redis lists) and a state store (Redis hashes),
  * wired up in `cmd/init.go:200-229`; worker-only instances consume the same
  * queues (`cmd/main.go:73-75`). This port distributes the DATA plane through
  * Spark (one driver fans work out to executors), so a single process covers
  * the reference's throughput story — but the CONTROL plane (who owns the
  * queue and the job states) is a deployment choice that deserves the same
  * seam. These two traits are that seam:
  *
  *   - [[JobStateStore]] — job/group status + the atomic same-ID admission
  *     gate. Its `tryAdmit` must be atomic per ID and `epoch` monotonic per
  *     admission, which is all the scheduler relies on for its cancel/retry
  *     races. The in-memory [[StatusStore]] and the shared File and Redis
  *     stores are one [[LockedStore]] skeleton (ControlPlane.scala) over
  *     each backend's per-ID lock and storage primitives;
  *     [[JdbcJobStateStore]] admits with single statements (primary-key
  *     `INSERT`, conditional `UPDATE`). All four reduce groups with
  *     [[GroupStatus.reduce]].
  *   - [[JobBroker]] — enqueue/cancel/backlog. In-process impl:
  *     [[Scheduler]] (JVM thread pools per queue; Spark schedules the rest).
  *     A shared plane's impl is a [[QueueBroker]] over its [[SharedQueue]],
  *     whose jobs each worker process's [[ClaimLoop]] claims and runs on a
  *     local `Scheduler`.
  *
  * `GraftCore`/`Api`/`HttpApi` depend only on these traits, so a deployment
  * swaps the control plane without touching the API surface. The
  * single-process-vs-Redis topology trade is documented in
  * docs/MIGRATION.md ("Deployment topology").
  */
trait JobStateStore {
  /** Atomically admit `id`; returns the admission epoch, or -1 if the ID is
    * currently queued/running. Epochs are monotonic per ID so stale async
    * continuations (retry timers) can detect a cancel + re-admit. */
  def tryAdmit(id: String): Long
  def epoch(id: String): Long
  def set(id: String, st: JobState.Value, count: Long = -1, error: String = ""): Unit
  /** Conditional update: must be a no-op if the entry was removed (a worker
    * finishing concurrently with a cancel must not resurrect the job). */
  def setIfPresent(id: String, st: JobState.Value, count: Long = -1, error: String = ""): Unit
  def get(id: String): Option[JobStatus]
  /** Cancel: delete from the store AND remember the ID as canceled (group
    * reduction must distinguish canceled from never-admitted). */
  def remove(id: String): Unit
  /** Failed-enqueue rollback: drop the admission WITHOUT marking canceled. */
  def rollback(id: String): Unit
  def putGroup(groupId: String, jobIds: Seq[String]): Unit
  def groupJobIds(groupId: String): Option[Seq[String]]
  def removeGroup(groupId: String): Unit
  def groupStatus(groupId: String): Option[GroupStatus]
  def snapshot: Map[String, JobStatus]
}

trait JobBroker {
  /** Enqueue a validated job; false if the same ID is already queued/running. */
  def submit(job: Job, task: Task): Boolean
  /** Pending backlog for a queue, newest-first. */
  def pendingJobs(queue: String): Seq[String]
  def cancel(jobId: String, purge: Boolean, backends: SourcePool): Unit
  def cancelGroup(groupId: String, purge: Boolean, backends: SourcePool): Unit
  /** Block until this process's workers are idle (bounded); used by tests
    * and graceful drains. */
  def awaitQuiescence(timeoutMs: Long = 120000): Boolean
  def shutdown(): Unit
}
