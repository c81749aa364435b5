package graft

import java.io.File
import java.nio.file.{Files, Path}

/** The shared-directory control plane ([[FileQueue]] +
  * [[FileJobStateStore]]) under the [[ControlPlaneContract]]: store, broker
  * and worker instances are separate objects over the same directories. */
class FileQueueSpec extends ControlPlaneContract(Map(
    "run" -> "API core enqueues; a separate worker claims, executes, API sees SUCCESS",
    "dup" -> "duplicate ID is refused cross-process while queued/running",
    "cancel" -> "cancel before any worker claims: job never runs, backlog is empty",
    "orphan" -> "claims stranded by a dead worker are requeued and executed on restart",
    "notask" -> "a worker lacking the task marks the job FAILURE instead of losing it")) {

  protected def newPlane(): Plane = new FilePlane

  private final class FilePlane extends Plane {
    private val root = TempDirs.make("graft-fq").toFile
    private val stateDir = new File(root, "state")
    val queueDir = new File(root, "queue")
    private val layout = new FileQueue(queueDir)

    def store(): JobStateStore = new FileJobStateStore(stateDir)
    def queue(): SharedQueue = new FileQueue(queueDir)

    /** Move the queue file into `_claimed` under a PID that is not alive
      * on this host. */
    def strandClaim(job: Job): Unit = strandClaim(job, FileQueue.host): Unit

    def strandClaim(job: Job, host: String): Path = {
      val qdir = layout.queueDir(job.queue)
      val qfile = queueFiles(job).head
      Files.move(qfile, layout.claimedDir.resolve(
        s"${host}__${deadPid}__${qdir.getFileName}__${qfile.getFileName}"))
    }

    def claimsHeld(): Long = FileQueue.list(layout.claimedDir).size.toLong

    def queuedAttempt(job: Job): Option[Int] =
      queueFiles(job).flatMap(FileQueue.read).map(_._3).headOption

    private def queueFiles(job: Job): List[Path] =
      FileQueue.list(layout.queueDir(job.queue))
        .filter(_.getFileName.toString.endsWith(s"_${FsUtil.safe(job.id)}${FileQueue.Suffix}"))
  }

  private def deadPid: Int =
    Iterator.from(99999, -7).find(p => ProcessHandle.of(p.toLong).isEmpty).get

  test("a claim made on another host is left alone, even under a PID dead here") {
    val p = new FilePlane
    val fx = fixture()
    val store = p.store()
    val broker = p.broker(store)
    val job = fx.job("fq-foreign-claim")
    assert(broker.submit(job, fx.task))
    // host B's worker (whose PID means nothing here) is between its claim
    // rename and its ack
    val claimed = p.strandClaim(job, "other-host.example")
    val worker = p.worker(fx.tasks, p.store(), pollMs = 10)
    try {
      Thread.sleep(500) // many ticks, each running recoverOrphans
      assert(Files.exists(claimed), "a live worker took another host's claim")
      assert(p.claimsHeld() == 1)
      assert(store.get(job.id).exists(_.state == JobState.Pending))
      assert(!fx.ran(job.id))
    } finally { worker.stop(); broker.shutdown() }
  }

  test("reading a queue nobody posted to creates no directory") {
    val p = new FilePlane
    val broker = p.broker(p.store())
    try {
      def dirs = FileQueue.list(p.queueDir.toPath).toSet
      val before = dirs
      assert(broker.pendingJobs("never-used") == Nil)
      assert(dirs == before, "a pending-jobs read made a queue directory")
    } finally broker.shutdown()
  }
}
