package graft

import java.io.File
import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Shared-directory job queue — the queue half of the cross-process
  * control plane (the state half is [[FileJobStateStore]]).
  *
  * Reproduces the reference's API-node / worker-node split
  * (`cmd/main.go:73-75`, README's "workers across machines") without Redis:
  * the API node's [[QueueBroker]] admits and drops a queue file, whose
  * content is the [[JobWire]] payload, in the queue's directory; a worker's
  * [[ClaimLoop]] claims it by atomic rename — exactly-once per file — and
  * executes it through a local [[Scheduler]] with the full
  * retry/TTL/cancel machinery. Both sides share a [[JobStateStore]] (e.g.
  * [[FileJobStateStore]] over the same root), so admission exclusivity,
  * status, and cancellation are global: a cancel issued on the API node
  * deletes the store entry, the worker's pre-run checks (`runWithRetries`)
  * observe it before starting, and a running job is stopped on the
  * worker's next tick.
  *
  * A claim is an atomic rename into `_claimed`, named
  * `<host>__<claimerPid>__<queueDir>__<file>` so a claim whose owner died
  * before executing it can be told from a live one. PID liveness only means
  * something on the claimer's own host, so a worker judges only the claims
  * made on its host and leaves every other host's claims alone.
  */
final class FileQueue(root: File) extends SharedQueue {
  type Receipt = Path
  val claimedDir: Path = Files.createDirectories(root.toPath.resolve("_claimed"))
  private val pid = ProcessHandle.current().pid()
  /** The current sweep's unclaimed files, oldest first per queue. */
  private var listed: Iterator[(Path, Path)] = Iterator.empty

  /** `queue`'s directory, made by the first publish to it. */
  def queueDir(queue: String): Path = root.toPath.resolve(FsUtil.safe(queue))

  /** Drop a queue file for `attempt` of an admitted job: written under a
    * temporary name, then renamed into place, so a claimer never reads half
    * a file. The name (millis, per-JVM seq, pid) orders the backlog and
    * never collides across publishing processes. */
  def publish(job: Job, epoch: Long, attempt: Int): Unit = {
    val name = f"${System.currentTimeMillis()}%013d_${FileQueue.seq.incrementAndGet()}%06d_" +
      s"${pid}_${FsUtil.safe(job.id)}${FileQueue.Suffix}"
    val p = Files.createDirectories(queueDir(job.queue)).resolve(name)
    val tmp = p.resolveSibling(name + ".tmp")
    Files.writeString(tmp, JobWire.encode(job, epoch, attempt))
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Newest-first, like the reference's reversed pending listing. A queue
    * nobody has posted to has no directory, and this read makes none. */
  def pending(queue: String): Seq[String] = {
    val dir = queueDir(queue)
    if (!Files.isDirectory(dir)) Nil
    else jobFiles(dir).reverse.flatMap(p => FileQueue.read(p).map(_._1.id))
  }

  /** Delete the unclaimed queue file, if any (claimed files are gone). */
  def drop(jobId: String): Unit =
    FileQueue.list(root.toPath).filter(Files.isDirectory(_)).foreach { qd =>
      FileQueue.list(qd).foreach { p =>
        if (p.getFileName.toString.endsWith(s"_${FsUtil.safe(jobId)}${FileQueue.Suffix}"))
          Files.deleteIfExists(p)
      }
    }

  /** No unclaimed files, and no claims not yet handed to a scheduler. */
  def isEmpty: Boolean = {
    val stream = Files.walk(root.toPath)
    try !stream.iterator().asScala.exists(_.getFileName.toString.endsWith(FileQueue.Suffix))
    finally stream.close()
  }

  /** A claim whose owner died between claim and execution strands the job
    * as PENDING forever (the store entry is live but nobody holds the
    * file): move it back. Claims by live processes, and claims made on
    * other hosts, are left alone. */
  def recoverOrphans(store: JobStateStore): Unit =
    FileQueue.list(claimedDir).foreach { p =>
      p.getFileName.toString.split("__", 4) match {
        case Array(host, owner, qdir, rest) if host == FileQueue.host &&
            owner.nonEmpty && owner.forall(_.isDigit) &&
            ProcessHandle.of(owner.toLong).isEmpty =>
          val back = root.toPath.resolve(qdir).resolve(rest)
          Files.createDirectories(back.getParent)
          try Files.move(p, back, StandardCopyOption.ATOMIC_MOVE)
          catch { case _: java.io.IOException => () } // another worker won
        case _ => ()
      }
    }

  def claim(queues: Option[Seq[String]]): Option[Claimed[Path]] = {
    def wanted(dirName: String) = queues.forall(_.exists(q => FsUtil.safe(q) == dirName))
    if (!listed.hasNext)
      listed = FileQueue.list(root.toPath).filter(p => Files.isDirectory(p) &&
          p != claimedDir && wanted(p.getFileName.toString))
        .flatMap(qd => jobFiles(qd).map(qd -> _))
        .iterator
    while (listed.hasNext) {
      val (qd, p) = listed.next()
      // exactly one worker process wins the rename
      val mine = claimedDir.resolve(
        s"${FileQueue.host}__${pid}__${qd.getFileName}__${p.getFileName}")
      val won =
        try { Files.move(p, mine, StandardCopyOption.ATOMIC_MOVE); true }
        catch { case _: java.io.IOException => false }
      // a torn/foreign file stays in _claimed for autopsy
      if (won) FileQueue.read(mine) match {
        case Some((job, epoch, attempt)) => return Some(Claimed(job, epoch, attempt, mine))
        case None => ()
      }
    }
    None
  }

  def ack(c: Claimed[Path]): Unit = Files.deleteIfExists(c.receipt): Unit

  /** One queue directory's queue files, oldest first. */
  private def jobFiles(dir: Path): List[Path] =
    FileQueue.list(dir).filter(_.getFileName.toString.endsWith(FileQueue.Suffix))
      .sortBy(_.getFileName.toString)
}

private[graft] object FileQueue {
  /** A queue file's suffix: a file in any other format is never claimed or
    * counted. */
  val Suffix = ".job"
  private val seq = new java.util.concurrent.atomic.AtomicLong()

  /** This host's name as a claim-name field: no `_`, so never `__`. */
  lazy val host: String = {
    val name = try java.net.InetAddress.getLocalHost.getHostName
      catch { case _: java.net.UnknownHostException => sys.env.getOrElse("HOSTNAME", "") }
    Some(name.replaceAll("[^A-Za-z0-9.-]", "-")).filter(_.nonEmpty).getOrElse("localhost")
  }

  def list(dir: Path): List[Path] = {
    val stream = Files.list(dir)
    try stream.iterator().asScala.toList finally stream.close()
  }

  /** The queue file's job; None once it is gone (claimed or dropped). */
  def read(p: Path): Option[(Job, Long, Int)] =
    try JobWire.decode(Files.readString(p)) catch { case _: java.io.IOException => None }
}
