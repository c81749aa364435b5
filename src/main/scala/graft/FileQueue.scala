package graft

import java.io.File
import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.LocalDateTime
import java.util.Properties
import scala.jdk.CollectionConverters._

/** Shared-directory job queue — the [[JobBroker]] half of the cross-process
  * control plane (the state half is [[FileJobStateStore]]).
  *
  * Reproduces the reference's API-node / worker-node split
  * (`cmd/main.go:73-75`, README's "workers across machines") without Redis:
  * an API process runs [[FileQueueBroker]] (admit → drop a claim file in
  * the queue directory), worker processes run [[FileQueueWorker]] (claim by
  * atomic rename — exactly-once per file — then execute through a local
  * [[Scheduler]] with the full retry/TTL/cancel machinery). Both sides
  * share a [[JobStateStore]] (e.g. [[FileJobStateStore]] over the same
  * root), so admission exclusivity, status, and cancellation are global:
  * a cancel issued on the API node deletes the store entry, and the
  * worker's pre-run checks (`runWithRetries`) observe it before starting.
  *
  * Honest limitation, documented: cancel-while-RUNNING cannot interrupt a
  * query executing in another process (no cross-process thread interrupt);
  * the running attempt completes or hits its TTL, and its final
  * `setIfPresent` is a no-op against the removed entry — state converges to
  * canceled, compute is not reclaimed. The reference has the same gap
  * unless the owning process consumes the cancel message itself.
  */
final class FileQueueBroker(queueRoot: File, store: JobStateStore) extends BrokerBase(store) {
  require(queueRoot.isDirectory || queueRoot.mkdirs(), s"cannot create $queueRoot")

  protected def enqueue(job: Job, task: Task, epoch: Long): Unit =
    FileQueue.publish(queueRoot, job, epoch, 1)

  /** Newest-first, like the reference's reversed pending listing. */
  override def pendingJobs(queue: String): Seq[String] =
    FileQueue.list(FileQueue.queueDir(queueRoot, queue))
      .filter(_.getFileName.toString.endsWith(".props"))
      .sortBy(_.getFileName.toString).reverse
      .flatMap(p => FileQueue.readJob(p).map(_._1.id))

  /** Delete the unclaimed queue file, if any (claimed files are gone). */
  protected def dropQueued(jobId: String): Unit =
    FileQueue.list(queueRoot.toPath).filter(Files.isDirectory(_)).foreach { qd =>
      FileQueue.list(qd).foreach { p =>
        if (p.getFileName.toString.endsWith(s"_${FileQueue.safe(jobId)}.props"))
          Files.deleteIfExists(p)
      }
    }

  /** Unclaimed files, and claims not yet handed to a scheduler. */
  protected def anyQueued: Boolean = {
    val stream = Files.walk(queueRoot.toPath)
    try stream.iterator().asScala.exists(_.getFileName.toString.endsWith(".props"))
    finally stream.close()
  }
}

/** Worker-process side: claims queue files by atomic rename and executes
  * them through the [[ClaimLoop]] against the SHARED state store.
  * `queues = None` consumes everything — the reference's `--worker-only`
  * with queue filters maps to `Some(...)`. */
final class FileQueueWorker(
    spark: org.apache.spark.sql.SparkSession,
    tasks: Map[String, Task],
    store: JobStateStore,
    queueRoot: File,
    queues: Option[Seq[String]] = None,
    pollMs: Long = ClaimLoop.DefaultPollMs)
  extends ClaimLoop(spark, tasks, store, new FileClaims(queueRoot, queues), pollMs,
    "graft-file-queue-worker")

/** The file plane's claim primitive: an atomic rename into `_claimed`,
  * named `<host>__<claimerPid>__<queueDir>__<file>` so a claim whose owner
  * died before executing it can be told from a live one. PID liveness only
  * means something on the claimer's own host, so a worker judges only the
  * claims made on its host and leaves every other host's claims alone. */
private[graft] final class FileClaims(queueRoot: File, queues: Option[Seq[String]])
    extends ClaimBackend {
  type Receipt = Path
  private val claimedDir = queueRoot.toPath.resolve("_claimed")
  Files.createDirectories(claimedDir)
  private val pid = ProcessHandle.current().pid()
  /** The current sweep's unclaimed files, oldest first per queue. */
  private var listed: Iterator[(Path, Path)] = Iterator.empty

  /** A claim whose owner died between claim and execution strands the job
    * as PENDING forever (the store entry is live but nobody holds the
    * file): move it back. Claims by live processes, and claims made on
    * other hosts, are left alone. */
  def recoverOrphans(): Unit =
    FileQueue.list(claimedDir).foreach { p =>
      p.getFileName.toString.split("__", 4) match {
        case Array(host, owner, qdir, rest) if host == FileQueue.host &&
            owner.nonEmpty && owner.forall(_.isDigit) &&
            ProcessHandle.of(owner.toLong).isEmpty =>
          val back = queueRoot.toPath.resolve(qdir).resolve(rest)
          Files.createDirectories(back.getParent)
          try Files.move(p, back, StandardCopyOption.ATOMIC_MOVE)
          catch { case _: java.io.IOException => () } // another worker won
        case _ => ()
      }
    }

  private def wantedQueue(dirName: String): Boolean =
    queues.forall(_.exists(q => FileQueue.safe(q) == dirName))

  def claim(): Option[Claimed[Path]] = {
    if (!listed.hasNext)
      listed = FileQueue.list(queueRoot.toPath).filter(p => Files.isDirectory(p) &&
          p != claimedDir && wantedQueue(p.getFileName.toString))
        .flatMap(qd => FileQueue.list(qd)
          .filter(_.getFileName.toString.endsWith(".props"))
          .sortBy(_.getFileName.toString).map(qd -> _))
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
      if (won) FileQueue.readJob(mine) match {
        case Some((job, epoch, attempt)) => return Some(Claimed(job, epoch, attempt, mine))
        case None => ()
      }
    }
    None
  }

  def ack(c: Claimed[Path]): Unit = Files.deleteIfExists(c.receipt): Unit

  def republish(job: Job, attempt: Int, epoch: Long): Unit =
    FileQueue.publish(queueRoot, job, epoch, attempt)
}

private[graft] object FileQueue {
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

  def queueDir(queueRoot: File, queue: String): Path =
    Files.createDirectories(queueRoot.toPath.resolve(safe(queue)))

  /** Drop a queue file for `attempt` of an admitted job. The name
    * (millis, per-JVM seq, pid) orders the backlog and never collides
    * across publishing processes. */
  def publish(queueRoot: File, job: Job, epoch: Long, attempt: Int): Unit = {
    val name = f"${System.currentTimeMillis()}%013d_${seq.incrementAndGet()}%06d_" +
      s"${ProcessHandle.current().pid()}_${safe(job.id)}.props"
    writeJob(queueDir(queueRoot, job.queue).resolve(name), job, epoch, attempt)
  }

  def safe(s: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(10)
    s.replaceAll("[^A-Za-z0-9_-]", "_").take(48) + "_" + md
  }

  def writeJob(p: Path, job: Job, epoch: Long, attempt: Int = 1): Unit = {
    val props = new Properties()
    props.setProperty("attempt", attempt.toString)
    props.setProperty("id", job.id)
    props.setProperty("task", job.taskName)
    props.setProperty("queue", job.queue)
    job.eta.foreach(e => props.setProperty("eta", e.toString))
    props.setProperty("retries", job.retries.toString)
    props.setProperty("ttlSec", job.ttlSec.toString)
    props.setProperty("nargs", job.args.size.toString)
    job.args.zipWithIndex.foreach { case (a, i) => props.setProperty(s"arg.$i", a) }
    job.db.foreach(props.setProperty("db", _))
    props.setProperty("epoch", epoch.toString)
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    val out = Files.newOutputStream(tmp)
    try props.store(out, null) finally out.close()
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE)
  }

  /** (job, admission epoch, attempt) — attempt is 1 on first publish and
    * N+1 on a cross-worker retry re-publish, so the claiming worker resumes
    * the retry budget where the failing worker left off. */
  def readJob(p: Path): Option[(Job, Long, Int)] =
    if (!Files.exists(p)) None
    else try {
      val in = Files.newInputStream(p)
      val props = new Properties()
      try props.load(in) finally in.close()
      val args = (0 until props.getProperty("nargs", "0").toInt)
        .map(i => props.getProperty(s"arg.$i"))
      Some((Job(
        props.getProperty("id"),
        props.getProperty("task"),
        props.getProperty("queue"),
        Option(props.getProperty("eta")).map(LocalDateTime.parse),
        props.getProperty("retries", "0").toInt,
        props.getProperty("ttlSec", "60").toInt,
        args,
        Option(props.getProperty("db"))),
        props.getProperty("epoch", "0").toLong,
        props.getProperty("attempt", "1").toInt))
    } catch { case _: Exception => None }
}
