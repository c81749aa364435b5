package graft

import java.io.File
import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, StandardCopyOption, StandardOpenOption}
import java.util.Properties
import scala.jdk.CollectionConverters._

/** Shared-directory [[JobStateStore]]: the first cross-process
  * implementation of the control-plane SPI (Spi.scala).
  *
  * N server/worker processes pointing at the same directory (local disk in
  * tests, NFS/EFS in a deployment) share job state the way the reference's
  * N instances share Redis hashes (`cmd/init.go:200-229`): admissions,
  * status, cancellation, and groups made by one process are visible to all.
  * This is deliberately the SIMPLEST durable shared store that honors the
  * SPI's contracts — a deployment with Redis/JDBC available implements the
  * same trait over `SETNX`/`INSERT ON CONFLICT` instead; the scheduler
  * relies only on the contracts, not the medium:
  *
  *   - `tryAdmit` atomicity: a per-ID advisory file lock (cross-process) +
  *     a per-JVM stripe lock (threads of one process can't both hold the
  *     same FileLock) bracket the read-modify-write, so exactly one caller
  *     per ID wins a round no matter how processes race.
  *   - epoch monotonicity: the admission counter lives in a metadata file
  *     that cancellation does NOT delete, so a cancel + re-admit always
  *     bumps — stale retry timers in ANY process see their epoch is old.
  *   - torn reads: state files are written to a temp name and atomically
  *     renamed into place, so readers see an old or a new file, never half.
  *
  * File layout per job ID (names carry an md5 suffix — IDs are
  * caller-supplied and may collide after sanitization):
  * `job_<safe>.props` (present ⇔ admitted entry; state/count/error),
  * `meta_<safe>.props` (epoch; survives cancel), `cancel_<safe>` (marker:
  * canceled, for the group reduction), `lock_<safe>` (advisory lock file),
  * `group_<safe>.props` (member IDs).
  */
final class FileJobStateStore(rootDir: File) extends JobStateStore {
  require(rootDir.isDirectory || rootDir.mkdirs(), s"cannot create $rootDir")

  private val root: Path = rootDir.toPath

  private def safe(id: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(id.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(10)
    id.replaceAll("[^A-Za-z0-9_-]", "_").take(64) + "_" + md
  }
  private def jobFile(id: String) = root.resolve(s"job_${safe(id)}.props")
  private def metaFile(id: String) = root.resolve(s"meta_${safe(id)}.props")
  private def cancelFile(id: String) = root.resolve(s"cancel_${safe(id)}")
  private def lockFile(id: String) = root.resolve(s"lock_${safe(id)}")
  private def groupFile(id: String) = root.resolve(s"group_${safe(id)}.props")

  /** Run `f` under the per-ID cross-process lock. The JVM-global stripe
    * (keyed on the lock file's absolute path — two stores over the same
    * directory in one JVM must share it, or `FileChannel.lock` throws
    * `OverlappingFileLockException`) serializes threads of THIS process;
    * the file lock serializes against other processes. */
  private def withLock[A](id: String)(f: => A): A = {
    val path = lockFile(id)
    FileJobStateStore.stripe(path.toAbsolutePath.toString).synchronized {
      val ch = FileChannel.open(path,
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try {
        val lk = ch.lock()
        try f finally lk.release()
      } finally ch.close()
    }
  }

  private def writeProps(p: Path, props: Properties): Unit = {
    val tmp = p.resolveSibling(p.getFileName.toString + s".tmp${ProcessHandle.current().pid()}")
    val out = Files.newOutputStream(tmp)
    try props.store(out, null) finally out.close()
    Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }

  private def readProps(p: Path): Option[Properties] =
    if (!Files.exists(p)) None
    else try {
      val in = Files.newInputStream(p)
      try { val props = new Properties(); props.load(in); Some(props) }
      finally in.close()
    } catch { case _: java.io.IOException => None } // vanished mid-read

  private def statusOf(id: String, props: Properties): JobStatus =
    JobStatus(id, JobState.withName(props.getProperty("state")),
      props.getProperty("count", "-1").toLong, props.getProperty("error", ""))

  private def writeStatus(id: String, st: JobState.Value, count: Long, error: String): Unit = {
    val props = new Properties()
    props.setProperty("id", id)
    props.setProperty("state", st.toString)
    props.setProperty("count", count.toString)
    props.setProperty("error", error)
    writeProps(jobFile(id), props)
  }

  override def tryAdmit(id: String): Long = withLock(id) {
    val running = readProps(jobFile(id)).exists(p =>
      JobState.isLive(JobState.withName(p.getProperty("state"))))
    if (running) -1L
    else {
      val next = epoch(id) + 1
      val meta = new Properties()
      meta.setProperty("epoch", next.toString)
      writeProps(metaFile(id), meta)
      Files.deleteIfExists(cancelFile(id))
      writeStatus(id, JobState.Pending, -1, "")
      next
    }
  }

  override def epoch(id: String): Long =
    readProps(metaFile(id)).map(_.getProperty("epoch", "0").toLong).getOrElse(0L)

  override def set(id: String, st: JobState.Value, count: Long, error: String): Unit =
    withLock(id) { writeStatus(id, st, count, error) }

  override def setIfPresent(id: String, st: JobState.Value, count: Long, error: String): Unit =
    withLock(id) {
      if (Files.exists(jobFile(id))) writeStatus(id, st, count, error)
    }

  override def get(id: String): Option[JobStatus] =
    readProps(jobFile(id)).map(statusOf(id, _))

  override def remove(id: String): Unit = withLock(id) {
    Files.createDirectories(root)
    try Files.createFile(cancelFile(id)) catch { case _: java.nio.file.FileAlreadyExistsException => () }
    Files.deleteIfExists(jobFile(id)): Unit
  }

  override def rollback(id: String): Unit = withLock(id) {
    Files.deleteIfExists(jobFile(id)): Unit
  }

  override def putGroup(groupId: String, jobIds: Seq[String]): Unit = {
    val props = new Properties()
    props.setProperty("n", jobIds.size.toString)
    jobIds.zipWithIndex.foreach { case (id, i) => props.setProperty(s"id.$i", id) }
    writeProps(groupFile(groupId), props)
  }

  override def groupJobIds(groupId: String): Option[Seq[String]] =
    readProps(groupFile(groupId)).map { p =>
      (0 until p.getProperty("n", "0").toInt).map(i => p.getProperty(s"id.$i"))
    }

  override def removeGroup(groupId: String): Unit =
    Files.deleteIfExists(groupFile(groupId)): Unit

  /** Same reduction lattice + canceled-member exclusion as [[StatusStore]]
    * (the contract is documented there); membership tests go to the files. */
  override def groupStatus(groupId: String): Option[GroupStatus] =
    groupJobIds(groupId).map { ids =>
      val sts = ids.flatMap(get)
      val unaccounted = ids.exists(id =>
        !Files.exists(jobFile(id)) && !Files.exists(cancelFile(id)))
      val state =
        if (sts.exists(_.state == JobState.Failure)) JobState.Failure
        else if (sts.nonEmpty && !unaccounted && sts.forall(_.state == JobState.Success)) JobState.Success
        else if (sts.exists(s => s.state == JobState.Started || s.state == JobState.Retry)) JobState.Started
        else JobState.Pending
      GroupStatus(groupId, state, sts)
    }

  override def snapshot: Map[String, JobStatus] = {
    val stream = Files.list(root)
    try stream.iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("job_") &&
        p.getFileName.toString.endsWith(".props"))
      .flatMap(p => readProps(p).map(props =>
        props.getProperty("id") -> statusOf(props.getProperty("id"), props)))
      .toMap
    finally stream.close()
  }
}

object FileJobStateStore {
  // JVM-global intra-process serialization per lock file (see withLock)
  private val stripes = Array.fill(64)(new Object)
  private def stripe(key: String): Object =
    stripes(math.floorMod(key.hashCode, stripes.length))
}
