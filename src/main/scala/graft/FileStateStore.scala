package graft

import java.io.File
import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, StandardCopyOption, StandardOpenOption}
import java.util.Properties
import scala.jdk.CollectionConverters._

/** Shared-directory [[JobStateStore]]: the [[LockedStore]] skeleton
  * (ControlPlane.scala) over files, which runs admission, cancel and the
  * group reduction; this class supplies only the storage.
  *
  * N server/worker processes pointing at the same directory (local disk in
  * tests, NFS/EFS in a deployment) share job state the way the reference's
  * N instances share Redis hashes (`cmd/init.go:200-229`): admissions,
  * status, cancellation, and groups made by one process are visible to all.
  *
  *   - the per-ID lock: an advisory file lock (cross-process) inside a
  *     per-JVM stripe lock (threads of one process can't both hold the
  *     same FileLock).
  *   - the epoch counter lives in a metadata file that cancellation does
  *     NOT delete.
  *   - torn reads: state files are written to a temp name and atomically
  *     renamed into place, so readers see an old or a new file, never half
  *     and never none.
  *
  * File layout per job ID (names carry an md5 suffix — IDs are
  * caller-supplied and may collide after sanitization):
  * `job_<safe>.props` (present ⇔ admitted entry; state/count/error),
  * `meta_<safe>.props` (epoch; survives cancel), `cancel_<safe>` (marker:
  * canceled, for the group reduction), `lock_<safe>` (advisory lock file),
  * `group_<safe>.props` (member IDs).
  */
final class FileJobStateStore(rootDir: File) extends LockedStore {
  require(rootDir.isDirectory || rootDir.mkdirs(), s"cannot create $rootDir")

  private val root: Path = rootDir.toPath

  import FsUtil.safe
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
  protected def locked[A](id: String)(f: => A): A = {
    val path = lockFile(id)
    LockedStore.stripe(path.toAbsolutePath.toString).synchronized {
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

  protected def write(s: JobStatus): Unit = {
    val props = new Properties()
    props.setProperty("id", s.jobId)
    props.setProperty("state", s.state.toString)
    props.setProperty("count", s.count.toString)
    props.setProperty("error", s.error)
    writeProps(jobFile(s.jobId), props)
  }

  protected def delete(id: String): Unit = Files.deleteIfExists(jobFile(id)): Unit

  protected def nextEpoch(id: String): Long = {
    val next = epoch(id) + 1
    val meta = new Properties()
    meta.setProperty("epoch", next.toString)
    writeProps(metaFile(id), meta)
    next
  }

  protected def markCanceled(id: String): Unit =
    try Files.createFile(cancelFile(id))
    catch { case _: java.nio.file.FileAlreadyExistsException => () }

  protected def clearCanceled(id: String): Unit = Files.deleteIfExists(cancelFile(id)): Unit
  protected def isCanceled(id: String): Boolean = Files.exists(cancelFile(id))

  override def epoch(id: String): Long =
    readProps(metaFile(id)).map(_.getProperty("epoch", "0").toLong).getOrElse(0L)

  override def get(id: String): Option[JobStatus] =
    readProps(jobFile(id)).map(statusOf(id, _))

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
