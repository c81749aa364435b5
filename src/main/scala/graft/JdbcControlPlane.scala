package graft

import java.sql.{Connection, SQLException}

/** JDBC-backed control plane — the [[JobStateStore]] and the
  * [[SharedQueue]] over any network SQL database (the role the reference
  * fills with Redis, `cmd/init.go:200-229`).
  *
  * [[FileJobStateStore]]/[[FileQueue]] cover deployments with a shared
  * POSIX directory; this pair covers the topology they can't — API nodes and
  * worker nodes on different machines with nothing in common but a database
  * URL. Every contract the scheduler relies on maps to a single-statement
  * atomic primitive:
  *
  *   - `tryAdmit` exclusivity: the admission is a PRIMARY-KEY `INSERT` (one
  *     winner) or, for a finished entry, a conditional
  *     `UPDATE ... WHERE state IN (terminal)` (0 rows = somebody else holds
  *     the ID live) — the `SETNX` / `INSERT ON CONFLICT` shape. Only the winner bumps the epoch, so epochs stay monotonic
  *     per admission with no read-modify-write race.
  *   - queue claims: `UPDATE ... SET claimed_by WHERE seq = ? AND
  *     claimed_by IS NULL` — exactly one worker per row, the rename-claim of
  *     [[FileQueue]] as a conditional update. A `graft_queue` row
  *     keeps as columns only what this SQL filters on (`seq`, `job_id`,
  *     `queue`, `claimed_by`, `claimed_at`); the job itself is one
  *     [[JobWire]] `payload`.
  *   - dead-claimer recovery: PID liveness doesn't cross machines, so claims
  *     carry a lease timestamp; a claim past its lease whose store entry is
  *     still PENDING (claimer died between claim and execution) is returned
  *     to the queue by a conditional reset.
  *
  * The store is not a [[LockedStore]]: a lock around a read-modify-write
  * would be weaker than these single statements. It shares only the group
  * reduction ([[GroupStatus.reduce]]).
  *
  * Each statement runs on its own, in autocommit, through [[Jdbc]].
  * Tested against embedded Derby (the only JDBC engine in the sandbox);
  * the SQL sticks to the portable subset (no RETURNING, no ON CONFLICT),
  * so Postgres/MySQL URLs drop in. Wire-up: `[control] jdbc_url` mirrors
  * `[control] dir`.
  */
final class JdbcJobStateStore(url: String) extends JobStateStore {
  JdbcControlPlane.ensureSchema(url)

  private def withConn[A](f: Connection => A): A = Jdbc.withConn(url)(f)

  private val Live = JobState.values.toSeq.filter(JobState.isLive).map(_.toString)
  private val SetStatus = "UPDATE graft_jobs SET state = ?, jcount = ?, error = ? WHERE id = ?"

  override def tryAdmit(id: String): Long = withConn { c =>
    val admitted =
      try {
        Jdbc.update(c, "INSERT INTO graft_jobs(id, state, jcount, error) VALUES (?, ?, -1, '')",
          id, JobState.Pending.toString)
        true
      } catch {
        case e: SQLException if Jdbc.isDuplicateKey(e) =>
          // an entry exists: re-admit only a finished one (conditional CAS)
          Jdbc.update(c, "UPDATE graft_jobs SET state = ?, jcount = -1, error = '' " +
            s"WHERE id = ? AND state NOT IN (${Live.map(_ => "?").mkString(", ")})",
            (Seq(JobState.Pending.toString, id) ++ Live): _*) == 1
      }
    if (!admitted) -1L
    else {
      // only the admission winner reaches here — the bump cannot race itself
      if (bumpEpoch(c, id) == 0)
        try Jdbc.update(c, "INSERT INTO graft_meta(id, epoch, canceled) VALUES (?, 1, 0)", id)
        catch { case e: SQLException if Jdbc.isDuplicateKey(e) =>
          // lost a first-ever-admission race for a DIFFERENT id? Can't
          // happen for the same id (single winner) — but be safe and bump.
          bumpEpoch(c, id)
        }
      epochIn(c, id)
    }
  }

  private def bumpEpoch(c: Connection, id: String): Int =
    Jdbc.update(c, "UPDATE graft_meta SET epoch = epoch + 1, canceled = 0 WHERE id = ?", id)

  private def epochIn(c: Connection, id: String): Long =
    Jdbc.query(c, "SELECT epoch FROM graft_meta WHERE id = ?", id)(_.getLong(1))
      .headOption.getOrElse(0L)

  override def epoch(id: String): Long = withConn(epochIn(_, id))

  private def upsertStatus(c: Connection, id: String, st: JobState.Value,
      count: Long, error: String): Unit = {
    val err = error.take(4000)
    if (Jdbc.update(c, SetStatus, st.toString, count, err, id) == 0)
      try Jdbc.update(c, "INSERT INTO graft_jobs(id, state, jcount, error) VALUES (?, ?, ?, ?)",
        id, st.toString, count, err): Unit
      catch { case e: SQLException if Jdbc.isDuplicateKey(e) =>
        upsertStatus(c, id, st, count, error) // lost the insert race: update
      }
  }

  override def set(id: String, st: JobState.Value, count: Long, error: String): Unit =
    withConn(upsertStatus(_, id, st, count, error))

  override def setIfPresent(id: String, st: JobState.Value, count: Long, error: String): Unit =
    // 0 rows = removed: no-op
    withConn(Jdbc.update(_, SetStatus, st.toString, count, error.take(4000), id)): Unit

  override def get(id: String): Option[JobStatus] = withConn { c =>
    Jdbc.query(c, "SELECT state, jcount, error FROM graft_jobs WHERE id = ?", id)(r =>
      JobStatus(id, JobState.withName(r.getString(1)), r.getLong(2), r.getString(3))).headOption
  }

  override def remove(id: String): Unit = withConn { c =>
    // canceled marker lives in meta (survives the job-row delete)
    if (Jdbc.update(c, "UPDATE graft_meta SET canceled = 1 WHERE id = ?", id) == 0)
      try Jdbc.update(c, "INSERT INTO graft_meta(id, epoch, canceled) VALUES (?, 0, 1)", id): Unit
      catch { case e: SQLException if Jdbc.isDuplicateKey(e) => () }
    deleteJob(c, id)
  }

  override def rollback(id: String): Unit = withConn(deleteJob(_, id))

  private def deleteJob(c: Connection, id: String): Unit =
    Jdbc.update(c, "DELETE FROM graft_jobs WHERE id = ?", id): Unit

  override def putGroup(groupId: String, jobIds: Seq[String]): Unit = withConn { c =>
    deleteGroup(c, groupId)
    jobIds.zipWithIndex.foreach { case (id, i) =>
      Jdbc.update(c, "INSERT INTO graft_groups(group_id, idx, job_id) VALUES (?, ?, ?)",
        groupId, i, id)
    }
  }

  override def groupJobIds(groupId: String): Option[Seq[String]] = withConn { c =>
    Some(Jdbc.query(c, "SELECT job_id FROM graft_groups WHERE group_id = ? ORDER BY idx",
      groupId)(_.getString(1))).filter(_.nonEmpty)
  }

  override def removeGroup(groupId: String): Unit = withConn(deleteGroup(_, groupId))

  private def deleteGroup(c: Connection, groupId: String): Unit =
    Jdbc.update(c, "DELETE FROM graft_groups WHERE group_id = ?", groupId): Unit

  /** The shared [[GroupStatus.reduce]]; the cancel mark is `meta.canceled`,
    * looked up by ID for members with no job row. */
  override def groupStatus(groupId: String): Option[GroupStatus] =
    groupJobIds(groupId).map(GroupStatus.reduce(groupId, _, get, id => withConn(
      Jdbc.query(_, "SELECT canceled FROM graft_meta WHERE id = ?", id)(_.getInt(1))
        .headOption.contains(1))))

  override def snapshot: Map[String, JobStatus] = withConn { c =>
    Jdbc.query(c, "SELECT id, state, jcount, error FROM graft_jobs")(r =>
      r.getString(1) -> JobStatus(r.getString(1),
        JobState.withName(r.getString(2)), r.getLong(3), r.getString(4))).toMap
  }
}

/** The JDBC plane's [[SharedQueue]]: one `graft_queue` row per queued
  * attempt. A claim is `UPDATE ... SET claimed_by WHERE seq = ? AND
  * claimed_by IS NULL` — exactly one worker per row — stamped with a lease;
  * the receipt is the row's `seq`. */
final class JdbcQueue(url: String, claimLeaseMs: Long = ClaimLoop.DefaultClaimLeaseMs)
    extends SharedQueue {
  JdbcControlPlane.ensureSchema(url)
  type Receipt = Long
  private lazy val workerId =
    s"${java.net.InetAddress.getLocalHost.getHostName}-${ProcessHandle.current().pid()}-${System.nanoTime()}"

  private def withConn[A](f: Connection => A): A = Jdbc.withConn(url)(f)

  def publish(job: Job, epoch: Long, attempt: Int): Unit = withConn(Jdbc.update(_,
    "INSERT INTO graft_queue(job_id, queue, payload) VALUES (?, ?, ?)",
    job.id, job.queue, JobWire.encode(job, epoch, attempt))): Unit

  def pending(queue: String): Seq[String] = withConn(Jdbc.query(_,
    "SELECT job_id FROM graft_queue WHERE queue = ? AND claimed_by IS NULL " +
      "ORDER BY seq DESC", queue)(_.getString(1)))

  /** Delete the unclaimed row only. */
  def drop(jobId: String): Unit = withConn(Jdbc.update(_,
    "DELETE FROM graft_queue WHERE job_id = ? AND claimed_by IS NULL", jobId)): Unit

  /** No row, claimed or not: a claimed row is deleted once handed off. */
  def isEmpty: Boolean =
    withConn(Jdbc.query(_, "SELECT COUNT(*) FROM graft_queue")(_.getLong(1))).head == 0

  /** Claims whose owner died between claim and execution strand the job as
    * PENDING with nobody holding the row. PID liveness doesn't cross
    * machines, so the signal is (lease expired AND store entry still
    * PENDING) — an executing claim has moved its entry to STARTED, and a
    * finished one has deleted the row. The reset is conditional on the
    * exact (claimer, stamp) observed, so a live worker that just started
    * executing can't be double-claimed. */
  def recoverOrphans(store: JobStateStore): Unit = withConn { c =>
    val expired = Jdbc.query(c,
      "SELECT seq, job_id, claimed_by, claimed_at FROM graft_queue " +
        "WHERE claimed_by IS NOT NULL AND claimed_at < ?",
      System.currentTimeMillis - claimLeaseMs)(
      r => (r.getLong(1), r.getString(2), r.getString(3), r.getLong(4)))
    expired.foreach { case (seq, jobId, by, at) =>
      store.get(jobId) match {
        case Some(st) if st.state == JobState.Pending =>
          Jdbc.update(c, "UPDATE graft_queue SET claimed_by = NULL, claimed_at = NULL " +
            "WHERE seq = ? AND claimed_by = ? AND claimed_at = ?", seq, by, at)
        case Some(st) if JobState.isDone(st.state) =>
          // owner died AFTER execution completed but before deleting its
          // row: nobody will ever claim or delete it, and awaitQuiescence
          // counts every graft_queue row — reap it here (conditional on the
          // observed claim so a re-enqueued duplicate seq can't be hit)
          deleteClaimRow(c, seq, by, at)
        case None =>
          // job canceled (store entry purged) while the claim was held —
          // same leak, same reap
          deleteClaimRow(c, seq, by, at)
        case _ => () // Started/Retry: owner is (or may be) live past lease
      }
    }
  }

  private def deleteClaimRow(c: Connection, seq: Long, by: String, at: Long): Unit =
    Jdbc.update(c, "DELETE FROM graft_queue WHERE seq = ? AND claimed_by = ? AND claimed_at = ?",
      seq, by, at): Unit

  def claim(queues: Option[Seq[String]]): Option[Claimed[Long]] = withConn { c =>
    val filter =
      queues.map(qs => s" AND queue IN (${qs.map(_ => "?").mkString(",")})").getOrElse("")
    val next = Jdbc.query(c,
      s"SELECT MIN(seq) FROM graft_queue WHERE claimed_by IS NULL$filter",
      queues.getOrElse(Nil): _*) { r => val v = r.getLong(1); Option.when(!r.wasNull())(v) }
    next.headOption.flatten.flatMap { seq =>
      val won = Jdbc.update(c, "UPDATE graft_queue SET claimed_by = ?, claimed_at = ? " +
        "WHERE seq = ? AND claimed_by IS NULL", workerId, System.currentTimeMillis, seq) == 1
      if (!won) None // another worker raced us: next poll tries the next row
      else Jdbc.query(c, "SELECT payload FROM graft_queue WHERE seq = ?", seq)(_.getString(1))
        .headOption.flatMap(JobWire.decode)
        .map { case (job, epoch, attempt) => Claimed(job, epoch, attempt, seq) }
    }
  }

  def ack(c: Claimed[Long]): Unit =
    withConn(Jdbc.update(_, "DELETE FROM graft_queue WHERE seq = ?", c.receipt)): Unit
}

private[graft] object JdbcControlPlane {
  /** Create the four control-plane tables if absent; races between processes
    * are benign (duplicate-CREATE errors are swallowed). Types stick to the
    * SQL-92 subset Derby/Postgres/MySQL all accept. A `graft_queue` of the
    * old per-column layout (no `payload`) is refused, not migrated: its rows
    * are drained by the version that wrote them. */
  def ensureSchema(url: String): Unit = Jdbc.withConn(url) { c =>
    Seq(
      """CREATE TABLE graft_jobs(
             id VARCHAR(255) PRIMARY KEY,
             state VARCHAR(16) NOT NULL,
             jcount BIGINT NOT NULL,
             error VARCHAR(4000))""",
      """CREATE TABLE graft_meta(
             id VARCHAR(255) PRIMARY KEY,
             epoch BIGINT NOT NULL,
             canceled SMALLINT NOT NULL)""",
      """CREATE TABLE graft_groups(
             group_id VARCHAR(255) NOT NULL,
             idx INT NOT NULL,
             job_id VARCHAR(255) NOT NULL,
             PRIMARY KEY (group_id, idx))""",
      """CREATE TABLE graft_queue(
             seq BIGINT GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
             job_id VARCHAR(255) NOT NULL,
             queue VARCHAR(255) NOT NULL,
             payload VARCHAR(32672) NOT NULL,
             claimed_by VARCHAR(128),
             claimed_at BIGINT)""").foreach { sql =>
      try Jdbc.update(c, sql): Unit
      catch { case e: SQLException if Jdbc.isTableExists(e) => () }
    }
    try Jdbc.query(c, "SELECT payload FROM graft_queue WHERE 1 = 0")(_ => ()): Unit
    catch { case e: SQLException => throw new IllegalStateException(
      "graft_queue has the old per-column layout (no payload column): drain its " +
        "queued jobs with the version that wrote them, then DROP TABLE graft_queue; " +
        "the next start creates it anew", e)
    }
  }
}
