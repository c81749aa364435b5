package graft

import java.sql.{Connection, DriverManager, SQLException}

/** JDBC-backed control plane — the [[JobStateStore]] / [[JobBroker]] SPI
  * implementations over any network SQL database (the role the reference
  * fills with Redis, `cmd/init.go:200-229`).
  *
  * [[FileJobStateStore]]/[[FileQueueBroker]] cover deployments with a shared
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
  *     [[FileQueueWorker]] as a conditional update. A `graft_queue` row
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
  * Tested against embedded Derby (the only JDBC engine in the sandbox);
  * the SQL sticks to the portable subset (no RETURNING, no ON CONFLICT),
  * so Postgres/MySQL URLs drop in. Wire-up: `[control] jdbc_url` mirrors
  * `[control] dir`.
  */
final class JdbcJobStateStore(url: String) extends JobStateStore {
  JdbcControlPlane.ensureSchema(url)

  private def withConn[A](f: Connection => A): A = JdbcControlPlane.withConn(url)(f)

  private val Live = JobState.values.toSeq.filter(JobState.isLive).map(_.toString)

  override def tryAdmit(id: String): Long = withConn { c =>
    val admitted =
      try {
        val ps = c.prepareStatement(
          "INSERT INTO graft_jobs(id, state, jcount, error) VALUES (?, ?, -1, '')")
        ps.setString(1, id); ps.setString(2, JobState.Pending.toString)
        try { ps.executeUpdate(); true } finally ps.close()
      } catch {
        case e: SQLException if JdbcControlPlane.isDuplicateKey(e) =>
          // an entry exists: re-admit only a finished one (conditional CAS)
          val ps = c.prepareStatement(
            "UPDATE graft_jobs SET state = ?, jcount = -1, error = '' " +
              s"WHERE id = ? AND state NOT IN (${Live.map(_ => "?").mkString(", ")})")
          ps.setString(1, JobState.Pending.toString); ps.setString(2, id)
          Live.zipWithIndex.foreach { case (s, i) => ps.setString(i + 3, s) }
          try ps.executeUpdate() == 1 finally ps.close()
      }
    if (!admitted) -1L
    else {
      // only the admission winner reaches here — the bump cannot race itself
      val upd = c.prepareStatement(
        "UPDATE graft_meta SET epoch = epoch + 1, canceled = 0 WHERE id = ?")
      upd.setString(1, id)
      val bumped = try upd.executeUpdate() == 1 finally upd.close()
      if (!bumped) {
        val ins = c.prepareStatement(
          "INSERT INTO graft_meta(id, epoch, canceled) VALUES (?, 1, 0)")
        ins.setString(1, id)
        try ins.executeUpdate()
        catch { case e: SQLException if JdbcControlPlane.isDuplicateKey(e) =>
          // lost a first-ever-admission race for a DIFFERENT id? Can't
          // happen for the same id (single winner) — but be safe and bump.
          val u2 = c.prepareStatement(
            "UPDATE graft_meta SET epoch = epoch + 1, canceled = 0 WHERE id = ?")
          u2.setString(1, id)
          try u2.executeUpdate() finally u2.close()
        } finally ins.close()
      }
      epochIn(c, id)
    }
  }

  private def epochIn(c: Connection, id: String): Long = {
    val ps = c.prepareStatement("SELECT epoch FROM graft_meta WHERE id = ?")
    ps.setString(1, id)
    val rs = ps.executeQuery()
    try { if (rs.next()) rs.getLong(1) else 0L } finally { rs.close(); ps.close() }
  }

  override def epoch(id: String): Long = withConn(epochIn(_, id))

  private def upsertStatus(c: Connection, id: String, st: JobState.Value,
      count: Long, error: String): Unit = {
    val err = error.take(4000)
    val up = c.prepareStatement(
      "UPDATE graft_jobs SET state = ?, jcount = ?, error = ? WHERE id = ?")
    up.setString(1, st.toString); up.setLong(2, count); up.setString(3, err)
    up.setString(4, id)
    val n = try up.executeUpdate() finally up.close()
    if (n == 0) {
      val ins = c.prepareStatement(
        "INSERT INTO graft_jobs(id, state, jcount, error) VALUES (?, ?, ?, ?)")
      ins.setString(1, id); ins.setString(2, st.toString)
      ins.setLong(3, count); ins.setString(4, err)
      try ins.executeUpdate()
      catch { case e: SQLException if JdbcControlPlane.isDuplicateKey(e) =>
        upsertStatus(c, id, st, count, error) // lost the insert race: update
      } finally ins.close()
    }
  }

  override def set(id: String, st: JobState.Value, count: Long, error: String): Unit =
    withConn(upsertStatus(_, id, st, count, error))

  override def setIfPresent(id: String, st: JobState.Value, count: Long, error: String): Unit =
    withConn { c =>
      val up = c.prepareStatement(
        "UPDATE graft_jobs SET state = ?, jcount = ?, error = ? WHERE id = ?")
      up.setString(1, st.toString); up.setLong(2, count)
      up.setString(3, error.take(4000)); up.setString(4, id)
      try up.executeUpdate() finally up.close() // 0 rows = removed: no-op
    }

  override def get(id: String): Option[JobStatus] = withConn { c =>
    val ps = c.prepareStatement(
      "SELECT state, jcount, error FROM graft_jobs WHERE id = ?")
    ps.setString(1, id)
    val rs = ps.executeQuery()
    try {
      if (rs.next())
        Some(JobStatus(id, JobState.withName(rs.getString(1)), rs.getLong(2), rs.getString(3)))
      else None
    } finally { rs.close(); ps.close() }
  }

  override def remove(id: String): Unit = withConn { c =>
    // canceled marker lives in meta (survives the job-row delete)
    val up = c.prepareStatement("UPDATE graft_meta SET canceled = 1 WHERE id = ?")
    up.setString(1, id)
    val n = try up.executeUpdate() finally up.close()
    if (n == 0) {
      val ins = c.prepareStatement(
        "INSERT INTO graft_meta(id, epoch, canceled) VALUES (?, 0, 1)")
      ins.setString(1, id)
      try ins.executeUpdate()
      catch { case e: SQLException if JdbcControlPlane.isDuplicateKey(e) => () }
      finally ins.close()
    }
    val del = c.prepareStatement("DELETE FROM graft_jobs WHERE id = ?")
    del.setString(1, id)
    try del.executeUpdate() finally del.close()
  }

  override def rollback(id: String): Unit = withConn { c =>
    val del = c.prepareStatement("DELETE FROM graft_jobs WHERE id = ?")
    del.setString(1, id)
    try del.executeUpdate() finally del.close()
  }

  override def putGroup(groupId: String, jobIds: Seq[String]): Unit = withConn { c =>
    val del = c.prepareStatement("DELETE FROM graft_groups WHERE group_id = ?")
    del.setString(1, groupId)
    try del.executeUpdate() finally del.close()
    val ins = c.prepareStatement(
      "INSERT INTO graft_groups(group_id, idx, job_id) VALUES (?, ?, ?)")
    try jobIds.zipWithIndex.foreach { case (id, i) =>
      ins.setString(1, groupId); ins.setInt(2, i); ins.setString(3, id)
      ins.executeUpdate()
    } finally ins.close()
  }

  override def groupJobIds(groupId: String): Option[Seq[String]] = withConn { c =>
    val ps = c.prepareStatement(
      "SELECT job_id FROM graft_groups WHERE group_id = ? ORDER BY idx")
    ps.setString(1, groupId)
    val rs = ps.executeQuery()
    try {
      val ids = Iterator.continually(rs).takeWhile(_.next()).map(_.getString(1)).toList
      if (ids.isEmpty) None else Some(ids)
    } finally { rs.close(); ps.close() }
  }

  override def removeGroup(groupId: String): Unit = withConn { c =>
    val del = c.prepareStatement("DELETE FROM graft_groups WHERE group_id = ?")
    del.setString(1, groupId)
    try del.executeUpdate() finally del.close()
  }

  /** The shared [[GroupStatus.reduce]]; the cancel mark is `meta.canceled`,
    * looked up by ID for members with no job row. */
  override def groupStatus(groupId: String): Option[GroupStatus] =
    groupJobIds(groupId).map(GroupStatus.reduce(groupId, _, get, id => withConn { c =>
      val ps = c.prepareStatement("SELECT canceled FROM graft_meta WHERE id = ?")
      ps.setString(1, id)
      val rs = ps.executeQuery()
      try rs.next() && rs.getInt(1) == 1 finally { rs.close(); ps.close() }
    }))

  override def snapshot: Map[String, JobStatus] = withConn { c =>
    val ps = c.prepareStatement("SELECT id, state, jcount, error FROM graft_jobs")
    val rs = ps.executeQuery()
    try Iterator.continually(rs).takeWhile(_.next()).map { r =>
      r.getString(1) -> JobStatus(r.getString(1),
        JobState.withName(r.getString(2)), r.getLong(3), r.getString(4))
    }.toMap
    finally { rs.close(); ps.close() }
  }
}

/** API-node side: admit through the shared store, enqueue a row. */
final class JdbcQueueBroker(url: String, store: JobStateStore) extends BrokerBase(store) {
  JdbcControlPlane.ensureSchema(url)

  private def withConn[A](f: Connection => A): A = JdbcControlPlane.withConn(url)(f)

  protected def enqueue(job: Job, task: Task, epoch: Long): Unit =
    withConn(JdbcControlPlane.insertQueueRow(_, job, epoch, 1))

  override def pendingJobs(queue: String): Seq[String] = withConn { c =>
    val ps = c.prepareStatement(
      "SELECT job_id FROM graft_queue WHERE queue = ? AND claimed_by IS NULL " +
        "ORDER BY seq DESC")
    ps.setString(1, queue)
    val rs = ps.executeQuery()
    try Iterator.continually(rs).takeWhile(_.next()).map(_.getString(1)).toList
    finally { rs.close(); ps.close() }
  }

  /** Delete the unclaimed row only. */
  protected def dropQueued(jobId: String): Unit = withConn { c =>
    val del = c.prepareStatement(
      "DELETE FROM graft_queue WHERE job_id = ? AND claimed_by IS NULL")
    del.setString(1, jobId)
    try del.executeUpdate() finally del.close()
  }

  /** Any row, claimed or not: a claimed row is deleted once handed off. */
  protected def anyQueued: Boolean = withConn { c =>
    val ps = c.prepareStatement("SELECT COUNT(*) FROM graft_queue")
    val rs = ps.executeQuery()
    try { rs.next(); rs.getLong(1) > 0 } finally { rs.close(); ps.close() }
  }
}

/** Worker-process side: claims rows by conditional UPDATE and executes
  * them through the [[ClaimLoop]] against the shared store; claims whose
  * owner died between claim and execution are lease-recovered. */
final class JdbcQueueWorker(
    spark: org.apache.spark.sql.SparkSession,
    tasks: Map[String, Task],
    store: JobStateStore,
    url: String,
    queues: Option[Seq[String]] = None,
    pollMs: Long = ClaimLoop.DefaultPollMs,
    claimLeaseMs: Long = ClaimLoop.DefaultClaimLeaseMs)
  extends ClaimLoop(spark, tasks, store, new JdbcClaims(url, store, queues, claimLeaseMs),
    pollMs, "graft-jdbc-queue-worker")

/** The JDBC plane's claim primitive: `UPDATE ... SET claimed_by WHERE
  * seq = ? AND claimed_by IS NULL` — exactly one worker per row. The
  * receipt is the row's `seq`. */
private[graft] final class JdbcClaims(url: String, store: JobStateStore,
    queues: Option[Seq[String]], claimLeaseMs: Long) extends ClaimBackend {
  JdbcControlPlane.ensureSchema(url)
  type Receipt = Long
  private val workerId =
    s"${java.net.InetAddress.getLocalHost.getHostName}-${ProcessHandle.current().pid()}-${System.nanoTime()}"

  private def withConn[A](f: Connection => A): A = JdbcControlPlane.withConn(url)(f)

  private def queueFilter: String =
    queues.map(qs => s" AND queue IN (${qs.map(_ => "?").mkString(",")})").getOrElse("")

  /** Claims whose owner died between claim and execution strand the job as
    * PENDING with nobody holding the row. PID liveness doesn't cross
    * machines, so the signal is (lease expired AND store entry still
    * PENDING) — an executing claim has moved its entry to STARTED, and a
    * finished one has deleted the row. The reset is conditional on the
    * exact (claimer, stamp) observed, so a live worker that just started
    * executing can't be double-claimed. */
  def recoverOrphans(): Unit = withConn { c =>
    val sel = c.prepareStatement(
      "SELECT seq, job_id, claimed_by, claimed_at FROM graft_queue " +
        "WHERE claimed_by IS NOT NULL AND claimed_at < ?")
    sel.setLong(1, System.currentTimeMillis - claimLeaseMs)
    val rs = sel.executeQuery()
    val expired = try Iterator.continually(rs).takeWhile(_.next())
      .map(r => (r.getLong(1), r.getString(2), r.getString(3), r.getLong(4))).toList
    finally { rs.close(); sel.close() }
    expired.foreach { case (seq, jobId, by, at) =>
      store.get(jobId) match {
        case Some(st) if st.state == JobState.Pending =>
          val up = c.prepareStatement(
            "UPDATE graft_queue SET claimed_by = NULL, claimed_at = NULL " +
              "WHERE seq = ? AND claimed_by = ? AND claimed_at = ?")
          up.setLong(1, seq); up.setString(2, by); up.setLong(3, at)
          try up.executeUpdate() finally up.close()
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

  private def deleteClaimRow(c: Connection, seq: Long, by: String, at: Long): Unit = {
    val del = c.prepareStatement(
      "DELETE FROM graft_queue WHERE seq = ? AND claimed_by = ? AND claimed_at = ?")
    del.setLong(1, seq); del.setString(2, by); del.setLong(3, at)
    try del.executeUpdate() finally del.close()
  }

  def claim(): Option[Claimed[Long]] = withConn { c =>
    val sel = c.prepareStatement(
      s"SELECT MIN(seq) FROM graft_queue WHERE claimed_by IS NULL$queueFilter")
    queues.getOrElse(Nil).zipWithIndex.foreach { case (q, i) => sel.setString(i + 1, q) }
    val rs = sel.executeQuery()
    val seqOpt = try {
      if (rs.next()) { val v = rs.getLong(1); if (rs.wasNull()) None else Some(v) }
      else None
    } finally { rs.close(); sel.close() }
    seqOpt.flatMap { seq =>
      val up = c.prepareStatement(
        "UPDATE graft_queue SET claimed_by = ?, claimed_at = ? " +
          "WHERE seq = ? AND claimed_by IS NULL")
      up.setString(1, workerId); up.setLong(2, System.currentTimeMillis)
      up.setLong(3, seq)
      val won = try up.executeUpdate() == 1 finally up.close()
      if (!won) None // another worker raced us: next poll tries the next row
      else {
        val get = c.prepareStatement("SELECT payload FROM graft_queue WHERE seq = ?")
        get.setLong(1, seq)
        val r = get.executeQuery()
        try Option.when(r.next())(r.getString(1)).flatMap(JobWire.decode)
          .map { case (job, epoch, attempt) => Claimed(job, epoch, attempt, seq) }
        finally { r.close(); get.close() }
      }
    }
  }

  def ack(c: Claimed[Long]): Unit = withConn { conn =>
    val del = conn.prepareStatement("DELETE FROM graft_queue WHERE seq = ?")
    del.setLong(1, c.receipt)
    try del.executeUpdate() finally del.close()
  }

  def republish(job: Job, attempt: Int, epoch: Long): Unit =
    withConn(JdbcControlPlane.insertQueueRow(_, job, epoch, attempt))
}

private[graft] object JdbcControlPlane {
  def withConn[A](url: String)(f: Connection => A): A = {
    val c = DriverManager.getConnection(url)
    try f(c) finally c.close()
  }

  def insertQueueRow(c: Connection, job: Job, epoch: Long, attempt: Int): Unit = {
    val ps = c.prepareStatement(
      "INSERT INTO graft_queue(job_id, queue, payload) VALUES (?, ?, ?)")
    ps.setString(1, job.id); ps.setString(2, job.queue)
    ps.setString(3, JobWire.encode(job, epoch, attempt))
    try ps.executeUpdate() finally ps.close()
  }

  /** Create the four control-plane tables if absent; races between processes
    * are benign (duplicate-CREATE errors are swallowed). Types stick to the
    * SQL-92 subset Derby/Postgres/MySQL all accept. A `graft_queue` of the
    * old per-column layout (no `payload`) is refused, not migrated: its rows
    * are drained by the version that wrote them. */
  def ensureSchema(url: String): Unit = {
    val c = DriverManager.getConnection(url)
    try {
      val ddl = Seq(
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
             claimed_at BIGINT)""")
      ddl.foreach { sql =>
        val st = c.createStatement()
        try st.executeUpdate(sql)
        catch { case e: SQLException if isTableExists(e) => () }
        finally st.close()
      }
      val st = c.createStatement()
      try st.executeQuery("SELECT payload FROM graft_queue WHERE 1 = 0").close()
      catch { case e: SQLException => throw new IllegalStateException(
        "graft_queue has the old per-column layout (no payload column): drain its " +
          "queued jobs with the version that wrote them, then DROP TABLE graft_queue; " +
          "the next start creates it anew", e)
      } finally st.close()
    } finally c.close()
  }

  /** Duplicate-key: SQLState 23xxx (integrity violation) across engines. */
  def isDuplicateKey(e: SQLException): Boolean =
    Option(e.getSQLState).exists(_.startsWith("23"))

  /** Table-already-exists: Derby X0Y32; Postgres 42P07; MySQL 42S01; H2
    * 42S01/42101. ONLY these — the broader 42xxx class covers every syntax
    * error and access violation, and swallowing those in ensureSchema turns
    * a real DDL failure (permissions, reserved word on a new engine) into a
    * confusing table-not-found much later. */
  private def isTableExists(e: SQLException): Boolean =
    Option(e.getSQLState).exists(s =>
      s == "X0Y32" || s == "42P07" || s == "42S01" || s == "42101")
}
