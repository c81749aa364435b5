package graft

import java.util.concurrent.atomic.AtomicInteger

/** Cross-process control plane over JDBC ([[JdbcJobStateStore]] /
  * [[JdbcQueue]]) — the deployment topology with
  * no shared filesystem — under the [[ControlPlaneContract]] and the
  * [[StateStoreContract]], plus its backend-only cases. Embedded Derby
  * stands in for the network database; every test drives independent
  * store/broker instances over the same URL the way two machines would.
  */
class JdbcControlPlaneSpec extends ControlPlaneContract(Map(
    "run" -> "API core enqueues over JDBC; a separate worker claims, executes, API sees SUCCESS",
    "dup" -> "duplicate ID is refused across brokers while queued",
    "cancel" -> "cancel before any worker claims: row gone, job never runs",
    "race" -> "setIfPresent is a no-op against a removed entry",
    "orphan" -> "expired claims whose owner died pre-execution are lease-recovered",
    "notask" -> "a worker lacking the task marks the job FAILURE instead of losing it"))
    with StateStoreContract {
  private val dbSeq = new AtomicInteger(0)

  private def freshUrl(): String =
    s"jdbc:derby:memory:graftctrl${dbSeq.incrementAndGet()};create=true"

  protected def withStores[A](f: (JobStateStore, JobStateStore) => A): A = {
    val url = freshUrl()
    f(new JdbcJobStateStore(url), new JdbcJobStateStore(url))
  }

  override protected def storeNames: Map[String, String] = Map(
    "race" -> "tryAdmit is atomic: 16 racing threads admit an ID exactly once",
    "epoch" -> "epoch survives cancellation (stale-timer detection)",
    "canceled" -> "group lattice: canceled members excluded, any failure dominates")

  protected def newPlane(): Plane = new Plane {
    private val url = freshUrl()
    def store(): JobStateStore = new JdbcJobStateStore(url)
    // a short lease, so the orphan case need not wait out the default
    def queue(): SharedQueue = new JdbcQueue(url, claimLeaseMs = 1000)

    /** Mark the row claimed by a dead host, with an ancient stamp. */
    def strandClaim(job: Job): Unit = Jdbc.withConn(url) { c =>
      val up = c.prepareStatement(
        "UPDATE graft_queue SET claimed_by = 'dead-host-1', claimed_at = ? WHERE job_id = ?")
      up.setLong(1, System.currentTimeMillis - 3600000L); up.setString(2, job.id)
      try assert(up.executeUpdate() == 1) finally up.close()
    }

    def claimsHeld(): Long = Jdbc.withConn(url) { c =>
      val rs = c.createStatement().executeQuery(
        "SELECT COUNT(*) FROM graft_queue WHERE claimed_by IS NOT NULL")
      try { rs.next(); rs.getLong(1) } finally rs.close()
    }

    def queuedAttempt(job: Job): Option[Int] = Jdbc.withConn(url) { c =>
      val ps = c.prepareStatement(
        "SELECT payload FROM graft_queue WHERE job_id = ? AND claimed_by IS NULL")
      ps.setString(1, job.id)
      try {
        val rs = ps.executeQuery()
        if (rs.next()) JobWire.decode(rs.getString(1)).map(_._3) else None
      } finally ps.close()
    }
  }

  test("expired claims with a terminal or purged store entry are reaped, not stranded") {
    val url = freshUrl()
    val tasks = fixture().tasks
    val store = new JdbcJobStateStore(url)
    val broker = new QueueBroker(new JdbcQueue(url), store)
    // job 1: owner died AFTER completing (store says Success, row never deleted)
    val j1 = JobFactory.make(JobReq("count_events", jobId = "jq-reap-done"), tasks("count_events"))
    assert(broker.submit(j1, tasks("count_events")))
    store.set("jq-reap-done", JobState.Success, 1)
    // job 2: canceled while claimed (store entry purged, row left behind)
    val j2 = JobFactory.make(JobReq("count_events", jobId = "jq-reap-gone"), tasks("count_events"))
    assert(broker.submit(j2, tasks("count_events")))
    store.remove("jq-reap-gone")
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val up = c.prepareStatement(
        "UPDATE graft_queue SET claimed_by = 'dead-host-2', claimed_at = ?")
      up.setLong(1, System.currentTimeMillis - 3600000L)
      assert(up.executeUpdate() == 2); up.close()
    } finally c.close()
    // without reaping, awaitQuiescence could never return true: both rows
    // stay in graft_queue forever (nobody re-claims a terminal/purged job)
    val worker = new ClaimLoop(spark, tasks, new JdbcJobStateStore(url),
      new JdbcQueue(url, claimLeaseMs = 1000), None, ClaimLoop.DefaultPollMs, "graft-jdbc-queue-worker")
    try assert(broker.awaitQuiescence(15000), "stranded claim rows were not reaped")
    finally worker.stop()
  }

  test("arg wire codec round-trips empty and delimiter-laden arg vectors") {
    val vectors = Seq(Seq.empty[String], Seq(""), Seq("", ""), Seq("a,b", "", "c%;="),
      Seq("plain"), Seq("x", "y z"), Seq("a\nb", "\n", "\u00fc\u6f22\ud83d\ude00"))
    val eta = Some(java.time.LocalDateTime.of(2030, 6, 7, 8, 9, 10, 123456000))
    for (v <- vectors; (eta, db) <- Seq((None, None), (eta, Some("db_b"))); retries <- Seq(0, 3)) {
      val job = Job("jw-1", "profit", "reports", eta, retries, 45, v, db)
      assert(JobWire.decode(JobWire.encode(job, 9L, 2)) == Some((job, 9L, 2)),
        s"round-trip broke for $job")
    }
    assert(JobWire.decode("") == None)
  }

  test("the job payload is byte-identical to the Redis queue payload it replaced") {
    val job = Job("golden-1", "profit", "reports",
      Some(java.time.LocalDateTime.of(2024, 3, 1, 12, 30, 5)), 2, 90,
      Seq("42", "a b,c", "\u00fc"), Some("db_a"))
    assert(JobWire.encode(job, 7L, 1) ==
      "golden-1\nprofit\nreports\n2024-03-01T12%3A30%3A05\n2\n90\ndb_a\n7\n1\n3\n" +
        "42\na+b%2Cc\n%C3%BC")
  }

  test("a graft_queue of the old per-column layout is refused with the fix") {
    val url = freshUrl()
    Jdbc.withConn(url) { c =>
      val st = c.createStatement()
      try st.executeUpdate(
        """CREATE TABLE graft_queue(
             seq BIGINT GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
             job_id VARCHAR(255) NOT NULL,
             queue VARCHAR(255) NOT NULL,
             task VARCHAR(255) NOT NULL,
             eta VARCHAR(40),
             retries INT NOT NULL,
             ttl INT NOT NULL,
             args VARCHAR(20000),
             db VARCHAR(255),
             epoch BIGINT NOT NULL,
             attempt INT DEFAULT 1 NOT NULL,
             claimed_by VARCHAR(128),
             claimed_at BIGINT)""")
      finally st.close()
    }
    val e = intercept[IllegalStateException](JdbcControlPlane.ensureSchema(url))
    assert(e.getMessage.contains("graft_queue") && e.getMessage.contains("DROP TABLE graft_queue"),
      e.getMessage)
  }

  test("queue-filtered worker consumes only its queues") {
    val url = freshUrl()
    val tasks = fixture().tasks
    val store = new JdbcJobStateStore(url)
    val broker = new QueueBroker(new JdbcQueue(url), store)
    val mk = (id: String) =>
      JobFactory.make(JobReq("count_events", jobId = id), tasks("count_events"))
    assert(broker.submit(mk("jq-f1"), tasks("count_events")))
    // a worker filtered to a queue nobody posts to must touch nothing
    val idle = new ClaimLoop(spark, tasks, new JdbcJobStateStore(url), new JdbcQueue(url),
      Some(Seq("other_queue")), ClaimLoop.DefaultPollMs, "graft-jdbc-queue-worker")
    try {
      Thread.sleep(400)
      assert(broker.pendingJobs("default") == Seq("jq-f1"), "filtered worker must not claim")
    } finally idle.stop()
    val right = new ClaimLoop(spark, tasks, new JdbcJobStateStore(url), new JdbcQueue(url),
      Some(Seq("default")), ClaimLoop.DefaultPollMs, "graft-jdbc-queue-worker")
    try assert(awaitDone(store, "jq-f1").exists(_.state == JobState.Success))
    finally right.stop()
  }
}
