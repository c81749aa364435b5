package graft

import java.nio.file.Files
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import OpsFixture.spark

/** End-to-end job lifecycle through the library facade — the port of the
  * reference's client e2e suite (`client/client_test.go`): post jobs and
  * groups, poll state transitions, pending listing, cancellation, purge.
  */
class GraftCoreSpec extends AnyFunSuite {
  private def newCore(results: String =
      TempDirs.make("graft-e2e-results").toString): GraftCore = {
    val tasksDir = TempDirs.make("graft-e2e-tasks")
    Files.writeString(tasksDir.resolve("tasks.sql"),
      """-- name: get_profit_summary
        |-- queue: test
        |SELECT CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total,
        |       CAST(ts AS DATE) AS entry_date
        |FROM events WHERE user_id = $1 GROUP BY CAST(ts AS DATE) ORDER BY entry_date;
        |
        |-- name: get_profit_entries
        |-- queue: test
        |SELECT * FROM events WHERE user_id = $1;
        |
        |-- name: get_profit_entries_by_date
        |-- queue: test
        |SELECT * FROM events WHERE user_id = $1 AND ts > $2 AND ts < $3;
        |
        |-- name: slow_query
        |-- queue: slow
        |-- conc: 1
        |SELECT COUNT(*) AS n FROM lineitem a CROSS JOIN lineitem b CROSS JOIN lineitem c
        |WHERE a.l_quantity + b.l_quantity + c.l_quantity > $1;
        |
        |-- name: broken_query
        |SELECT no_such_column FROM events;
        |""".stripMargin)
    GraftCore(spark, Seq(tasksDir.toString),
      sources = Map("my_db" -> TestSpark.sf0001),
      resultBackends = Map("my_results" -> results))
  }

  private def await(core: GraftCore, id: String, timeoutMs: Long = 60000): JobStatus = {
    val deadline = System.currentTimeMillis + timeoutMs
    while (System.currentTimeMillis < deadline) {
      core.store.get(id) match {
        case Some(s) if s.state == JobState.Success || s.state == JobState.Failure => return s
        case _ => Thread.sleep(30)
      }
    }
    fail(s"job $id did not finish in ${timeoutMs}ms: ${core.store.get(id)}")
  }

  test("job end-to-end: enqueue → SUCCESS → materialized canonical result " +
       "(client_test.go:104-122 + server_test.go.bak:261-286)") {
    val core = newCore()
    val job = core.postJob(JobReq("get_profit_summary", jobId = "e2e-1", args = Seq("1")))
    assert(job.queue == "test")
    val st = await(core, job.id)
    assert(st.state == JobState.Success)
    assert(st.count > 0)
    val res = core.results(job.id)
    assert(res.count() == st.count)
    assert(res.schema("total").dataType == DoubleType)      // NUMERIC class
    assert(res.schema("entry_date").dataType == DateType)   // DATE
    core.shutdown()
  }

  test("a job matching no rows ends SUCCESS with count 0 and an empty " +
       "results_<id>, on the Parquet and the JDBC result backend") {
    val parquetRoot = TempDirs.make("graft-e2e-results").toString
    val derby = "jdbc:derby:memory:graftzerorows;create=true"
    for ((backend, rowsIn) <- Seq[(String, String => Long)](
        parquetRoot -> (id => spark.read.parquet(s"$parquetRoot/results_$id").count()),
        derby -> { id =>
          val conn = java.sql.DriverManager.getConnection(derby)
          try {
            val rs = conn.createStatement()
              .executeQuery(s"""SELECT COUNT(*) FROM "results_$id"""")
            rs.next(); rs.getLong(1)
          } finally conn.close()
        })) {
      val core = newCore(backend)
      try {
        val job = core.postJob(JobReq("get_profit_entries", args = Seq("-1")))
        val st = await(core, job.id)
        assert(st.state == JobState.Success, st.error)
        assert(st.count == 0L)
        assert(rowsIn(job.id) == 0L, s"results_${job.id} on $backend")
      } finally core.shutdown()
    }
  }

  test("args bind typed: range query with timestamps (test.postgres.sql:19-21)") {
    val core = newCore()
    val job = core.postJob(JobReq("get_profit_entries_by_date",
      args = Seq("1", "2024-01-01 00:00:00", "2024-06-01 00:00:00")))
    val st = await(core, job.id)
    assert(st.state == JobState.Success && st.count >= 0)
    core.shutdown()
  }

  test("in-process jobs share their task's generated code: new argument values compile nothing") {
    val core = newCore()
    def run(k: Int): Unit =
      assert(await(core, core.postJob(JobReq("get_profit_entries", args = Seq(k.toString))).id)
        .state == JobState.Success)
    run(1)
    val afterFirst = OpsFixture.codegenCompiles
    (2 to 4).foreach(run)
    assert(OpsFixture.codegenCompiles == afterFirst, "a job with a new argument value compiled code")
    core.shutdown()
  }

  test("failure path: bad column → FAILURE with error (getState, core.go:584-599)") {
    val core = newCore()
    val job = core.postJob(JobReq("broken_query"))
    val st = await(core, job.id)
    assert(st.state == JobState.Failure)
    assert(st.error.nonEmpty)
    core.shutdown()
  }

  test("duplicate running job ID is refused (core.go:332-339)") {
    val core = newCore()
    core.postJob(JobReq("slow_query", jobId = "dup-1", args = Seq("0"), ttlSec = 120))
    val e = intercept[IllegalStateException](
      core.postJob(JobReq("slow_query", jobId = "dup-1", args = Seq("0"))))
    assert(e.getMessage.contains("already queued or running"))
    core.deleteJob("dup-1") // cleanup: cancel the in-flight cross join
    core.shutdown()
  }

  test("cancel kills an in-flight job and removes it (core.go:244-271)") {
    val core = newCore()
    val job = core.postJob(JobReq("slow_query", jobId = "cancel-me", args = Seq("0"), ttlSec = 300))
    // wait for it to actually start
    val deadline = System.currentTimeMillis + 30000
    while (core.store.get(job.id).exists(_.state == JobState.Pending) &&
           System.currentTimeMillis < deadline) Thread.sleep(20)
    core.deleteJob(job.id)
    intercept[NoSuchElementException](core.getJobStatus(job.id))
    // the worker slot frees up again (the spark job group was interrupted)
    assert(core.scheduler.awaitQuiescence(60000), "worker did not free after cancel")
    core.shutdown()
  }

  test("TTL cancels overlong jobs (core.go:354-357)") {
    val core = newCore()
    val job = core.postJob(JobReq("slow_query", args = Seq("0"), ttlSec = 2))
    val deadline = System.currentTimeMillis + 90000
    var st = core.store.get(job.id)
    while (st.exists(s => s.state == JobState.Pending || s.state == JobState.Started) &&
           System.currentTimeMillis < deadline) { Thread.sleep(50); st = core.store.get(job.id) }
    assert(st.exists(_.state == JobState.Failure), s"expected TTL failure, got $st")
    core.shutdown()
  }

  test("retries re-attempt a failing job and succeed once the source heals") {
    // source dir starts without events.parquet: every attempt fails at
    // analysis until the test drops the file in during a RETRY backoff
    val srcDir = TempDirs.make("graft-retry-src")
    Files.copy(java.nio.file.Path.of(TestSpark.sf0001, "region.parquet"),
      srcDir.resolve("region.parquet"))
    val tasksDir = TempDirs.make("graft-retry-tasks")
    Files.writeString(tasksDir.resolve("t.sql"),
      "-- name: n_events\nSELECT COUNT(*) AS n FROM events;\n")
    val results = TempDirs.make("graft-retry-res").toString
    val core = GraftCore(spark, Seq(tasksDir.toString),
      sources = Map("db" -> srcDir.toString),
      resultBackends = Map("res" -> results))
    val job = core.postJob(JobReq("n_events", retries = 8))
    // wait until at least one failed attempt has been recorded as RETRY
    val deadline = System.currentTimeMillis + 60000
    var sawRetry = false
    while (!sawRetry && System.currentTimeMillis < deadline) {
      sawRetry = core.store.get(job.id).exists(_.state == JobState.Retry)
      if (!sawRetry) Thread.sleep(10)
    }
    assert(sawRetry, s"never observed RETRY: ${core.store.get(job.id)}")
    // heal the source mid-backoff; a later attempt must succeed
    Files.copy(java.nio.file.Path.of(TestSpark.sf0001, "events.parquet"),
      srcDir.resolve("events.parquet"))
    val st = await(core, job.id)
    assert(st.state == JobState.Success, st.toString)
    assert(st.count == 1L) // one row: the COUNT(*) aggregate
    assert(core.results(job.id).head.getLong(0) == 1000L)
    core.shutdown()
  }

  test("retry exhaustion lands FAILURE after retries+1 attempts") {
    val core = newCore()
    val job = core.postJob(JobReq("broken_query", retries = 2))
    val st = await(core, job.id)
    assert(st.state == JobState.Failure)
    assert(st.error.nonEmpty)
    core.shutdown()
  }

  test("groups fan out and reduce state (core.go:107-147, 207-241)") {
    val core = newCore()
    val (gid, jobs) = core.postJobGroup("grp-1", Seq(
      JobReq("get_profit_summary", args = Seq("1")),
      JobReq("get_profit_entries", args = Seq("2")),
      JobReq("get_profit_entries_by_date",
        args = Seq("3", "2024-01-01 00:00:00", "2024-12-01 00:00:00"))))
    assert(gid == "grp-1" && jobs.size == 3)
    jobs.foreach(j => await(core, j.id))
    val g = core.getGroupStatus(gid)
    assert(g.state == JobState.Success && g.jobs.size == 3)
    core.shutdown()
  }

  test("cancelling a mixed-state group cancels running members, drops done ones") {
    val core = newCore()
    val (gid, _) = core.postJobGroup("grp-mixed", Seq(
      JobReq("get_profit_entries", jobId = "gm-fast", args = Seq("1")),
      JobReq("slow_query", jobId = "gm-slow", args = Seq("0"), ttlSec = 300)))
    await(core, "gm-fast") // fast member completes; slow one keeps running
    core.deleteGroup(gid)  // must NOT throw on the completed member
    intercept[NoSuchElementException](core.getJobStatus("gm-fast"))
    intercept[NoSuchElementException](core.getJobStatus("gm-slow"))
    intercept[NoSuchElementException](core.getGroupStatus(gid))
    assert(core.scheduler.awaitQuiescence(60000))
    core.shutdown()
  }

  test("pending listing is newest-first (core.go:156-159)") {
    val core = newCore()
    // conc=1 'slow' queue: first job occupies the worker, rest stay pending
    core.postJob(JobReq("slow_query", jobId = "p0", args = Seq("0"), ttlSec = 120))
    Thread.sleep(200) // let p0 leave the backlog and start
    core.postJob(JobReq("slow_query", jobId = "p1", args = Seq("0")))
    core.postJob(JobReq("slow_query", jobId = "p2", args = Seq("0")))
    assert(core.getPendingJobs("slow") == Seq("p2", "p1"))
    core.deleteJob("p1"); core.deleteJob("p2"); core.deleteJob("p0")
    core.shutdown()
  }

  test("purge deletes the materialized result dir (CancelJob purge flag)") {
    val core = newCore()
    val job = core.postJob(JobReq("get_profit_summary", jobId = "purge-1", args = Seq("1")))
    await(core, job.id)
    val dir = new java.io.File(DirResults(core.resultBackends.sources.values.head).path(job.id))
    assert(dir.exists())
    // completed job: cancel without purge must refuse (core.go:252-254)
    intercept[IllegalStateException](core.deleteJob(job.id))
    core.deleteJob(job.id, purge = true)
    assert(!dir.exists())
    core.shutdown()
  }

  test("per-task concurrency limits tasks, not the queue (core.go:437-440)") {
    val tasksDir = TempDirs.make("conc-tasks")
    Files.writeString(tasksDir.resolve("t.sql"),
      """-- name: quick
        |-- queue: mixed
        |SELECT 1 AS ok;
        |
        |-- name: slow_serial
        |-- queue: mixed
        |-- conc: 1
        |SELECT graft_sleep(1200) AS ok;
        |""".stripMargin)
    val out = TempDirs.make("conc-out").toString
    val core = GraftCore(spark, Seq(tasksDir.toString),
      Map("db" -> TestSpark.sf0001), Map("res" -> out))
    val t0 = System.currentTimeMillis
    // pin the 'mixed' queue pool with the quick task first (conc 10)
    core.postJob(JobReq("quick", jobId = "q0"))
    core.postJob(JobReq("slow_serial", jobId = "s1", ttlSec = 60))
    core.postJob(JobReq("slow_serial", jobId = "s2", ttlSec = 60))
    core.postJob(JobReq("quick", jobId = "q1"))
    await(core, "q1", 30000) // quick task flows while slow ones hold slots
    assert(System.currentTimeMillis - t0 < 20000)
    await(core, "s1"); await(core, "s2")
    // two conc-1 jobs of 1.2s each must have serialized
    assert(System.currentTimeMillis - t0 >= 2400,
      s"slow_serial jobs overlapped: ${System.currentTimeMillis - t0}ms")
    core.shutdown()
  }

  test("ETA delays execution (core.go:359-367)") {
    val core = newCore()
    val eta = java.time.LocalDateTime.now.plusSeconds(2)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
    val t0 = System.currentTimeMillis
    val job = core.postJob(JobReq("get_profit_entries", args = Seq("1"), eta = Some(eta)))
    val st = await(core, job.id)
    assert(st.state == JobState.Success)
    assert(System.currentTimeMillis - t0 >= 1000, "job ran before its ETA")
    core.shutdown()
  }

  test("listTasks: names by default, SQL on request (documented deviation)") {
    val core = newCore()
    assert(core.listTasks().left.exists(_.contains("slow_query")))
    assert(core.listTasks(withSql = true).exists(_("get_profit_entries").contains("SELECT *")))
    core.shutdown()
  }

  test("control-plane SPI: a custom JobStateStore plugs in behind the facade") {
    // delegating store standing in for a shared (Redis/JDBC) impl — proves
    // the scheduler/facade run against the trait, not the concrete class
    class CountingStore extends JobStateStore {
      val inner = new StatusStore
      val admits = new java.util.concurrent.atomic.AtomicInteger
      def tryAdmit(id: String): Long = { admits.incrementAndGet(); inner.tryAdmit(id) }
      def epoch(id: String): Long = inner.epoch(id)
      def set(id: String, st: JobState.Value, count: Long, error: String): Unit =
        inner.set(id, st, count, error)
      def setIfPresent(id: String, st: JobState.Value, count: Long, error: String): Unit =
        inner.setIfPresent(id, st, count, error)
      def get(id: String): Option[JobStatus] = inner.get(id)
      def remove(id: String): Unit = inner.remove(id)
      def rollback(id: String): Unit = inner.rollback(id)
      def putGroup(groupId: String, jobIds: Seq[String]): Unit = inner.putGroup(groupId, jobIds)
      def groupJobIds(groupId: String): Option[Seq[String]] = inner.groupJobIds(groupId)
      def removeGroup(groupId: String): Unit = inner.removeGroup(groupId)
      def groupStatus(groupId: String): Option[GroupStatus] = inner.groupStatus(groupId)
      def snapshot: Map[String, JobStatus] = inner.snapshot
    }
    val counting = new CountingStore
    val base = newCore()
    val core = new GraftCore(spark, base.tasks, base.sources, base.resultBackends,
      mkStore = () => counting)
    val job = core.postJob(JobReq("get_profit_entries", args = Seq("1")))
    assert(await(core, job.id).state == JobState.Success)
    assert(counting.admits.get() == 1, "facade must route admission through the SPI store")
    core.shutdown(); base.shutdown()
  }

  /** A core over one tasks file and the given directory sources. */
  private def coreOver(tasksSql: String, sources: Map[String, String]): GraftCore = {
    val tasksDir = TempDirs.make("graft-session-tasks")
    Files.writeString(tasksDir.resolve("t.sql"), tasksSql)
    GraftCore(spark, Seq(tasksDir.toString), sources,
      Map("res" -> TempDirs.make("graft-session-res").toString))
  }

  /** A source directory holding only `events.parquet`, copied from `from`. */
  private def eventsDir(from: String): java.nio.file.Path = {
    val dir = TempDirs.make("graft-session-src")
    Files.copy(java.nio.file.Path.of(from, "events.parquet"), dir.resolve("events.parquet"))
    dir
  }

  private def eventRows(dir: String): Long =
    spark.read.parquet(s"$dir/events.parquet").count()

  test("a filter-only task's job group runs exactly one Spark job: the write") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val core = newCore()
    try {
      // warm the source's table plan: its footer read is paid once per file
      await(core, core.postJob(JobReq("get_profit_entries", args = Seq("1"))).id)
      val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val listener = new SparkListener {
        override def onJobStart(js: SparkListenerJobStart): Unit =
          if (Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == "one-job"))
            sites.add(js.stageInfos.map(_.name).mkString(" | "))
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val st = await(core, core.postJob(
          JobReq("get_profit_entries", jobId = "one-job", args = Seq("2"))).id)
        assert(st.state == JobState.Success, st.error)
        assert(st.count == core.results("one-job").count())
        Thread.sleep(500) // listener bus settle
      } finally spark.sparkContext.removeSparkListener(listener)
      val jobs = scala.jdk.CollectionConverters.IteratorHasAsScala(sites.iterator()).asScala.toSeq
      assert(jobs.size == 1 && jobs.head.contains("parquet at"), s"Spark jobs: $jobs")
    } finally core.shutdown()
  }

  test("command tasks fail and leave the server session's conf and temp views unchanged") {
    val core = coreOver(
      """-- name: set_conf
        |-- raw: 1
        |SET spark.sql.shuffle.partitions=3;
        |
        |-- name: temp_view
        |-- raw: 1
        |CREATE TEMPORARY VIEW v AS SELECT 1;
        |""".stripMargin, Map("db" -> TestSpark.sf0001))
    def tempViews = spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
    val partitions = spark.conf.get("spark.sql.shuffle.partitions")
    val views = tempViews
    try for (task <- Seq("set_conf", "temp_view")) {
      val st = await(core, core.postJob(JobReq(task)).id)
      assert(st.state == JobState.Failure, s"$task: $st")
      assert(st.error.contains("only queries run as jobs"), s"$task: ${st.error}")
    } finally core.shutdown()
    assert(spark.conf.get("spark.sql.shuffle.partitions") == partitions)
    assert(tempViews == views)
  }

  test("concurrent jobs pinned to two directory sources each count their own source") {
    val small = eventsDir(TestSpark.sf0001)
    val large = eventsDir(TestSpark.sf001)
    val expected = Map("small" -> eventRows(small.toString), "large" -> eventRows(large.toString))
    assert(expected("small") != expected("large"))
    val core = coreOver(
      """-- name: all_events
        |-- conc: 8
        |SELECT * FROM events;
        |""".stripMargin, Map("small" -> small.toString, "large" -> large.toString))
    try {
      val jobs = (0 until 8).map { i =>
        val db = if (i % 2 == 0) "small" else "large"
        db -> core.postJob(JobReq("all_events", jobId = s"pinned-$i", db = Some(db)))
      }
      for ((db, job) <- jobs) {
        val st = await(core, job.id)
        assert(st.state == JobState.Success, st.error)
        assert(st.count == expected(db), s"${job.id} on $db")
      }
    } finally core.shutdown()
  }

  test("a self-join with a CTE and an IN subquery over events matches a hand count") {
    val core = coreOver(
      """-- name: buyer_pairs
        |WITH buyers AS (SELECT user_id FROM events WHERE event_type = 'purchase')
        |SELECT a.user_id, COUNT(*) AS pairs
        |FROM events a JOIN events b ON a.user_id = b.user_id AND a.event_id < b.event_id
        |WHERE a.user_id IN (SELECT user_id FROM buyers)
        |GROUP BY a.user_id;
        |""".stripMargin, Map("db" -> TestSpark.sf0001))
    try {
      val job = core.postJob(JobReq("buyer_pairs"))
      assert(await(core, job.id).state == JobState.Success)
      val got = core.results(job.id).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val events = spark.read.parquet(s"${TestSpark.sf0001}/events.parquet")
        .select("user_id", "event_type").collect().map(r => (r.getLong(0), r.getString(1)))
      val buyers = events.collect { case (u, "purchase") => u }.toSet
      val expected = events.groupBy(_._1).collect {
        case (u, es) if buyers(u) => u -> es.length.toLong * (es.length - 1) / 2
      }
      assert(expected.nonEmpty && got == expected)
    } finally core.shutdown()
  }

  test("a source's events.parquet rewritten between two jobs: the second job sees the new file") {
    val src = eventsDir(TestSpark.sf0001)
    val core = coreOver(
      """-- name: all_events
        |SELECT * FROM events;
        |""".stripMargin, Map("db" -> src.toString))
    try {
      val first = await(core, core.postJob(JobReq("all_events")).id)
      assert(first.state == JobState.Success && first.count == eventRows(TestSpark.sf0001))
      Files.copy(java.nio.file.Path.of(TestSpark.sf001, "events.parquet"),
        src.resolve("events.parquet"), java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      val second = await(core, core.postJob(JobReq("all_events")).id)
      assert(second.state == JobState.Success, second.error)
      assert(second.count == eventRows(TestSpark.sf001))
    } finally core.shutdown()
  }

  test("an argument binds as a value, never as SQL text: 10-$1 with -7 is 17") {
    // as text the job ran `SELECT 10--7 AS v`, and `--` began a comment
    val core = coreOver("-- name: minus\nSELECT 10-$1 AS v;\n", Map("db" -> TestSpark.sf0001))
    try {
      val job = core.postJob(JobReq("minus", args = Seq("-7")))
      val st = await(core, job.id)
      assert(st.state == JobState.Success, st.error)
      assert(core.results(job.id).collect().map(_.getLong(0)).toSeq == Seq(17L))
    } finally core.shutdown()
  }

  test("placeholders bind in a CTE body, an IN subquery and a scalar subquery; " +
       "a missing argument or a broken raw task fails its job") {
    val core = coreOver(
      """-- name: nested
        |WITH mine AS (SELECT * FROM events WHERE user_id = $1)
        |SELECT COUNT(*) AS n, '$1 ?' AS q, -- $9 ?
        |       (SELECT COUNT(*) FROM events WHERE user_id = $1) AS again /* ? $9 */
        |FROM mine
        |WHERE event_type IN (SELECT event_type FROM events WHERE user_id = $2);
        |
        |-- name: ordered
        |SELECT COUNT(*) AS n FROM events WHERE user_id = ? AND event_type = ?;
        |
        |-- name: broken_raw
        |-- raw: 1
        |SELEKT nope FROM;
        |
        |-- name: misplaced_raw
        |-- raw: 1
        |SELECT current_date - INTERVAL $1 DAY AS d;
        |""".stripMargin, Map("db" -> TestSpark.sf0001))
    val events = spark.read.parquet(s"${TestSpark.sf0001}/events.parquet")
      .select("user_id", "event_type").collect().map(r => (r.getLong(0), r.getString(1)))
    val (u1, u2) = (events.head._1, events.find(_._1 != events.head._1).get._1)
    val types2 = events.collect { case (`u2`, t) => t }.toSet
    val mine = events.filter(_._1 == u1)
    try {
      val nested = await(core, core.postJob(
        JobReq("nested", jobId = "nested", args = Seq(u1.toString, u2.toString))).id)
      assert(nested.state == JobState.Success, nested.error)
      val row = core.results("nested").head
      assert(row.getLong(0) == mine.count(e => types2(e._2)))
      assert(row.getString(1) == "$1 ?")
      assert(row.getLong(2) == mine.length)
      val t = mine.head._2
      val ordered = await(core, core.postJob(
        JobReq("ordered", jobId = "ordered", args = Seq(u1.toString, t))).id)
      assert(ordered.state == JobState.Success, ordered.error)
      assert(core.results("ordered").head.getLong(0) == mine.count(_._2 == t))
      val missing = await(core, core.postJob(JobReq("ordered", args = Seq(u1.toString))).id)
      assert(missing.state == JobState.Failure)
      assert(missing.error.contains("missing argument for placeholder"), missing.error)
      val raw = await(core, core.postJob(JobReq("broken_raw")).id)
      assert(raw.state == JobState.Failure)
      assert(raw.error.contains("PARSE_SYNTAX_ERROR"), raw.error)
      val misplaced = await(core, core.postJob(JobReq("misplaced_raw", args = Seq("3"))).id)
      assert(misplaced.state == JobState.Failure)
      assert(misplaced.error.contains("placeholder $1 of task misplaced_raw") &&
        !misplaced.error.contains(":_1"), misplaced.error)
    } finally core.shutdown()
  }

  test("8 concurrent jobs of one task with distinct arguments each count their own rows") {
    val perUser = spark.read.parquet(s"${TestSpark.sf0001}/events.parquet")
      .groupBy("user_id").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val users = perUser.toSeq.sortBy(_._1).map(_._1).take(8)
    assert(users.size == 8 && users.map(perUser).distinct.size > 1)
    val core = coreOver(
      """-- name: by_user
        |-- conc: 8
        |SELECT * FROM events WHERE user_id = $1;
        |""".stripMargin, Map("db" -> TestSpark.sf0001))
    try {
      val jobs = users.map(u => u -> core.postJob(JobReq("by_user", args = Seq(u.toString))))
      for ((u, job) <- jobs) {
        val st = await(core, job.id)
        assert(st.state == JobState.Success, st.error)
        assert(st.count == perUser(u), s"user $u")
      }
    } finally core.shutdown()
  }

  test("a job's status count is the row count of its committed result, on a " +
       "Parquet and a Derby JDBC backend, zero rows included") {
    for (backend <- Seq(TempDirs.make("graft-count-res").toString,
        s"jdbc:derby:memory:graft_count_${java.util.UUID.randomUUID()};create=true")) {
      val core = newCore(backend)
      try {
        val counts = Seq("1", "-1").map { user =>
          val id = core.postJob(JobReq("get_profit_entries", args = Seq(user))).id
          val st = await(core, id)
          assert(st.state == JobState.Success, s"$backend: ${st.error}")
          assert(st.count == core.results(id).count(), s"$backend, user $user")
          st.count
        }
        assert(counts.head > 0 && counts(1) == 0, s"$backend: $counts")
      } finally core.shutdown()
    }
  }

  test("a job that fails in analysis logs no listener ERROR on a session that ran a job") {
    val core = newCore()
    val errors = try {
      assert(await(core, core.postJob(JobReq("get_profit_entries", args = Seq("1"))).id)
        .state == JobState.Success)
      OpsFixture.flushListenerBus()
      OpsFixture.logged("org.apache.spark", org.apache.logging.log4j.Level.ERROR) {
        val st = await(core, core.postJob(JobReq("broken_query")).id)
        assert(st.state == JobState.Failure)
        OpsFixture.flushListenerBus()
      }
    } finally core.shutdown()
    val thrown = errors.filter(_.contains("threw an exception"))
    assert(thrown.isEmpty, thrown.mkString("\n"))
  }

  test("cancelling a queued job and purging a finished one log no 'Failed to cancel " +
       "job group' WARN") {
    // the DAG scheduler handles a cancel on its event loop: a Spark job
    // submitted after the cancels finishes after they are handled
    def drainEventLoop(): Unit = spark.sparkContext.parallelize(Seq(1), 1).count(): Unit
    val core = newCore()
    val warned = try OpsFixture.logged("org.apache.spark.scheduler.DAGScheduler",
        org.apache.logging.log4j.Level.WARN) {
      assert(await(core, core.postJob(JobReq("get_profit_entries", jobId = "warn-done",
        args = Seq("1"))).id).state == JobState.Success)
      // an ETA an hour away keeps the job queued
      val eta = java.time.LocalDateTime.now.plusHours(1)
        .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
      core.postJob(JobReq("get_profit_entries", jobId = "warn-queued", args = Seq("1"),
        eta = Some(eta)))
      assert(core.getPendingJobs("test") == Seq("warn-queued"))
      core.deleteJob("warn-queued")
      core.deleteJob("warn-done", purge = true)
      // the capture sees the WARN when a group with no Spark job is cancelled
      spark.sparkContext.cancelJobGroup("warn-probe")
      drainEventLoop()
    } finally core.shutdown()
    assert(warned.exists(_.contains("Failed to cancel job group warn-probe")), warned)
    val ours = warned.filter(m => m.contains("warn-queued") || m.contains("warn-done"))
    assert(ours.isEmpty, ours)
  }

  test("a job's Spark jobs run in the scheduler pool named after its queue") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val core = coreOver(
      """-- name: in_a
        |-- queue: qa
        |SELECT * FROM events WHERE user_id = $1;
        |
        |-- name: in_b
        |-- queue: qb
        |SELECT * FROM events WHERE user_id = $1;
        |""".stripMargin, Map("db" -> TestSpark.sf0001))
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).foreach { p =>
          Option(p.getProperty("spark.jobGroup.id")).filter(_.startsWith("pool-"))
            .foreach(g => seen.add(g -> p.getProperty("spark.scheduler.pool")))
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      for ((task, id) <- Seq("in_a" -> "pool-a", "in_b" -> "pool-b"))
        assert(await(core, core.postJob(JobReq(task, jobId = id, args = Seq("1"))).id)
          .state == JobState.Success)
      OpsFixture.flushListenerBus()
    } finally { spark.sparkContext.removeSparkListener(listener); core.shutdown() }
    val pools = seen.asScala.toSeq.groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap
    assert(pools == Map("pool-a" -> Set("qa"), "pool-b" -> Set("qb")), pools)
  }
}
