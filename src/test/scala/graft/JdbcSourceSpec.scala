package graft

import java.nio.file.Files
import java.sql.DriverManager
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import OpsFixture.spark

/** External-DB source parity: the reference's entire job is querying external
  * databases (`dbpool.go`, CI's Postgres/MySQL `entries` table,
  * `.github/workflows/test.yml:65-69`). This spec stands up the same
  * canonical `entries` table in embedded Derby (on the Spark classpath) and
  * runs the reference's flagship task shape against it through the full job
  * path — jdbc: source URL, arg binding, canonical cast, materialization.
  */
class JdbcSourceSpec extends AnyFunSuite {
  private val url = "jdbc:derby:memory:graftdb;create=true"

  private def setupEntries(): Unit = {
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.execute("DROP TABLE entries") catch { case _: Exception => () }
      // reference CI schema (test.yml:65-69): id, amount, user_id, entry_date, timestamp
      st.execute(
        """CREATE TABLE entries (
             id BIGINT GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
             amount DOUBLE, user_id VARCHAR(6), entry_date DATE, ts TIMESTAMP)""")
      val ins = conn.prepareStatement(
        "INSERT INTO entries (amount, user_id, entry_date, ts) VALUES (?, ?, ?, ?)")
      for (i <- 1 to 100) {
        ins.setDouble(1, i * 1.5)
        ins.setString(2, s"u${i % 3}")
        ins.setDate(3, java.sql.Date.valueOf(f"2024-01-${i % 28 + 1}%02d"))
        ins.setTimestamp(4, java.sql.Timestamp.valueOf(f"2024-01-${i % 28 + 1}%02d 10:00:00"))
        ins.addBatch()
      }
      ins.executeBatch()
    } finally conn.close()
  }

  test("jobs run against a live JDBC source end-to-end (reference CI shape)") {
    setupEntries()
    val tasksDir = TempDirs.make("jdbc-tasks")
    Files.writeString(tasksDir.resolve("t.sql"),
      """-- name: get_profit_summary
        |-- raw: 1
        |SELECT SUM(amount) AS total, entry_date FROM entries
        |WHERE user_id = $1 GROUP BY entry_date ORDER BY entry_date;
        |""".stripMargin)
    val out = TempDirs.make("jdbc-out").toString
    val core = GraftCore(spark, Seq(tasksDir.toString),
      sources = Map("derby_db" -> url),
      resultBackends = Map("res" -> out))
    val job = core.postJob(JobReq("get_profit_summary", args = Seq("u1")))
    val deadline = System.currentTimeMillis + 60000
    while (core.store.get(job.id).exists(s => s.state != JobState.Success &&
             s.state != JobState.Failure) && System.currentTimeMillis < deadline)
      Thread.sleep(25)
    val st = core.getJobStatus(job.id)
    assert(st.state == JobState.Success, st.toString)
    val res = core.results(job.id)
    // canonical materialized schema: total NUMERIC-class, entry_date DATE
    // (the reference's own correctness assertion, server_test.go.bak:261-286)
    assert(res.schema("total").dataType == DoubleType)
    assert(res.schema("entry_date").dataType == DateType)
    // u1 rows: i % 3 == 1 -> 34 rows over distinct dates; sum matches
    val expected = (1 to 100).filter(_ % 3 == 1).map(_ * 1.5).sum
    val got = res.agg(org.apache.spark.sql.functions.sum("total")).head.getDouble(0)
    assert(math.abs(got - expected) < 1e-9, s"sum: got $got expected $expected")
    core.shutdown()
  }

  test("results materialize into a JDBC backend (results_<id> table, DROP on purge)") {
    val tasksDir = TempDirs.make("jdbcres-tasks")
    Files.writeString(tasksDir.resolve("t.sql"),
      """-- name: daily
        |SELECT CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total,
        |       CAST(ts AS DATE) AS entry_date
        |FROM events GROUP BY CAST(ts AS DATE);
        |""".stripMargin)
    val core = GraftCore(spark, Seq(tasksDir.toString),
      sources = Map("db" -> TestSpark.sf0001),
      resultBackends = Map("derby_res" -> url))
    val job = core.postJob(JobReq("daily", jobId = "jdbc-res-1"))
    val deadline = System.currentTimeMillis + 60000
    while (core.store.get(job.id).exists(s => s.state != JobState.Success &&
             s.state != JobState.Failure) && System.currentTimeMillis < deadline)
      Thread.sleep(25)
    val st = core.getJobStatus(job.id)
    assert(st.state == JobState.Success, st.toString)
    assert(st.count == 30) // 30 distinct days in sf0.001 events
    // the table is really in the external DB
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement()
        .executeQuery("""SELECT COUNT(*) FROM "results_jdbc-res-1"""")
      rs.next()
      assert(rs.getLong(1) == 30)
    } finally conn.close()
    // read-back through the facade, then purge drops the table
    assert(core.results(job.id).count() == 30)
    core.deleteJob(job.id, purge = true)
    val conn2 = DriverManager.getConnection(url)
    try {
      intercept[java.sql.SQLException] {
        conn2.createStatement().executeQuery("""SELECT 1 FROM "results_jdbc-res-1"""")
      }
    } finally conn2.close()
    core.shutdown()
  }

  test("CTE names in task SQL are not mistaken for remote JDBC tables") {
    setupEntries()
    val task = Task("t", "default", 1,
      """WITH top_users AS (
           SELECT user_id, SUM(amount) AS s FROM entries GROUP BY user_id)
         SELECT COUNT(*) AS n FROM top_users WHERE s > 0""",
      SourcePool.single("db", url), SourcePool.single("res", "/tmp"), isRaw = true)
    val df = Executor.buildFrame(spark, url, task, Nil)
    assert(df.head.getLong(0) == 3) // u0,u1,u2 all have positive sums
  }

  test("schema-qualified remote tables resolve (public.users shape, ADVICE r1)") {
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.execute("DROP TABLE pub.users") catch { case _: Exception => () }
      try st.execute("CREATE SCHEMA pub") catch { case _: Exception => () }
      st.execute("CREATE TABLE pub.users (id INT, name VARCHAR(16))")
      st.execute("INSERT INTO pub.users VALUES (1, 'ada'), (2, 'bob'), (3, 'eve')")
    } finally conn.close()
    // a column qualified by the table's own name parts resolves as written
    for (sql <- Seq(
        """WITH grown AS (SELECT id + 10 AS id2, name FROM pub.users)
           SELECT COUNT(*) AS n FROM grown g JOIN pub.users u ON g.id2 = u.id + 10
           WHERE u.id >= $1""",
        "SELECT COUNT(*) FROM pub.users WHERE pub.users.id >= $1",
        "SELECT COUNT(*) FROM pub.users WHERE users.id >= $1")) {
      val task = Task("t", "default", 1, sql,
        SourcePool.single("db", url), SourcePool.single("res", "/tmp"), isRaw = true)
      val df = Executor.buildFrame(spark, url, task, Seq("2"))
      assert(df.head.getLong(0) == 2, sql)
    }
  }

  test("filters push down into the JDBC source (delegation, like the reference)") {
    setupEntries()
    val task = Task("t", "default", 1,
      "SELECT amount FROM entries WHERE user_id = 'u1'",
      SourcePool.single("db", url), SourcePool.single("res", "/tmp"), isRaw = true)
    val df = Executor.buildFrame(spark, url, task, Nil)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.toLowerCase.contains("equalto(user_id,u1)"),
      s"JDBC pushdown missing:\n$plan")
  }
}
