package graft

import org.scalatest.funsuite.AnyFunSuite
import OpsFixture.{codegenCompiles, dir, spark}

/** A job's generated code does not depend on its argument values
  * ([[JobLiterals]]): a task compiles on its first job only, and a job's
  * rows are the rows of the same bound plan run outside a job, where Spark
  * writes the literals into the code. */
class JobLiteralsSpec extends AnyFunSuite {
  private lazy val results = TempDirs.make("graft-joblit-results").toString

  private def task(name: String, sql: String): Task =
    Task(name, "default", 1, sql, SourcePool.single("db", dir),
      SourcePool.single("res", results), isRaw = false)

  private def runJob(t: Task, id: String, args: Seq[String]): Executor.ExecResult =
    Executor.run(spark, Job(id, t.name, "default", None, 0, 60, args, None), t)

  test("a task compiles its generated code on its first job only: 20 jobs with " +
       "distinct arguments compile nothing after the first") {
    val shapes = Seq[(String, String, Int => Seq[String])](
      ("get_profit_summary",
        """SELECT CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total,
          |       CAST(ts AS DATE) AS entry_date
          |FROM events WHERE user_id = $1 GROUP BY CAST(ts AS DATE) ORDER BY entry_date""".stripMargin,
        k => Seq(k.toString)),
      ("get_profit_entries", "SELECT * FROM events WHERE user_id = $1", k => Seq(k.toString)),
      ("get_profit_entries_by_date", "SELECT * FROM events WHERE user_id = $1 AND ts > $2 AND ts < $3",
        k => Seq(k.toString, f"2024-01-${1 + k}%02d 00:00:00", f"2024-01-${6 + k}%02d 00:00:00")))
    for ((name, sql, args) <- shapes) {
      val t = task(name, sql)
      runJob(t, s"joblit-$name-0", args(0))
      val afterFirst = codegenCompiles
      val grew = (1 until 20).flatMap { k =>
        runJob(t, s"joblit-$name-$k", args(k))
        val n = codegenCompiles - afterFirst
        if (n > 0) Some(k -> n) else None
      }
      assert(grew.isEmpty, s"$name: (job, compiles since the first job) = $grew")
    }
  }

  test("a job's rows equal its bound plan's rows outside a job, for every " +
       "argument type, a window frame, a LIKE pattern and ROUND's scale") {
    val cases = Seq(
      ("int", "SELECT event_id, value FROM events WHERE user_id = $1", "7"),
      ("bigint", "SELECT event_id, event_id + $1 AS shifted FROM events " +
        "WHERE event_id < $1 - 2999999500", "3000000000"),
      ("decimal", "SELECT event_id, CAST(value AS DECIMAL(18,6)) * $1 AS scaled " +
        "FROM events WHERE value > $1", "50.25"),
      ("double", "SELECT event_id, value * $1 AS big FROM events WHERE value * $1 > 1e8", "1e6"),
      ("date", "SELECT event_id, date_add($1, 3) AS later FROM events " +
        "WHERE CAST(ts AS DATE) >= $1", "2024-01-15"),
      ("timestamp", "SELECT event_id, ts FROM events WHERE ts > $1", "2024-01-10 12:30:00"),
      ("string", "SELECT event_id, event_type FROM events WHERE event_type = $1", "purchase"),
      ("negative", "SELECT event_id, 10-$1 AS d FROM events WHERE user_id + $1 > 0", "-7"),
      ("window", "SELECT event_id, SUM(value) OVER (PARTITION BY user_id ORDER BY event_id " +
        "ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s2 FROM events WHERE user_id = $1", "3"),
      ("like", "SELECT event_id, props FROM events WHERE props LIKE $1", "%\"k\": 1%"),
      ("round", "SELECT event_id, ROUND(value, 2) + $1 AS r FROM events WHERE user_id = $1", "5"))
    for ((name, sql, arg) <- cases) {
      val t = task(s"joblit_$name", sql)
      val res = runJob(t, s"joblit-diff-$name", Seq(arg))
      val inJob = spark.read.parquet(res.resultDir).collect().map(_.toString).sorted.toSeq
      val outside = CanonicalTypes.castToCanonical(Executor.buildFrame(spark, dir, t, Seq(arg)))
        .collect().map(_.toString).sorted.toSeq
      assert(outside.nonEmpty, s"$name: the case selects no rows, so it checks nothing")
      assert(res.count == outside.size, name)
      assert(inJob == outside, s"$name: the job's rows differ from the plan's outside a job")
    }
  }
}
