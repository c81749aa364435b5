package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import OpsFixture.spark

class TaskRegistrySpec extends AnyFunSuite {
  private val src = SourcePool(Map("db_a" -> TestSpark.sf0001, "db_b" -> TestSpark.sf0001))
  private val bk = SourcePool(Map("res1" -> "/tmp/graft-res"))

  private def writeTasks(content: String): String = {
    val d = TempDirs.make("graft-tasks")
    Files.writeString(d.resolve("tasks.sql"), content)
    d.toString
  }

  test("parses goyesql blocks with tags (tasks.go:52-151)") {
    val dir = writeTasks(
      """-- preamble comment, ignored
        |-- name: summary
        |-- db: db_a
        |-- queue: reports
        |-- conc: 5
        |SELECT sum(value) AS total FROM events WHERE user_id = $1;
        |
        |-- name: full_scan
        |SELECT * FROM events;
        |""".stripMargin)
    val tasks = TaskRegistry.load(spark, Seq(dir), src, bk)
    assert(tasks.keySet == Set("summary", "full_scan"))
    val t = tasks("summary")
    assert(t.queue == "reports" && t.conc == 5)
    assert(t.dbs.names == Seq("db_a"))
    assert(t.raw.startsWith("SELECT sum(value)"))
    assert(!t.raw.endsWith(";"))
    // untagged task falls back to defaults + full pools
    val f = tasks("full_scan")
    assert(f.queue == TaskRegistry.DefaultQueue && f.dbs.names == Seq("db_a", "db_b"))
  }

  test("accepts both conc and the sample files' concurrency spelling") {
    val dir = writeTasks(
      """-- name: a
        |-- concurrency: 7
        |SELECT 1;
        |""".stripMargin)
    assert(TaskRegistry.load(spark, Seq(dir), src, bk)("a").conc == 7)
  }

  test("rejects duplicate task names (tasks.go:82-84)") {
    val dir = writeTasks("-- name: dup\nSELECT 1;\n-- name: dup\nSELECT 2;\n")
    val e = intercept[IllegalArgumentException](TaskRegistry.load(spark, Seq(dir), src, bk))
    assert(e.getMessage.contains("duplicate query dup"))
  }

  test("validates SQL at load unless raw-tagged (tasks.go:108-121)") {
    val bad = writeTasks("-- name: broken\nSELEKT nope FROM;\n")
    val e = intercept[IllegalArgumentException](TaskRegistry.load(spark, Seq(bad), src, bk))
    assert(e.getMessage.contains("error preparing SQL query broken"))
    val raw = writeTasks("-- name: broken\n-- raw: 1\nSELEKT nope FROM;\n")
    assert(TaskRegistry.load(spark, Seq(raw), src, bk)("broken").isRaw)
    // a placeholder binds only where Spark's grammar takes a parameter marker;
    // the error names the task and the placeholder as the task wrote it,
    // never the marker it was rewritten to
    Seq("SELECT current_date - INTERVAL $1 DAY" -> "$1",
        "SELECT CAST(value AS DECIMAL($1, 2)) FROM events" -> "$1",
        "SELECT current_date - INTERVAL ? DAY" -> "?").foreach { case (sql, p) =>
      val dir = writeTasks(s"-- name: window\n$sql;\n")
      val ie = intercept[IllegalArgumentException](TaskRegistry.load(spark, Seq(dir), src, bk))
      assert(ie.getMessage.contains("error preparing SQL query window"), sql)
      assert(ie.getMessage.contains(s"placeholder $p of task window"), ie.getMessage)
      assert(!ie.getMessage.contains(":_1"), ie.getMessage)
    }
  }

  test("rejects unknown db/results tags (dbpool.go:116-130)") {
    val dir = writeTasks("-- name: x\n-- db: nope\nSELECT 1;\n")
    intercept[NoSuchElementException](TaskRegistry.load(spark, Seq(dir), src, bk))
  }

  test("rejects empty and missing dirs (tasks.go:55-60)") {
    intercept[IllegalArgumentException](
      TaskRegistry.load(spark, Seq("/tmp/does-not-exist-graft"), src, bk))
    val empty = TempDirs.make("graft-empty").toString
    intercept[IllegalArgumentException](TaskRegistry.load(spark, Seq(empty), src, bk))
  }
}
