package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import OpsFixture.spark

/** Sources resolve per-table files in any supported format (parquet / csv /
  * json / orc) — tasks don't care where a named source keeps its bytes, the
  * same way reference tasks don't care which tagged DB serves them.
  */
class MultiFormatSpec extends AnyFunSuite {
  test("a source dir can mix parquet, csv, json and orc tables") {
    val src = TempDirs.make("fmt-src").toString
    val nation = Tables.load(spark, TestSpark.sf0001, "nation")
    nation.write.parquet(s"$src/nation.parquet")
    nation.write.option("header", "true").csv(s"$src/region.csv") // reuse rows
    nation.write.json(s"$src/supplier.json")
    nation.write.orc(s"$src/customer.orc")
    val n = nation.count()
    assert(Tables.load(spark, src, "nation").count() == n)
    assert(Tables.load(spark, src, "region").count() == n)   // csv
    assert(Tables.load(spark, src, "supplier").count() == n) // json
    assert(Tables.load(spark, src, "customer").count() == n) // orc
    // csv came back with usable types for SQL (schema inference)
    val csv = Tables.load(spark, src, "region")
    assert(csv.schema("n_nationkey").dataType.typeName != "string")
    intercept[IllegalArgumentException](Tables.load(spark, src, "missing"))
  }

  test("a rewritten table file reloads and keeps one cached plan") {
    val src = TempDirs.make("fmt-rewrite").toString
    for (n <- Seq(2L, 3L, 5L, 7L)) { // one write, then three rewrites
      spark.range(n).write.mode("overwrite").parquet(s"$src/t.parquet")
      assert(Tables.load(spark, src, "t").count() == n)
    }
    assert(Tables.cachedPlanCount(src, "t") == 1)
  }

  test("a job can run against a csv-backed source end-to-end") {
    val src = TempDirs.make("fmt-src2").toString
    Tables.load(spark, TestSpark.sf0001, "customer")
      .write.option("header", "true").csv(s"$src/customer.csv")
    val tasksDir = TempDirs.make("fmt-tasks")
    Files.writeString(tasksDir.resolve("t.sql"),
      "-- name: seg_counts\nSELECT c_mktsegment, COUNT(*) AS n FROM customer GROUP BY c_mktsegment;\n")
    val out = TempDirs.make("fmt-out").toString
    val core = GraftCore(spark, Seq(tasksDir.toString),
      Map("csv_db" -> src), Map("res" -> out))
    val job = core.postJob(JobReq("seg_counts"))
    val deadline = System.currentTimeMillis + 60000
    while (core.store.get(job.id).exists(s => s.state != JobState.Success &&
             s.state != JobState.Failure) && System.currentTimeMillis < deadline)
      Thread.sleep(25)
    assert(core.getJobStatus(job.id).state == JobState.Success)
    assert(core.results(job.id).count() == 5)
    core.shutdown()
  }
}
