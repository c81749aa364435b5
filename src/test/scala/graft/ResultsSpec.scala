package graft

import java.io.File
import java.sql.{Date, Timestamp}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.apache.spark.TaskEndReason
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import OpsFixture.spark

/** The directory result backend ([[DirResults]]): what `results_<id>`
  * holds after a write, how a write replaces and aborts, and what its
  * tasks ship and report. */
class ResultsSpec extends AnyFunSuite {
  private def root(): String = TempDirs.make("graft-results").toString

  private def stagingDirs(root: String): Seq[String] =
    Option(new File(root).list()).toSeq.flatten.filter(_.startsWith("."))

  /** A write with `id` as its job group, as `Executor.run` sets it. */
  private def write(backend: DirResults, df: DataFrame, id: String): Executor.ExecResult = {
    val sc = spark.sparkContext
    sc.setJobGroup(id, s"results spec $id", interruptOnCancel = true)
    try backend.write(df, id) finally sc.clearJobGroup()
  }

  private val sixTypes = StructType(Seq(
    StructField("n", LongType), StructField("x", DoubleType),
    StructField("ts", TimestampType), StructField("d", DateType),
    StructField("b", BooleanType), StructField("s", StringType)))

  test("a frame of all six canonical types, with nulls, reads back from results_<id> " +
       "with its canonical schema and its rows, in the bytes df.write.parquet writes") {
    val rows = Seq(
      Row(1L, 1.5, Timestamp.valueOf("2024-01-02 03:04:05.123456"), Date.valueOf("2024-01-02"),
        true, "a"),
      Row(null, null, null, null, null, null),
      Row(-7L, -0.25, Timestamp.valueOf("1999-12-31 23:59:59"), Date.valueOf("1970-01-01"),
        false, ""))
    val df = CanonicalTypes.castToCanonical(
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), sixTypes))
    val backend = DirResults(root())
    val res = write(backend, df, "six")
    assert(res.count == 3L && res.resultDir == backend.path("six"))
    val back = spark.read.parquet(backend.path("six"))
    assert(back.schema == CanonicalTypes.canonicalSchema(sixTypes))
    assert(back.collect().toSeq.map(_.toString).sorted == df.collect().toSeq.map(_.toString).sorted)
    // the part files hold the bytes Spark's own writer writes for the frame
    val viaDf = s"${backend.root}/df-write"
    df.write.parquet(viaDf)
    def partBytes(dir: String): Seq[Seq[Byte]] =
      new File(dir).listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
        .map(f => java.nio.file.Files.readAllBytes(f.toPath).toSeq).toSeq
    assert(partBytes(backend.path("six")) == partBytes(viaDf))
  }

  test("a zero-row result holds one part file and counts 0") {
    val backend = DirResults(root())
    for ((id, df) <- Seq[(String, DataFrame)](
        "none-filtered" -> spark.range(0, 100, 1, 4).toDF("n").filter(col("n") < 0),
        "none-local" -> spark.createDataFrame(java.util.List.of[Row](), sixTypes))) {
      val res = write(backend, df, id)
      assert(res.count == 0L, id)
      val parts = new File(backend.path(id)).list().filter(_.endsWith(".parquet"))
      assert(parts.toSeq == Seq("part-00000.snappy.parquet"), id)
      assert(spark.read.parquet(backend.path(id)).schema.fieldNames.toSeq == df.columns.toSeq, id)
    }
    assert(stagingDirs(backend.root).isEmpty)
  }

  test("a re-run of the same job ID replaces the old result") {
    val backend = DirResults(root())
    assert(write(backend, spark.range(0, 40, 1, 4).toDF("v"), "again").count == 40L)
    assert(write(backend, spark.range(0, 3, 1, 1).toDF("w"), "again").count == 3L)
    val back = spark.read.parquet(backend.path("again"))
    assert(back.columns.toSeq == Seq("w"))
    assert(back.collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L, 2L))
    assert(new File(backend.path("again")).list().count(_.endsWith(".parquet")) == 1)
    assert(stagingDirs(backend.root).isEmpty)
  }

  test("a job cancelled during its write leaves neither results_<id> nor a staging " +
       "directory, and a retry with the same ID commits") {
    val backend = DirResults(root())
    // partition 1 writes rows 4 and 5, then blocks on row 6 until cancelled
    val block = udf { (v: Long) =>
      if (v == 6L) { ResultsSpec.blocked.countDown(); Thread.sleep(120000) }
      v
    }
    val df = spark.range(0, 8, 1, 2).select(block(col("id")).as("v"))
    val run = Future(write(backend, df, "cancelled"))
    assert(ResultsSpec.blocked.await(60, TimeUnit.SECONDS), "the write never started")
    assert(stagingDirs(backend.root).size == 1, "the write stages under a hidden directory")
    spark.sparkContext.cancelJobGroup("cancelled")
    intercept[Exception](Await.result(run, 60.seconds))
    assert(!new File(backend.path("cancelled")).exists())
    assert(stagingDirs(backend.root).isEmpty, stagingDirs(backend.root))
    assert(write(backend, spark.range(0, 8, 1, 2).toDF("v"), "cancelled").count == 8L)
    assert(stagingDirs(backend.root).isEmpty)
  }

  test("the write ships the Parquet writer's configuration, not the session's") {
    val (_, conf) = ResultWrite.writer(spark, sixTypes)
    val sessionKeys = spark.sparkContext.hadoopConfiguration.size()
    assert(conf.size() < 50, s"${conf.size()} keys; the session's Hadoop configuration has $sessionKeys")
    assert(conf.get("parquet.compression") != null && conf.get("parquet.write.support.class") != null)
  }

  test("the write reports its rows, bytes and files in the command's metrics and its " +
       "tasks' output metrics; the successful task ends sum to the count") {
    val group = "metered"
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val ends = new java.util.concurrent.ConcurrentLinkedQueue[(Int, TaskEndReason, Long, Long)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          js.stageIds.foreach(stages.put(_, group))
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        Option(te.taskMetrics).foreach(m => ends.add((te.stageId, te.reason,
          m.outputMetrics.recordsWritten, m.outputMetrics.bytesWritten)))
    }
    val written = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Long]]()
    val qel = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.executedPlan.collectFirst { case w: DataWritingCommandExec => w }
          .foreach(w => written.add(w.metrics.view.mapValues(_.value).toMap))
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qel)
    val backend = DirResults(root())
    val res = try {
      val r = write(backend, spark.range(0, 1000, 1, 4).toDF("v").filter(col("v") % 3 =!= 0), group)
      OpsFixture.flushListenerBus()
      r
    } finally {
      spark.listenerManager.unregister(qel)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(res.count == 666L)
    val ok = ends.asScala.toSeq.filter(e => stages.containsKey(e._1) &&
      e._2 == org.apache.spark.Success)
    assert(ok.map(_._3).sum == res.count, ok)
    val parts = new File(res.resultDir).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(ok.map(_._4).sum == parts.map(_.length).sum)
    val m = written.asScala.toSeq
    assert(m.size == 1, m)
    assert(m.head("numOutputRows") == res.count && m.head("numFiles") == parts.length &&
      m.head("numOutputBytes") == parts.map(_.length).sum, m.head)
  }
}

object ResultsSpec {
  /** Opened by the write task that reaches the blocking row; a static, so
    * the task's deserialized closure shares it with the test. */
  val blocked = new CountDownLatch(1)
}
