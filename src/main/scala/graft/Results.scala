package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, GraftColumnShim, Row, SparkSession, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.{CommandResult, LogicalPlan}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.command.DataWritingCommand
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.types.{LongType, StructType}
import org.apache.spark.util.SerializableConfiguration
import scala.util.control.NonFatal

/** A job's result, `results_<jobID>`, in one result backend: the port of
  * the reference's result writer (`writeResults`, `core.go:511-572`) and its
  * SQL result backend (`sqldb.go`). This file alone names, quotes, writes,
  * counts, reads back, purges and expires a result.
  *
  * [[Results.backend]] parses a backend spec: a local directory, holding the
  * Parquet directory `<dir>/results_<jobID>`, or a `jdbc:` URL, holding the
  * table `results_<jobID>` in the connection's default schema.
  */
sealed trait ResultBackend {
  /** Materialize `df` as `results_<jobId>`, replacing an earlier result of
    * the same ID; the count is the rows the write committed, as the
    * reference's row pump counts what it wrote. */
  def write(df: DataFrame, jobId: String): Executor.ExecResult
  def read(spark: SparkSession, jobId: String): Option[DataFrame]
  def purge(jobId: String): Unit
}

/** A local directory of Parquet results. [[ResultWrite]] writes a job's
  * part files into the hidden staging directory `<root>/.results_<id>.<uuid>`;
  * the commit deletes the old `results_<id>` and renames the staging
  * directory onto it. This replaces the reference's DROP TABLE + CREATE + tx
  * (`sqldb.go:159-217`): readers see the old result, then nothing, then the
  * whole new one. A failed or cancelled write deletes its staging directory
  * and leaves any old result as it was. */
final case class DirResults(root: String) extends ResultBackend {
  def path(jobId: String): String = s"$root/${Results.name(jobId)}"

  def write(df: DataFrame, jobId: String): Executor.ExecResult = {
    val target = new File(path(jobId))
    val staging = new File(root, s".${Results.name(jobId)}.${UUID.randomUUID()}")
    val rows = try {
      val plan = df.queryExecution.analyzed
      val written = GraftColumnShim.ofRows(df.sparkSession,
        ResultWrite(plan, plan.output.map(_.name), staging.getPath, target.getName))
      FsUtil.deleteRecursive(target)
      Files.move(staging.toPath, target.toPath, StandardCopyOption.ATOMIC_MOVE)
      ResultWrite.rows(written)
    } finally FsUtil.deleteRecursive(staging)
    Executor.ExecResult(rows, target.getPath)
  }

  def read(spark: SparkSession, jobId: String): Option[DataFrame] =
    Some(path(jobId)).filter(new File(_).exists()).map(spark.read.parquet(_))

  def purge(jobId: String): Unit = FsUtil.deleteRecursive(new File(path(jobId)))
}

/** The Spark side of [[DirResults.write]]: one Spark job whose tasks write
  * `query`'s rows as Parquet part files into `staging`. It builds Spark's
  * own Parquet writer ([[ResultWrite.writer]]), so a part file holds what
  * `df.write.parquet` would write, but its tasks carry only the writer's
  * configuration, not the session's Hadoop configuration. It runs as a
  * `DataWritingCommand`, so its plan reports the write in the command's
  * metrics (`numOutputRows`, `numOutputBytes`, `numFiles`) as Spark's file
  * writers do. Its one output row holds the rows its successful tasks
  * wrote. `name` names the Spark job. */
private[graft] final case class ResultWrite(query: LogicalPlan, outputColumnNames: Seq[String],
    staging: String, name: String) extends DataWritingCommand {
  override val output: Seq[Attribute] = Seq(AttributeReference("rows", LongType, nullable = false)())

  override def run(session: classic.SparkSession, child: SparkPlan): Seq[Row] = {
    val schema = DataTypeUtils.fromAttributes(outputColumns)
    val (factory, conf) = ResultWrite.writer(session, schema)
    val shipped = new SerializableConfiguration(conf)
    // locals, so the task closure does not capture the command and its plan
    val (dir, counters) = (staging, Seq("numOutputRows", "numOutputBytes", "numFiles").map(metrics))
    val sc = session.sparkContext
    val rdd = child.execute()
    // no partitions at all (an empty local relation): one empty task still
    // writes partition 0, as Spark's FileFormatWriter does
    val input = if (rdd.partitions.isEmpty) sc.parallelize(Seq.empty[InternalRow], 1) else rdd
    val site = sc.getLocalProperty(ResultWrite.CallSite)
    sc.setCallSite(s"parquet at $name")
    val written = try sc.runJob(input, (ctx: TaskContext, rows: Iterator[InternalRow]) =>
      ResultWrite.writePart(ctx, rows, factory, shipped.value, schema, dir, counters))
    finally sc.setLocalProperty(ResultWrite.CallSite, site)
    Seq(Row(written.sum))
  }

  override protected def withNewChildInternal(newChild: LogicalPlan): ResultWrite =
    copy(query = newChild)
}

private[graft] object ResultWrite {
  private val CallSite = "callSite.short"

  /** Spark's Parquet writer for `schema`, and the configuration its tasks
    * need: `ParquetFileFormat.prepareWrite` over an empty configuration
    * leaves a dozen keys, where the session's Hadoop configuration holds
    * over a thousand that every write would serialize and every task
    * deserialize. */
  def writer(session: SparkSession, schema: StructType): (OutputWriterFactory, Configuration) = {
    val job = Job.getInstance(new Configuration(false))
    (new ParquetFileFormat().prepareWrite(session, job, Map.empty, schema), job.getConfiguration)
  }

  /** The rows an executed [[ResultWrite]] wrote, from its output row. */
  def rows(written: DataFrame): Long =
    written.queryExecution.commandExecuted.collectFirst {
      case r: CommandResult => r.rows.head.getLong(0)
    }.get

  /** One task: partition `n` goes to `<dir>/part-<n><ext>`; returns the
    * rows written. Partition 0 writes a file even when empty, so a zero-row
    * result keeps its schema; other empty partitions write nothing. A
    * retried attempt first deletes the partial file of the attempt before
    * it, and a failed one deletes its own. */
  private def writePart(ctx: TaskContext, rows: Iterator[InternalRow],
      factory: OutputWriterFactory, conf: Configuration, schema: StructType, dir: String,
      counters: Seq[SQLMetric]): Long = {
    val part = ctx.partitionId()
    if (part != 0 && !rows.hasNext) return 0L
    val attempt = new TaskAttemptContextImpl(conf, new TaskAttemptID(
      new TaskID(new JobID("graft", ctx.stageId()), TaskType.MAP, part), ctx.attemptNumber()))
    val file = new Path(dir, f"part-$part%05d${factory.getFileExtension(attempt)}")
    val fs = file.getFileSystem(conf)
    if (ctx.attemptNumber() > 0) fs.delete(file, false)
    var n = 0L
    try {
      val out = factory.newInstance(file.toString, schema, attempt)
      try rows.foreach { r => out.write(r); n += 1 } finally out.close()
    } catch { case e: Throwable => fs.delete(file, false); throw e }
    val bytes = fs.getFileStatus(file).getLen
    counters.zip(Seq(n, bytes, 1L)).foreach { case (m, v) => m.add(v) }
    GraftColumnShim.setOutputMetrics(ctx, n, bytes)
    n
  }
}

/** An external result DB, like the reference's MySQL/PG backends. Spark's
  * JDBC writer and reader move the rows; the count and the drop run through
  * [[Jdbc]]. */
final case class JdbcResults(url: String) extends ResultBackend {
  /** The dialect's identifier quote (sqldb.go:307-314): backticks on MySQL
    * and ClickHouse, double quotes elsewhere. */
  val quote: String =
    if (url.startsWith("jdbc:mysql:") || ClickHouseDialect.canHandle(url)) "`" else "\""

  /** Quoted table name (job IDs may contain `-`). */
  def table(jobId: String): String = quote + Results.name(jobId) + quote

  def write(df: DataFrame, jobId: String): Executor.ExecResult = {
    // overwrite = DROP TABLE IF EXISTS + CREATE (sqldb.go:159-188)
    ClickHouseDialect.ensureRegistered()
    val writer = df.write.mode("overwrite")
    // ClickHouse CREATE TABLE requires an engine clause
    (if (ClickHouseDialect.canHandle(url))
      writer.option("createTableOptions", ClickHouseDialect.resultTableEngine)
    else writer).jdbc(url, table(jobId), new java.util.Properties)
    Results.lastWrite.put((url, Results.name(jobId)), System.currentTimeMillis)
    val rows = Jdbc.withConn(url)(
      Jdbc.query(_, s"SELECT COUNT(*) FROM ${table(jobId)}")(_.getLong(1))).head
    Executor.ExecResult(rows, s"$url#${Results.name(jobId)}")
  }

  def read(spark: SparkSession, jobId: String): Option[DataFrame] =
    try Some(spark.read.jdbc(url, table(jobId), new java.util.Properties))
    catch { case _: Exception => None }

  def purge(jobId: String): Unit = Jdbc.withConn(url) { c =>
    try {
      Jdbc.update(c, s"DROP TABLE ${table(jobId)}")
      Results.lastWrite.remove((url, Results.name(jobId))): Unit
    } catch { case _: Exception => () }
  }
}

object Results {
  /** `results_%s` table-name template (sqldb.go:77-81). */
  val Prefix = "results_"
  def name(jobId: String): String = Prefix + jobId

  def backend(spec: String): ResultBackend =
    if (spec.startsWith("jdbc:")) JdbcResults(spec) else DirResults(spec)

  /** A job's result (README: follow-up queries hit the smaller results
    * store), looked up in directory backends first. */
  def read(spark: SparkSession, backends: SourcePool, jobId: String): DataFrame =
    backends.sources.values.map(backend).toSeq.sortBy(_.isInstanceOf[JdbcResults])
      .iterator.flatMap(_.read(spark, jobId)).nextOption()
      .getOrElse(throw new IllegalArgumentException(s"no materialized results for job $jobId"))

  /** Purge a job's result from every backend (sqldb.go:298). */
  def purge(backends: SourcePool, jobId: String): Unit =
    backends.sources.values.foreach(backend(_).purge(jobId))

  /** (URL, table) → millis of this process's last write of a JDBC result,
    * so a re-run refreshes its retention like a directory's mtime. */
  private[graft] val lastWrite = new ConcurrentHashMap[(String, String), java.lang.Long]()
}

/** Result-TTL sweeper: deletes `results_<jobID>` directories and drops
  * `results_%` tables older than a retention period. It deletes expired
  * `.results_*` staging directories too: a worker killed during a write
  * leaves one behind. The reference
  * configures result expiry but its SQL result backend never enforces it
  * (README: "TTL ... unsupported by SQL result backend"); the port sweeps
  * (SURVEY §4). A directory's age is its commit mtime, which a re-run of the
  * same job ID refreshes. A JDBC table has no portable creation time, so
  * its age runs from when the sweeper first saw it or from this process's
  * last write of it ([[Results.lastWrite]]), whichever is later: after a
  * restart a table is never dropped sooner than retention after it is seen.
  * The table scan reads the connection's metadata; the drops run through
  * [[Jdbc]].
  */
final class ResultSweeper(backends: SourcePool, retentionSec: Long) {
  private val pool = Executors.newSingleThreadScheduledExecutor(r => {
    val t = new Thread(r, "graft-result-sweeper"); t.setDaemon(true); t
  })
  // (backend URL, table name) → first-seen millis
  private val jdbcSeen = new ConcurrentHashMap[(String, String), java.lang.Long]()

  /** One sweep pass; returns the deleted result directory/table names. */
  def sweepOnce(nowMs: Long = System.currentTimeMillis): Seq[String] =
    backends.sources.values.toSeq.flatMap { spec =>
      Results.backend(spec) match {
        case j: JdbcResults => sweepJdbc(j, nowMs)
        case DirResults(root) =>
          Option(new File(root).listFiles()).getOrElse(Array.empty)
            .filter(f => f.isDirectory &&
              f.getName.stripPrefix(".").startsWith(Results.Prefix))
            .filter(f => nowMs - f.lastModified() > retentionSec * 1000)
            .map { f => FsUtil.deleteRecursive(f); f.getName }
            .toSeq
      }
    }.sorted

  private def sweepJdbc(backend: JdbcResults, nowMs: Long): Seq[String] = {
    val (url, q) = (backend.url, backend.quote)
    try Jdbc.withConn(url) { conn =>
      // results are written unqualified, into the connection's default
      // catalog and schema: scan only those, or another application's
      // results_* tables would expire. Throwable: a pre-JDBC-4.1 driver
      // throws AbstractMethodError here, which must not cancel the sweeps.
      def scope(f: => String) = try Option(f).filter(_.nonEmpty).orNull
        catch { case _: Throwable => null }
      val rs = conn.getMetaData.getTables(scope(conn.getCatalog), scope(conn.getSchema),
        Results.Prefix + "%", Array("TABLE"))
      // '_' is a one-character wildcard in the pattern ('resultsXfoo')
      val present = Iterator.continually(rs).takeWhile(_.next())
        .map(r => (Option(r.getString("TABLE_SCHEM")).filter(_.nonEmpty), r.getString("TABLE_NAME")))
        .filter(_._2.startsWith(Results.Prefix))
        .toVector
      // forget vanished tables, so a later same-ID job starts a fresh clock
      jdbcSeen.keySet.removeIf(k => k._1 == url && !present.exists(_._2 == k._2))
      present.flatMap { case (schem, t) =>
        val seen: Long = jdbcSeen.computeIfAbsent((url, t), _ => nowMs)
        val written = Option(Results.lastWrite.get((url, t))).fold(0L)(_.longValue)
        // per table: one undroppable table must not stop the rest
        if (nowMs - math.max(seen, written) <= retentionSec * 1000) None
        else try {
          Jdbc.update(conn, s"DROP TABLE ${schem.fold("")(s => s"$q$s$q.")}$q$t$q")
          jdbcSeen.remove((url, t))
          Results.lastWrite.remove((url, t))
          Some(t)
        } catch { case NonFatal(_) => None }
      }
    } catch { case NonFatal(_) => Nil } // backend down: retry next sweep
  }

  def start(periodSec: Long = 60): Unit =
    // any throwable that escapes cancels a scheduleAtFixedRate task for good
    pool.scheduleAtFixedRate(() => {
      try { sweepOnce(): Unit } catch { case _: Throwable => () }
    }, periodSec, periodSec, TimeUnit.SECONDS): Unit

  def stop(): Unit = pool.shutdown()
}
