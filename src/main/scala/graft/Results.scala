package graft

import java.io.File
import java.sql.{Connection, DriverManager}
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.io.LocalInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.Using
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
    * the same ID; the count is read from the committed result, as the
    * reference's row pump counts what it wrote. */
  def write(df: DataFrame, jobId: String): Executor.ExecResult
  def read(spark: SparkSession, jobId: String): Option[DataFrame]
  def purge(jobId: String): Unit
}

/** The atomic per-directory overwrite commit replaces the reference's DROP
  * TABLE + CREATE + tx (`sqldb.go:159-217`). */
final case class DirResults(root: String) extends ResultBackend {
  def path(jobId: String): String = s"$root/${Results.name(jobId)}"

  def write(df: DataFrame, jobId: String): Executor.ExecResult = {
    df.write.mode("overwrite").parquet(path(jobId))
    Executor.ExecResult(Results.parquetRows(path(jobId)), path(jobId))
  }

  def read(spark: SparkSession, jobId: String): Option[DataFrame] =
    Some(path(jobId)).filter(new File(_).exists()).map(spark.read.parquet(_))

  def purge(jobId: String): Unit = FsUtil.deleteRecursive(new File(path(jobId)))
}

/** An external result DB, like the reference's MySQL/PG backends. */
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
    val rows = connected { c =>
      val rs = c.createStatement().executeQuery(s"SELECT COUNT(*) FROM ${table(jobId)}")
      rs.next(); rs.getLong(1)
    }
    Executor.ExecResult(rows, s"$url#${Results.name(jobId)}")
  }

  def read(spark: SparkSession, jobId: String): Option[DataFrame] =
    try Some(spark.read.jdbc(url, table(jobId), new java.util.Properties))
    catch { case _: Exception => None }

  def purge(jobId: String): Unit = connected { c =>
    try {
      c.createStatement().execute(s"DROP TABLE ${table(jobId)}")
      Results.lastWrite.remove((url, Results.name(jobId))): Unit
    } catch { case _: Exception => () }
  }

  private[graft] def connected[A](f: Connection => A): A =
    Using.resource(DriverManager.getConnection(url))(f)
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

  // built once: building the options on every count costs more than the count
  private val footerOptions = ParquetReadOptions.builder().build()

  /** The rows of a local Parquet directory, from its part files' footers;
    * names starting with `_` or `.` are not data, as Spark reads them. */
  private[graft] def parquetRows(dir: String): Long =
    Option(new File(dir).listFiles())
      .getOrElse(throw new IllegalStateException(s"$dir is not a local directory"))
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(f => Using.resource(ParquetFileReader.open(new LocalInputFile(f.toPath),
        footerOptions))(_.getRecordCount))
      .sum

  /** (URL, table) → millis of this process's last write of a JDBC result,
    * so a re-run refreshes its retention like a directory's mtime. */
  private[graft] val lastWrite = new ConcurrentHashMap[(String, String), java.lang.Long]()
}

/** Result-TTL sweeper: deletes `results_<jobID>` directories and drops
  * `results_%` tables older than a retention period. The reference
  * configures result expiry but its SQL result backend never enforces it
  * (README: "TTL ... unsupported by SQL result backend"); the port sweeps
  * (SURVEY §4). A directory's age is its commit mtime, which a re-run of the
  * same job ID refreshes. A JDBC table has no portable creation time, so
  * its age runs from when the sweeper first saw it or from this process's
  * last write of it ([[Results.lastWrite]]), whichever is later: after a
  * restart a table is never dropped sooner than retention after it is seen.
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
            .filter(f => f.isDirectory && f.getName.startsWith(Results.Prefix))
            .filter(f => nowMs - f.lastModified() > retentionSec * 1000)
            .map { f => FsUtil.deleteRecursive(f); f.getName }
            .toSeq
      }
    }.sorted

  private def sweepJdbc(backend: JdbcResults, nowMs: Long): Seq[String] = {
    val (url, q) = (backend.url, backend.quote)
    try backend.connected { conn =>
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
          conn.createStatement().execute(
            s"DROP TABLE ${schem.fold("")(s => s"$q$s$q.")}$q$t$q")
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
