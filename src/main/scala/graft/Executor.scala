package graft

import org.apache.spark.sql.{DataFrame, GraftColumnShim, Observation, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.logical.{Command, LogicalPlan, ParsedStatement, SubqueryAlias, UnresolvedWith}
import org.apache.spark.sql.functions.{count, lit}
import java.util.concurrent.TimeoutException
import scala.concurrent.Await
import scala.concurrent.duration._
import scala.util.Random

/** Single-job execution: the port of `execJob` + `writeResults`
  * (`internal/core/core.go:450-572`).
  *
  * A job runs on the session it is given — the server's one session, like
  * the reference's one pool per named source (`core.go:496`). Isolation
  * between concurrent jobs comes from binding, not from a session per job:
  * [[buildFrame]] binds each table and each job argument straight into the
  * job's copy of the task's parsed plan, parses no task text and touches no
  * catalog. The executing thread tags all Spark jobs with the job ID as the
  * job group with `interruptOnCancel=true` —
  * `sparkContext.cancelJobGroup(jobId)` is then the 1:1 port of the
  * reference's per-job `context.CancelFunc` (`core.go:457-468`), and strictly
  * stronger: it kills every stage of the plan, not just the driver-side wait.
  * The job runs inside [[JobLiterals.asJob]], so its plan reads its
  * primitive literals from the generated class's `references` instead of
  * its source text: a task's generated code is compiled on its first job,
  * and every later job, whatever its arguments, reuses the class.
  *
  * Materialization (`writeResults`, core.go:511-572): pick a random result
  * backend, cast the result to the canonical 6-type schema (§1.2), and write
  * `results_<jobID>` parquet with overwrite — the atomic per-directory commit
  * replaces the reference's DROP TABLE + CREATE + tx (`sqldb.go:159-217`).
  * The row count the write observed is stored as the job result
  * (`core.go:436`); a count that has not arrived [[RowCountWait]] after the
  * write returned fails the job.
  */
object Executor {

  final case class ExecResult(count: Long, resultDir: String, sourceName: String)

  def resultDir(backendDir: String, jobId: String): String =
    s"$backendDir/results_$jobId"

  /** `results_%s` table-name template (sqldb.go:77-81). */
  def resultTable(jobId: String): String = s"results_$jobId"

  /** A JDBC backend's identifier quote, as the reference quotes with the
    * backend's dialect (sqldb.go:307-314): backticks on MySQL, double quotes
    * elsewhere; ClickHouse takes backticks like MySQL. */
  def identQuote(url: String): String =
    if (url.startsWith("jdbc:mysql:") || ClickHouseDialect.canHandle(url)) "`" else "\""

  /** Dialect-quoted form for use as a JDBC dbtable (job IDs may contain `-`). */
  def quotedResultTable(url: String, jobId: String): String = {
    val q = identQuote(url)
    q + resultTable(jobId) + q
  }

  /** Build the job's DataFrame without materializing (shared by run()).
    *
    * One walk over the task's shared, read-only parsed plan
    * ([[Task.plan]]) builds the job's own bound copy. It binds every table
    * the statement names — except CTE names — as `SubqueryAlias(<its name>,
    * relation)`, so column qualifiers (`users.id`, `pub.users.id`) resolve
    * as written, and replaces every parameter marker with its job
    * argument's typed [[ArgBinder.value]], in CTE bodies and subqueries
    * too. The relation is [[Tables.load]]'s plan for a directory source and
    * a `spark.read.jdbc` plan for a `jdbc:` source — the direct analog of
    * the reference's external source databases (`dbpool.go`): Catalyst
    * pushes filters and column pruning down into the remote DB the way the
    * reference delegates whole queries to it. Nothing is registered in the
    * session's catalog, so jobs sharing a session cannot see each other's
    * tables; statements that would change the session (`SET`, `CREATE
    * TEMPORARY VIEW`, `CACHE TABLE`, DML, ...) are refused.
    */
  def buildFrame(session: SparkSession, sourceDir: String, task: Task, args: Seq[String]): DataFrame = {
    val parsed = task.plan(session)
    parsed.find { case _: Command | _: ParsedStatement => true; case _ => false }.foreach { c =>
      throw new IllegalArgumentException(s"task ${task.name}: only queries run as jobs, " +
        s"not commands or statements (${c.nodeName}); a command would change the " +
        "session every later job runs on")
    }
    val load: Seq[String] => LogicalPlan =
      if (sourceDir.startsWith("jdbc:")) {
        ClickHouseDialect.ensureRegistered() // no-op after first call
        parts => session.read.format("jdbc").option("url", sourceDir)
          .option("dbtable", parts.mkString(".")).load().queryExecution.analyzed
      } else parts => Tables.load(session, sourceDir, parts.mkString(".").toLowerCase)
        .queryExecution.analyzed
    GraftColumnShim.ofRows(session, bindPlan(session, parsed, args, load))
  }

  /** The job's bound copy of a parsed plan (see [[buildFrame]]); `load`
    * gives the relation for a table's name parts. */
  private[graft] def bindPlan(session: SparkSession, parsed: LogicalPlan, args: Seq[String],
      load: Seq[String] => LogicalPlan): LogicalPlan = {
    // one relation per distinct name (case-insensitive, Spark's default),
    // keeping the first-seen case for `dbtable`: a remote DB may be
    // case-sensitive
    val bound = scala.collection.mutable.HashMap.empty[Seq[String], LogicalPlan]
    def value(k: Int): Literal =
      if (k >= 1 && k <= args.size) ArgBinder.value(session.sessionState.sqlParser, args(k - 1))
      else throw new IllegalArgumentException(s"missing argument for placeholder $$$k")
    val cte = cteNames(parsed)
    def bind(p: LogicalPlan): LogicalPlan = p.transformDownWithSubqueries { node =>
      (node match {
        // CTE bodies are inner children, which the transform does not visit
        case w: UnresolvedWith =>
          w.copy(cteRelations = w.cteRelations.map { case (n, body, o) =>
            (n, bind(body).asInstanceOf[SubqueryAlias], o)
          })
        case r: UnresolvedRelation
            if !(r.multipartIdentifier.size == 1 && cte(r.multipartIdentifier.head.toLowerCase)) =>
          val parts = r.multipartIdentifier
          SubqueryAlias(parts, bound.getOrElseUpdate(parts.map(_.toLowerCase), load(parts)))
        case other => other
      }).transformExpressionsDown { case ArgBinder.Placeholder(k) => value(k) }
    }
    bind(parsed)
  }

  /** Every CTE name defined anywhere in a statement, lowercased — CTE
    * bodies nest inside `UnresolvedWith.cteRelations`, walked explicitly. */
  private def cteNames(p: LogicalPlan): Set[String] =
    p.collectWithSubqueries {
      case w: UnresolvedWith =>
        w.cteRelations.flatMap { case (n, body, _) => cteNames(body) + n.toLowerCase }
    }.flatten.toSet

  /** Execute one job end-to-end on the calling thread. */
  def run(spark: SparkSession, job: Job, task: Task, rnd: Random = Random): ExecResult = {
    val sc = spark.sparkContext
    sc.setJobGroup(job.id, s"graft task=${task.name} job=${job.id}", interruptOnCancel = true)
    try JobLiterals.asJob(spark, job.id) {
      // named DB else random pick (core.go:483-492)
      val (srcName, srcDir) = job.db match {
        case Some(name) => (name, task.dbs.get(name))
        case None       => task.dbs.getRandom(rnd)
      }
      val (_, backendDir) = task.resultBackends.getRandom(rnd) // core.go:515
      // the write counts its own rows, like the reference's row pump
      // (core.go:511-572)
      val observed = new Observation()
      val out = CanonicalTypes.castToCanonical(buildFrame(spark, srcDir, task, job.args))
        .observe(observed, count(lit(1)).as("rows"))
      val dest =
        if (backendDir.startsWith("jdbc:")) {
          // external result DB, like the reference's MySQL/PG backends:
          // overwrite = DROP TABLE IF EXISTS + CREATE (sqldb.go:159-188)
          ClickHouseDialect.ensureRegistered()
          val writer = out.write.mode("overwrite")
          // ClickHouse CREATE TABLE requires an engine clause
          (if (ClickHouseDialect.canHandle(backendDir))
            writer.option("createTableOptions", ClickHouseDialect.resultTableEngine)
          else writer)
            .jdbc(backendDir, quotedResultTable(backendDir, job.id), new java.util.Properties)
          ResultClock.touch(backendDir, resultTable(job.id)) // refresh sweeper TTL
          s"$backendDir#${resultTable(job.id)}"
        } else {
          val dir = resultDir(backendDir, job.id)
          out.write.mode("overwrite").parquet(dir)
          dir
        }
      ExecResult(rowCount(observed, RowCountWait), dest, srcName)
    } finally sc.clearJobGroup()
  }

  /** How long the row count may lag the write: it arrives as a listener
    * event once the write returns, normally within milliseconds. */
  val RowCountWait: FiniteDuration = 30.seconds

  /** The row count a write observed, waiting at most `within` from now. */
  private[graft] def rowCount(observed: Observation, within: FiniteDuration): Long =
    try Await.result(observed.future, within).getAs[Long]("rows")
    catch { case _: TimeoutException =>
      throw new IllegalStateException(s"the write finished but its row count " +
        s"did not arrive within $within (a lost listener event)")
    }
}
