package graft

import org.apache.spark.sql.{DataFrame, GraftColumnShim, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.logical.{Command, LogicalPlan, ParsedStatement, SubqueryAlias, UnresolvedWith}
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
  * It also puts them in the scheduler pool named after the job's queue, so
  * under `spark.scheduler.mode=FAIR` queues share the executors fairly.
  * The job runs inside [[JobLiterals.asJob]], so its plan reads its
  * primitive literals from the generated class's `references` instead of
  * its source text: a task's generated code is compiled on its first job,
  * and every later job, whatever its arguments, reuses the class.
  *
  * Materialization (`writeResults`, core.go:511-572): pick a random result
  * backend, cast the result to the canonical 6-type schema (§1.2), and write
  * it there as the job's result ([[Results]]). On a directory backend one
  * Spark job writes the part files into a hidden staging directory, and the
  * commit renames it onto `results_<id>` ([[DirResults]], [[ResultWrite]]).
  * The job result's row count (`core.go:436`) is read from the committed
  * result once the write returns.
  */
object Executor {

  /** Where a job's result went, and the rows it holds. */
  final case class ExecResult(count: Long, resultDir: String)

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
    sc.setLocalProperty(SchedulerPool, job.queue)
    try JobLiterals.asJob(spark, job.id) {
      // named DB else random pick (core.go:483-492)
      val srcDir = job.db.fold(task.dbs.getRandom(rnd)._2)(task.dbs.get)
      val out = CanonicalTypes.castToCanonical(buildFrame(spark, srcDir, task, job.args))
      Results.backend(task.resultBackends.getRandom(rnd)._2).write(out, job.id) // core.go:515
    } finally {
      sc.clearJobGroup()
      sc.setLocalProperty(SchedulerPool, null)
    }
  }

  /** The thread-local property that picks a Spark job's FAIR pool. */
  private val SchedulerPool = "spark.scheduler.pool"
}
