package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, EmptyBlock,
  ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.DataType

/** One generated class per task, not one per argument value.
  *
  * A job's arguments reach its plan as `Literal`s ([[Executor.bindPlan]]),
  * and Spark writes a primitive `Literal` into the generated Java as text
  * (`user_id == 886L`): every new value would be new source, compiled
  * again. For a plan that a thread makes inside [[asJob]], as
  * [[Executor.run]] runs every job, this strategy plans each node through the
  * session's other strategies and then swaps every non-null primitive
  * literal in the returned `FilterExec` and `ProjectExec` for a
  * [[ReferencedLiteral]], whose generated code reads the value from the
  * class's `references`. The source text is then the same for every value,
  * and Spark's code cache serves all jobs of a task after the first.
  *
  * Scans keep their `Literal`s, so pushed filters and Parquet row-group
  * pruning are as before; AQE re-planning passes through the strategy too.
  * Aggregates, windows and sorts are not touched, and inside the two
  * operators an expression whose type check needs a foldable argument
  * (ROUND's scale) keeps its literal. Plans made outside a job are planned
  * exactly as without the strategy.
  *
  * Two argument kinds still compile once per distinct value. A `LIKE $1`
  * pattern is a string, which is never swapped, and `Like`'s code
  * generation escapes it into the Java source. A decimal argument's
  * precision sets the types of the expressions around it, so each
  * precision gets its own class. Both are left alone until a workload
  * shows them.
  */
object JobLiterals extends SparkStrategy {

  /** The thread-local Spark property that marks a thread's plans as a
    * job's; its value is the job ID. */
  private val JobProperty = "graft.job.id"

  /** Run `f` on this thread with its plans planned as job `jobId`'s. */
  def asJob[A](session: SparkSession, jobId: String)(f: => A): A = {
    install(session)
    val sc = session.sparkContext
    sc.setLocalProperty(JobProperty, jobId)
    try f finally sc.setLocalProperty(JobProperty, null)
  }

  /** Put the strategy first in the session's planner, once: a session's
    * planner reads its extra strategies on every plan, so this takes effect
    * on a live session. */
  private def install(session: SparkSession): Unit = synchronized {
    val ex = session.experimental
    if (!ex.extraStrategies.contains(this)) ex.extraStrategies = this +: ex.extraStrategies
  }

  def apply(plan: LogicalPlan): Seq[SparkPlan] = {
    val session = SparkSession.active
    if (session.sparkContext.getLocalProperty(JobProperty) == null) Nil
    else session.sessionState.planner.strategies.iterator.filterNot(_ eq this)
      .map(_(plan)).find(_.nonEmpty).getOrElse(Nil).map(referenced)
  }

  private def referenced(p: SparkPlan): SparkPlan = p.transform {
    case n @ (_: FilterExec | _: ProjectExec) => n.transformExpressionsUp {
      case l: Literal if l.value != null && CodeGenerator.isPrimitiveType(l.dataType) => ReferencedLiteral(l)
      // an argument that must be foldable (ROUND's scale, ...) fails the
      // type check without a literal: that expression keeps its literals
      case e if !e.resolved => e.transform { case r: ReferencedLiteral => r.literal }
    }
  }
}

/** A non-null primitive literal that generated code reads from a field,
  * set once from the class's `references`, instead of from its own text.
  * Not foldable, so no rule folds it back into a `Literal`. */
final case class ReferencedLiteral(literal: Literal) extends LeafExpression {
  override def dataType: DataType = literal.dataType
  override def foldable: Boolean = false
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = literal.value
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("literal", literal.value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(CodeGenerator.javaType(dataType), "literal", v => s"$v = $ref;")
    ev.copy(code = EmptyBlock, isNull = FalseLiteral, value = JavaCode.global(field, dataType))
  }
}
