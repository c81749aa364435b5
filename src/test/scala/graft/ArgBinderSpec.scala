package graft

import org.apache.spark.sql.catalyst.analysis.NamedParameter
import org.apache.spark.sql.catalyst.expressions.{Alias, ExprId, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, OneRowRelation}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Arbitrary, Gen, Prop, Test => SCTest}
import OpsFixture.spark

/** Placeholder binding: task SQL is parsed once with its placeholders as
  * Spark parameter markers, and each job's arguments become typed
  * `Literal`s in its copy of the plan ([[Executor.bindPlan]]). */
class ArgBinderSpec extends AnyFunSuite {
  private def parser = spark.sessionState.sqlParser

  /** The job's bound plan for task SQL, every table bound to one stub. */
  private def bound(sql: String, args: String*): LogicalPlan =
    sameIds(Executor.bindPlan(spark, TaskRegistry.parse(spark, "t", sql), args, _ => OneRowRelation()))

  /** The same binding applied to SQL that holds its values as text. */
  private def text(sql: String): LogicalPlan =
    sameIds(Executor.bindPlan(spark, parser.parsePlan(sql), Nil, _ => OneRowRelation()))

  /** Each parse numbers its aliases afresh; two parses compare without them. */
  private def sameIds(p: LogicalPlan): LogicalPlan =
    p.transformAllExpressions { case a: Alias => Alias(a.child, a.name)(exprId = ExprId(0)) }

  /** The text rendering the binder used before plan binding: the type
    * oracle for [[ArgBinder.value]]. */
  private def oldLiteral(arg: String): String = {
    val a = arg.trim
    if (a.matches("""[+-]?\d{1,18}""")) a
    else if (a.matches("""[+-]?(\d+\.\d*|\.\d+|\d+)([eE][+-]?\d+)?""")) a
    else if (a.matches("""\d{4}-\d{2}-\d{2}[ T]\d{2}:\d{2}:\d{2}(\.\d+)?""")) s"TIMESTAMP '$a'"
    else if (a.matches("""\d{4}-\d{2}-\d{2}""")) s"DATE '$a'"
    else "'" + a.replace("\\", "\\\\").replace("'", "''") + "'"
  }

  private def passes(prop: Prop): Boolean =
    SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop).passed

  test("sniffs literal types long → double → timestamp → date → string") {
    def v(arg: String) = ArgBinder.value(parser, arg)
    assert(v("42") == Literal(42))
    assert(v("-7") == Literal(-7))
    assert(v("+7") == Literal(7))
    assert(v("1234567890123") == Literal(1234567890123L))
    assert(v("3.14") == Literal(BigDecimal("3.14")) && v("3.14").dataType == DecimalType(3, 2))
    assert(v("1e6") == Literal(1e6))
    assert(v("2024-01-02 03:04:05").dataType == TimestampType)
    assert(v("2024-01-02 03:04:05") == parser.parseExpression("TIMESTAMP '2024-01-02 03:04:05'"))
    assert(v("2024-01-02") == Literal(java.time.LocalDate.of(2024, 1, 2)))
    assert(v("abc") == Literal("abc"))
    assert(v("  abc ") == Literal("abc"))
  }

  test("binds $N positionally and repeatably (PG style, test.postgres.sql:12)") {
    assert(bound("SELECT * FROM t WHERE a = $1 AND b > $2 AND c = $1", "u1", "5") ==
      text("SELECT * FROM t WHERE a = 'u1' AND b > 5 AND c = 'u1'"))
  }

  test("binds ? in order of appearance (MySQL style, test.sql.sample)") {
    assert(bound("SELECT ? + ?", "1", "x") == text("SELECT 1 + 'x'"))
  }

  test("leaves placeholders inside quotes and comments untouched") {
    // the scanner's exact output: only placeholders outside quotes and
    // comments become markers
    assert(ArgBinder.markers("SELECT '$1?', a FROM t WHERE b = $1") ==
      "SELECT '$1?', a FROM t WHERE b = :_1")
    assert(ArgBinder.markers("SELECT 1 -- what about $1?\n , $1") ==
      "SELECT 1 -- what about $1?\n , :_1")
    assert(ArgBinder.markers("SELECT ? AS a /* why? $2 */ FROM t") ==
      "SELECT :_1 AS a /* why? $2 */ FROM t")
    assert(bound("SELECT '$1?', a FROM t WHERE b = $1", "9") ==
      text("SELECT '$1?', a FROM t WHERE b = 9"))
    assert(bound("SELECT 1 -- what about $1?\n , $1", "2") == text("SELECT 1 , 2"))
    assert(bound("SELECT ? AS a /* why? $2 */ FROM t", "1") == text("SELECT 1 AS a FROM t"))
    // a quote or a `?` inside a comment neither opens a string nor takes a
    // position, so the next `?` outside it is still the second argument
    assert(bound("SELECT ? AS a /* it's ? */, ? AS b", "1", "2") == text("SELECT 1 AS a, 2 AS b"))
    assert(bound("SELECT ? AS a -- it's ?\n, ? AS b", "1", "2") == text("SELECT 1 AS a, 2 AS b"))
  }

  test("backslash-escaped quotes inside strings don't desync the scanner") {
    assert(ArgBinder.markers("""SELECT 'it\'s ?', ? FROM t""") == """SELECT 'it\'s ?', :_1 FROM t""")
    assert(bound("""SELECT 'it\'s ?', ? FROM t""", "5") == text("""SELECT 'it\'s ?', 5 FROM t"""))
  }

  test("missing args are an error (driver would reject too)") {
    for ((sql, args) <- Seq("SELECT $2" -> Seq("a"), "SELECT ?, ?" -> Seq("a"), "SELECT $0" -> Nil)) {
      val e = intercept[IllegalArgumentException](bound(sql, args: _*))
      assert(e.getMessage.contains("missing argument for placeholder"), e.getMessage)
    }
  }

  test("string args can never escape their quotes (injection guard)") {
    // the placeholders sit in a projection, a repeat, a scalar subquery and
    // beside a quoted and a commented look-alike
    val sql = "SELECT ? AS a, ? AS b, $1 AS c, '?$2' AS d, (SELECT $2 AS e) AS f /* $3 ? */"
    val unbound = TaskRegistry.parse(spark, "t", sql)
    val hostile = Gen.oneOf("x\\", "', 1); DROP TABLE t; --", "*/", "$1", "?", "'", "\\'")
    val arg = Gen.frequency(1 -> hostile, 2 -> Arbitrary.arbitrary[String])
    val prop = Prop.forAll(arg, arg) { (a1, a2) =>
      val args = Seq(a1, a2)
      val expected = unbound.transformUpWithSubqueries { case p =>
        p.transformExpressionsUp { case NamedParameter(name) =>
          ArgBinder.value(parser, args(name.stripPrefix("_").toInt - 1))
        }
      }
      Executor.bindPlan(spark, unbound, args, _ => OneRowRelation()) == expected
    }
    assert(passes(prop))
    // each argument is exactly its own value, however it is quoted
    val args = Seq("x\\", "', 1); DROP TABLE t; --")
    val lits = bound(sql, args: _*).collectWithSubqueries { case p =>
      p.expressions.flatMap(_.collect { case Literal(v, StringType) => v.toString })
    }.flatten
    assert(lits.sorted == (args ++ args :+ "?$2").sorted)
  }

  test("backslash-tail args cannot swallow the closing quote (ADVICE r1)") {
    // with SQL-text binding, arg1 ending in '\' once escaped its closing quote
    // and arg2's content executed as raw SQL
    val args = Seq("x\\", "', 1); DROP TABLE t; --")
    val plan = bound("SELECT ? AS a, ? AS b", args: _*)
    // both args must survive as literal VALUES — nothing leaked into the plan
    val lits = plan.expressions.flatMap(_.collect { case Literal(v, _) if v != null => v.toString })
    assert(lits == args)
  }

  test("quoted literals round-trip through the real Spark parser (injection guard)") {
    // the bound Literal equals what the real Spark parser makes of the old
    // quoted rendering, in value and type
    val numeric = Gen.oneOf(Gen.choose(Long.MinValue, Long.MaxValue).map(_.toString),
      Gen.choose(-1e9, 1e9).map(_.toString), Gen.numStr.map(_.take(30)).filter(_.nonEmpty),
      Gen.oneOf("3.14", "-.5", "+7", "1e6", "1E-3", "12345678901234567890", "007"))
    val temporal = Gen.oneOf("2024-01-02", "2024-01-02 03:04:05", "2024-01-02T03:04:05.123456")
    val arg = Gen.frequency(3 -> Arbitrary.arbitrary[String], 2 -> numeric, 1 -> temporal)
    val prop = Prop.forAll(arg) { s =>
      val oracle = parser.parseExpression(oldLiteral(s)) match {
        case l: Literal => l
        case e          => Literal.create(e.eval(), e.dataType)
      }
      val got = ArgBinder.value(parser, s)
      got == oracle && got.dataType == oracle.dataType
    }
    assert(passes(prop))
  }

  test("both placeholder styles parse to Spark parameter markers") {
    val plan = TaskRegistry.parse(spark, "t", "SELECT * FROM t WHERE a = $1 AND b < ? AND c = $2")
    val markers = plan.flatMap(_.expressions).flatMap(_.collect { case NamedParameter(n) => n })
    assert(markers == Seq("_1", "_1", "_2"))
  }
}
