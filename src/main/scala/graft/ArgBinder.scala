package graft

import org.apache.spark.sql.catalyst.analysis.NamedParameter
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.parser.ParserInterface

/** Positional-argument binding for task SQL.
  *
  * The reference passes job args straight to the driver as query parameters
  * (`db.QueryContext(ctx, task.Raw, args...)`, `internal/core/core.go:496`)
  * with `$1..$n` (PG) or `?` (MySQL) placeholders; args are always strings
  * (`models/models.go:15`) and the source DB coerces them. The port does the
  * same with Spark's parameter markers: before a task's one parse,
  * [[markers]] rewrites each placeholder outside quotes and comments into the
  * named marker `:_k`, and each job binds its own [[value]] for every marker
  * into its copy of the parsed plan ([[Executor.buildFrame]]). An argument
  * never becomes SQL text, so it cannot change the statement's shape.
  */
object ArgBinder {
  private val Ts = """\d{4}-\d{2}-\d{2}[ T]\d{2}:\d{2}:\d{2}(\.\d+)?""".r
  private val Dt = """\d{4}-\d{2}-\d{2}""".r
  private val Num = """[+-]?(\d+\.\d*|\.\d+|\d+)([eE][+-]?\d+)?""".r
  private val MarkerName = """_(\d+)""".r

  /** One string arg as a typed literal, sniffed long → double → timestamp →
    * date → string. A number, date or timestamp goes through the parser as
    * that one token, so its type is the parser's (`42` → INT, `3.14` →
    * DECIMAL(3,2), `1e6` → DOUBLE); anything else is the trimmed string. */
  def value(parser: ParserInterface, arg: String): Literal = {
    def parsed(token: String): Literal = parser.parseExpression(token) match {
      case l: Literal => l
      case e => Literal.create(e.eval(), e.dataType) // `+7` parses as UnaryPositive
    }
    val a = arg.trim
    if (Num.matches(a)) parsed(a)
    else if (Ts.matches(a)) parsed(s"TIMESTAMP '$a'")
    else if (Dt.matches(a)) parsed(s"DATE '$a'")
    else Literal(a)
  }

  /** The argument number k of a marker [[markers]] wrote. */
  object Placeholder {
    def unapply(p: NamedParameter): Option[Int] = p.name match {
      case MarkerName(k) => Some(k.toInt)
      case _             => None
    }
  }

  /** Rewrite `$N` / `?` placeholders (outside quotes/comments) into the
    * named markers [[Placeholder]] reads back. `?` binds positionally in
    * order of appearance; `$N` binds args(N-1) and may repeat.
    */
  def markers(sql: String): String = rewrite(sql)._1

  /** [[markers]]' text, and for each marker's number the placeholder as the
    * task wrote it (`"2"` → `$2`, or `?` for the second `?`). */
  def rewrite(sql: String): (String, Map[String, String]) = {
    val out = new StringBuilder(sql.length + 32)
    val written = Map.newBuilder[String, String]
    var i = 0
    var qIdx = 0 // positional '?' seen so far
    val n = sql.length
    // n=normal, ' or "=inside that quote, l=line comment, b=block comment
    var state: Char = 'n'
    while (i < n) {
      val c = sql.charAt(i)
      state match {
        case 'n' =>
          if (c == '\'' || c == '"') { state = c; out.append(c); i += 1 }
          else if (c == '-' && i + 1 < n && sql.charAt(i + 1) == '-') { state = 'l'; out.append("--"); i += 2 }
          else if (c == '/' && i + 1 < n && sql.charAt(i + 1) == '*') { state = 'b'; out.append("/*"); i += 2 }
          else if (c == '?') { qIdx += 1; out.append(s":_$qIdx"); written += qIdx.toString -> "?"; i += 1 }
          else if (c == '$' && i + 1 < n && sql.charAt(i + 1).isDigit) {
            var j = i + 1
            while (j < n && sql.charAt(j).isDigit) j += 1
            val k = sql.substring(i + 1, j)
            out.append(":_").append(k); written += k -> sql.substring(i, j); i = j
          } else { out.append(c); i += 1 }
        case '\'' | '"' =>
          // Spark string literals support backslash escapes (incl. \') and
          // '' doubling — consume escape pairs so the quote state stays true
          if (c == '\\' && i + 1 < n) { out.append(c).append(sql.charAt(i + 1)); i += 2 }
          else {
            out.append(c)
            if (c == state) state = 'n'
            i += 1
          }
        case 'l' =>
          out.append(c)
          if (c == '\n') state = 'n'
          i += 1
        case 'b' =>
          if (c == '*' && i + 1 < n && sql.charAt(i + 1) == '/') { state = 'n'; out.append("*/"); i += 2 }
          else { out.append(c); i += 1 }
      }
    }
    (out.toString, written.result())
  }
}
