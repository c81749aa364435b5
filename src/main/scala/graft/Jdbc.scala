package graft

import java.sql.{Connection, DriverManager, PreparedStatement, ResultSet, SQLException}
import scala.util.Using

/** The job layer's one way to run SQL over JDBC: every statement of the JDBC
  * control plane ([[JdbcControlPlane]]) and of the JDBC result backend
  * ([[JdbcResults]], [[ResultSweeper]]) goes through here. A statement runs
  * on its own in autocommit, its `String`, `Long` and `Int` parameters are
  * bound by position, and every connection, statement and result set is
  * closed however the call ends.
  */
private[graft] object Jdbc {
  def withConn[A](url: String)(f: Connection => A): A =
    Using.resource(DriverManager.getConnection(url))(f)

  /** Run one INSERT, UPDATE, DELETE or DDL statement; the rows it changed. */
  def update(c: Connection, sql: String, params: Any*): Int =
    Using.resource(prepare(c, sql, params))(_.executeUpdate())

  /** Run one query; `row` maps each result row, in order. */
  def query[A](c: Connection, sql: String, params: Any*)(row: ResultSet => A): List[A] =
    Using.resource(prepare(c, sql, params)) { ps =>
      Using.resource(ps.executeQuery())(rs =>
        Iterator.continually(rs).takeWhile(_.next()).map(row).toList)
    }

  private def prepare(c: Connection, sql: String, params: Seq[Any]): PreparedStatement = {
    val ps = c.prepareStatement(sql)
    try params.zipWithIndex.foreach {
      case (s: String, i) => ps.setString(i + 1, s)
      case (n: Long, i) => ps.setLong(i + 1, n)
      case (n: Int, i) => ps.setInt(i + 1, n)
      case (p, i) =>
        throw new IllegalArgumentException(s"parameter ${i + 1} is not a String, Long or Int: $p")
    } catch { case e: Throwable => ps.close(); throw e }
    ps
  }

  /** Duplicate-key: SQLState 23xxx (integrity violation) across engines. */
  def isDuplicateKey(e: SQLException): Boolean =
    Option(e.getSQLState).exists(_.startsWith("23"))

  /** Table-already-exists: Derby X0Y32; Postgres 42P07; MySQL 42S01; H2
    * 42S01/42101. ONLY these — the broader 42xxx class covers every syntax
    * error and access violation, and swallowing those in ensureSchema turns
    * a real DDL failure (permissions, reserved word on a new engine) into a
    * confusing table-not-found much later. */
  def isTableExists(e: SQLException): Boolean =
    Option(e.getSQLState).exists(s =>
      s == "X0Y32" || s == "42P07" || s == "42S01" || s == "42101")
}
