package graft

import org.apache.spark.sql.execution.datasources.jdbc.JdbcUtils
import org.apache.spark.sql.jdbc.JdbcDialects
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The MySQL/Postgres result-table DDL the JDBC result leg would emit
  * against the reference's two supported external backends — pinned as
  * golden strings because no live MySQL/PG exists in the sandbox (the
  * reference's CI runs service containers, `test.yml:18-50`). The DDL is
  * generated by the SAME code path `Executor.run` uses (Spark's dialect
  * registry + JdbcUtils.schemaString over the canonicalized schema), so
  * these specs exercise the exact per-dialect quoting and type-map
  * branches that would hit a real server — mirroring
  * `sqldb.go:230-314`'s createTableSchema/quoteIdentifier.
  *
  * Documented deviations from the reference's string-level map:
  * - the reference's DECIMAL class lands as DOUBLE PRECISION / FLOAT8
  *   (CanonicalTypes canonicalizes the class to DoubleType — float-once
  *   convention) rather than DECIMAL;
  * - MySQL BOOLEAN arrives as BIT(1) (MySQL's BOOLEAN is itself just an
  *   alias for TINYINT(1); both round-trip 0/1);
  * - MySQL TEXT class lands as LONGTEXT (a superset of TEXT);
  * - Postgres timestamps land as TIMESTAMP WITH TIME ZONE where the
  *   reference emits plain TIMESTAMP (sqldb.go:261-262). This one is
  *   SEMANTIC, not spelling: timestamptz normalizes to UTC and renders in
  *   the session time zone on read, so a reader whose session TZ differs
  *   from the writer's sees a shifted wall-clock rendering of the same
  *   instant, while the reference's naive TIMESTAMP stores the wall clock
  *   unchanged. Spark's JDBC writer binds java.sql.Timestamp (an instant),
  *   which is exactly what timestamptz preserves — instants round-trip
  *   bit-exactly; only the *rendering* is session-dependent. Also listed
  *   in docs/MIGRATION.md's JDBC-deviation table.
  */
class JdbcDialectDdlSpec extends AnyFunSuite {

  /** The closed 6-class canonical result schema (sqldb.go:254-281), with
    * one NOT NULL column to pin nullability preservation (sqldb.go:283-285). */
  private val canonical = CanonicalTypes.canonicalSchema(StructType(Seq(
    StructField("n", IntegerType, nullable = false), // -> BIGINT NOT NULL
    StructField("x", DecimalType(18, 6)),            // DECIMAL class -> DOUBLE
    StructField("ts", TimestampType),
    StructField("day", DateType),
    StructField("ok", BooleanType),
    StructField("note", StringType))))

  private def ddl(url: String): String = {
    val d = JdbcDialects.get(url)
    JdbcUtils.schemaString(d, canonical, caseSensitive = false)
      .replaceAll("\\s+", " ").trim
  }

  test("MySQL result DDL: backtick quoting + reference type classes") {
    assert(ddl("jdbc:mysql://host/db") ==
      "`n` BIGINT NOT NULL, `x` DOUBLE PRECISION , `ts` TIMESTAMP , " +
      "`day` DATE , `ok` BIT(1) , `note` LONGTEXT")
  }

  test("Postgres result DDL: double-quote quoting + reference type classes") {
    assert(ddl("jdbc:postgresql://host/db") ==
      "\"n\" BIGINT NOT NULL, \"x\" FLOAT8 , \"ts\" TIMESTAMP WITH TIME ZONE , " +
      "\"day\" DATE , \"ok\" BOOLEAN , \"note\" TEXT")
  }

  test("Derby (the executed-in-CI backend) result DDL stays in the same classes") {
    assert(ddl("jdbc:derby:memory:g") ==
      "\"n\" BIGINT NOT NULL, \"x\" DOUBLE PRECISION , \"ts\" TIMESTAMP , " +
      "\"day\" DATE , \"ok\" BOOLEAN , \"note\" CLOB")
  }

  test("identifier quoting matches sqldb.go:307-314 per dialect, keywords included") {
    assert(JdbcDialects.get("jdbc:mysql://h/db").quoteIdentifier("select") == "`select`")
    assert(JdbcDialects.get("jdbc:postgresql://h/db").quoteIdentifier("select") == "\"select\"")
    // and the result-table name template threads the same quoting
    assert(JdbcResults("jdbc:mysql://h/db").table("job-1") == "`results_job-1`")
    assert(JdbcResults("jdbc:postgresql://h/db").table("job-1") == "\"results_job-1\"")
  }

  test("every canonical class maps to a concrete MySQL AND Postgres type (no default TEXT fallthrough for typed classes)") {
    // the reference's switch has an explicit arm per class; Spark's dialect
    // must resolve a JDBC type for each canonical Spark type too — a None
    // here would mean the writer falls back to an error at CREATE time
    val classes = Seq(LongType, DoubleType, TimestampType, DateType,
      BooleanType, StringType)
    for (url <- Seq("jdbc:mysql://h/db", "jdbc:postgresql://h/db");
         dt <- classes) {
      val d = JdbcDialects.get(url)
      val jdbc = d.getJDBCType(dt).orElse(JdbcUtils.getCommonJDBCType(dt))
      assert(jdbc.nonEmpty, s"$url has no JDBC type for $dt")
    }
  }
}
