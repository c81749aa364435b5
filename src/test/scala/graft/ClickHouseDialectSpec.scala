package graft

import org.apache.spark.sql.jdbc.JdbcDialects
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** ClickHouse dialect coverage — no live server needed: the dialect's whole
  * contract (URL claim, identifier quoting, both type maps, DDL fragments)
  * is pure, and the write-path integration is pinned through the Spark
  * dialect registry + [[Executor]] helpers. The reference's ClickHouse
  * support is delegation plus these exact concerns (quoting sqldb.go:307-314,
  * type canonicalization sqldb.go:254-281). */
class ClickHouseDialectSpec extends AnyFunSuite {
  private val d = ClickHouseDialect

  test("canHandle claims clickhouse/ch URLs and nothing else") {
    assert(d.canHandle("jdbc:clickhouse://host:8123/db"))
    assert(d.canHandle("jdbc:ch://host:8123/db"))
    assert(d.canHandle("JDBC:CLICKHOUSE://x/y")) // scheme is case-insensitive
    assert(!d.canHandle("jdbc:mysql://host/db"))
    assert(!d.canHandle("jdbc:postgresql://host/db"))
    assert(!d.canHandle("jdbc:derby:memory:x"))
  }

  test("registry resolves the dialect for clickhouse URLs after registration") {
    ClickHouseDialect.ensureRegistered()
    ClickHouseDialect.ensureRegistered() // idempotent
    assert(JdbcDialects.get("jdbc:clickhouse://host:8123/db") eq d)
    assert(JdbcDialects.get("jdbc:ch://h/d") eq d)
  }

  test("identifier quoting is backtick with embedded-backtick doubling") {
    assert(d.quoteIdentifier("results_job_1") == "`results_job_1`")
    assert(d.quoteIdentifier("weird`name") == "`weird``name`")
  }

  test("read map: scalar core types") {
    val cases = Map(
      "Int8" -> ByteType, "Int16" -> ShortType, "Int32" -> IntegerType,
      "Int64" -> LongType, "UInt8" -> ShortType, "UInt16" -> IntegerType,
      "UInt32" -> LongType, "UInt64" -> DecimalType(20, 0),
      "Float32" -> FloatType, "Float64" -> DoubleType, "Bool" -> BooleanType,
      "Date" -> DateType, "Date32" -> DateType,
      "DateTime" -> TimestampType, "DateTime64(3)" -> TimestampType,
      "String" -> StringType, "UUID" -> StringType,
      "FixedString(16)" -> StringType, "Enum8('a' = 1)" -> StringType,
      "Decimal(18, 6)" -> DecimalType(18, 6),
      "Decimal64(4)" -> DecimalType(18, 4),
    )
    cases.foreach { case (ch, dt) =>
      assert(d.catalystFor(ch).contains(dt), s"for $ch")
    }
    assert(d.catalystFor("AggregateFunction(sum, UInt64)").isEmpty) // unmapped
  }

  test("read map unwraps Nullable / LowCardinality and nests through Array") {
    assert(d.catalystFor("Nullable(Int64)").contains(LongType))
    assert(d.catalystFor("LowCardinality(String)").contains(StringType))
    assert(d.catalystFor("LowCardinality(Nullable(String))").contains(StringType))
    assert(d.catalystFor("Array(Int64)").contains(ArrayType(LongType, true)))
    assert(d.catalystFor("Array(Nullable(String))")
      .contains(ArrayType(StringType, true)))
    assert(d.catalystFor("Array(Array(Int32))")
      .contains(ArrayType(ArrayType(IntegerType, true), true)))
  }

  test("write map covers every canonical result type") {
    // the closed canonical set (CanonicalTypes §1.2) must all have DDL
    val canonical = Seq(LongType, DoubleType, TimestampType, DateType,
      BooleanType, StringType, BinaryType)
    canonical.foreach { dt =>
      assert(d.getJDBCType(dt).isDefined, s"no ClickHouse DDL for $dt")
    }
    assert(d.getJDBCType(LongType).get.databaseTypeDefinition == "Int64")
    assert(d.getJDBCType(DoubleType).get.databaseTypeDefinition == "Float64")
    assert(d.getJDBCType(TimestampType).get.databaseTypeDefinition == "DateTime64(6)")
    assert(d.getJDBCType(DateType).get.databaseTypeDefinition == "Date32")
    assert(d.getJDBCType(BooleanType).get.databaseTypeDefinition == "Bool")
    assert(d.getJDBCType(StringType).get.databaseTypeDefinition == "String")
    // arrays (the PG-array passthrough analog) nest
    assert(d.getJDBCType(ArrayType(LongType, true)).get
      .databaseTypeDefinition == "Array(Int64)")
  }

  test("truncate is non-cascading TRUNCATE TABLE") {
    assert(d.getTruncateQuery("`results_x`") == "TRUNCATE TABLE `results_x`")
    assert(d.isCascadingTruncateTable().contains(false))
  }

  test("executor quotes clickhouse result tables with backticks and appends the engine clause") {
    assert(JdbcResults("jdbc:clickhouse://h/d").table("job-1") == "`results_job-1`")
    assert(JdbcResults("jdbc:mysql://h/d").table("job-1") == "`results_job-1`")
    assert(JdbcResults("jdbc:postgresql://h/d").table("job-1") == "\"results_job-1\"")
    assert(ClickHouseDialect.resultTableEngine.startsWith("ENGINE ="))
  }
}
