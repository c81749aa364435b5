package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import OpsFixture.spark

/** Suite-wide output-schema convention: every query's result columns are
  * float-once/int64/string/date — never DECIMAL. The driver's hash gate
  * canonicalizes decimal columns differently between the Spark parquet and
  * the DuckDB oracle (CORRECTNESS_r08: events_cohort_ltv was bit-identical
  * value-wise yet hash-red, the suite's only decimal output). Decimals are
  * fine — required, even — as INTERNAL quantization for order-insensitive
  * float sums; they just must be cast to DOUBLE before the final select.
  */
class OutputConventionSpec extends AnyFunSuite {
  private val sf = TestSpark.sf0001

  private def decimalLeaves(dt: DataType, path: String): Seq[String] = dt match {
    case _: DecimalType     => Seq(path)
    case s: StructType      => s.fields.flatMap(f => decimalLeaves(f.dataType, s"$path.${f.name}"))
    case a: ArrayType       => decimalLeaves(a.elementType, s"$path[]")
    case m: MapType         => decimalLeaves(m.keyType, s"$path<key>") ++
                               decimalLeaves(m.valueType, s"$path<val>")
    case _                  => Nil
  }

  test("no query emits a DECIMAL-typed output column") {
    val offenders = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      val schema = fn(spark, sf).schema // lazy: plan analysis only, no jobs
      schema.fields.flatMap(f => decimalLeaves(f.dataType, f.name))
        .map(col => s"$name:$col")
    }
    assert(offenders.isEmpty,
      s"decimal output columns (cast to DOUBLE before the final select): $offenders")
  }
}
