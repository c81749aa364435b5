package graft

import java.time.Instant

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamOps
import OpsFixture.spark

/** Schema-on-read adaptation of `events.ts` (the round-6 breakage class):
  * fixture generations have shipped ts as TIMESTAMP(NANOS), TIMESTAMP(MICROS)
  * and raw epoch longs, and both the batch loader and the stream source must
  * canonicalize ALL of them to microsecond TimestampType — the reference
  * adapts to whatever the driver reports at runtime (dungbeetle
  * sqldb.go:254-281) and never hard-codes a unit.
  */
class TsUnitSpec extends AnyFunSuite {
  import spark.implicits._

  // one fixed instant, expressed in every unit the detector must classify
  private val micros = Instant.parse("2024-03-05T06:07:08.123456Z").toEpochMilli * 1000L + 456L

  private def inst(us: Long): Instant =
    Instant.ofEpochSecond(Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L)

  /** Write a one-row events fixture whose ts column is produced by `tsCol`,
    * return the sf-dir path holding events.parquet. */
  private def fixture(tsCol: DataFrame => DataFrame): String = {
    val dir = TempDirs.make("graft-tsunit-").toFile
    val base = Seq((1L, 42L, "click", 1.5, """{"k":1}"""))
      .toDF("event_id", "user_id", "event_type", "value", "props")
    tsCol(base).write.mode("overwrite").parquet(s"${dir.getPath}/events.parquet")
    dir.getPath
  }

  private def loadedTs(d: String): (DataType, Instant) = {
    val df = Tables.load(spark, d, "events")
    (df.schema("ts").dataType, df.select(col("ts")).head.getTimestamp(0).toInstant)
  }

  test("raw long epoch-nanos detects div-1000") {
    val (dt, ts) = loadedTs(fixture(_.withColumn("ts", lit(micros * 1000L))))
    assert(dt == TimestampType && ts == inst(micros))
  }

  test("raw long epoch-micros passes through") {
    val (dt, ts) = loadedTs(fixture(_.withColumn("ts", lit(micros))))
    assert(dt == TimestampType && ts == inst(micros))
  }

  test("raw long epoch-millis multiplies up") {
    val (dt, ts) = loadedTs(fixture(_.withColumn("ts", lit(micros / 1000L))))
    assert(dt == TimestampType && ts == inst(micros / 1000L * 1000L))
  }

  test("raw long epoch-seconds multiplies up") {
    val (dt, ts) = loadedTs(fixture(_.withColumn("ts", lit(micros / 1000000L))))
    assert(dt == TimestampType && ts == inst(micros / 1000000L * 1000000L))
  }

  test("TIMESTAMP(MICROS) without tz (TIMESTAMP_NTZ) reinterprets as UTC") {
    // timestamp_micros gives the instant; NTZ cast keeps the UTC wall clock
    // (session tz is UTC), and parquet stores it as timestamp[us] no-tz —
    // the exact physical shape of the round-6 regenerated fixtures
    val (dt, ts) = loadedTs(fixture(
      _.withColumn("ts", timestamp_micros(lit(micros)).cast("timestamp_ntz"))))
    assert(dt == TimestampType && ts == inst(micros))
  }

  test("instant TimestampType is used as-is") {
    val (dt, ts) = loadedTs(fixture(_.withColumn("ts", timestamp_micros(lit(micros)))))
    assert(dt == TimestampType && ts == inst(micros))
  }

  test("canary: the real fixture loads ts as TimestampType") {
    // If a future fixture regeneration changes the physical ts type again,
    // fail HERE with one clear message — not in 51 downstream specs.
    val df = Tables.load(spark, TestSpark.sf0001, "events")
    assert(df.schema("ts").dataType == TimestampType,
      s"events.ts must canonicalize to TimestampType; got ${df.schema("ts").dataType}. " +
        "The fixture's physical type changed — extend Tables.tsCanonExpr.")
    assert(df.filter(year(col("ts")).between(1990, 2100)).count() == df.count(),
      "events.ts values land outside 1990-2100 — the epoch-unit detection picked a wrong divisor")
  }

  test("stream source agrees with batch loader on every unit") {
    // nanos-long and ntz-micros cover both decision branches that differ
    // from a plain typed read
    for (mk <- Seq[DataFrame => DataFrame](
        _.withColumn("ts", lit(micros * 1000L)),
        _.withColumn("ts", timestamp_micros(lit(micros)).cast("timestamp_ntz")))) {
      val d = fixture(mk)
      val batchTs = Tables.load(spark, d, "events").select(col("ts")).head.getTimestamp(0)
      val stream = StreamOps.eventStreamPublic(spark, d)
      assert(stream.schema("ts").dataType == TimestampType)
      val q = stream.writeStream.format("memory")
        .queryName(s"tsunit_${System.nanoTime()}")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation",
          TempDirs.make("graft-tsunit-ckpt-").toString)
        .start()
      q.awaitTermination()
      val streamTs = spark.table(q.name).select(col("ts")).head.getTimestamp(0)
      assert(streamTs == batchTs, s"stream ts $streamTs != batch ts $batchTs")
    }
  }
}
