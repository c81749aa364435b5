package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{AnalyticsOps, TextOps}

import OpsFixture._

/** Round-8 twenty-fifth batch: ingest data-quality gate and the encoding
  * audit, replayed brute-force. */
class RoundEightBatchTwentyFiveSpec extends AnyFunSuite {
  test("events_dq_report: contract checks replay brute-force") {
    val evs = Tables.load(spark, dir, "events")
      .select(col("event_id"), col("value"), unix_micros(col("ts")))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val n = evs.length.toLong
    val dups = n - evs.map(_._1).distinct.length
    val neg = evs.count(_._2 < 0.0).toLong
    val outlier = evs.count(_._2 > 1000000.0).toLong
    def day(us: Long) = Math.floorDiv(Math.floorDiv(us, 1000000L), 86400L)
    val span = day(evs.map(_._3).max) - day(evs.map(_._3).min)
    val expected = (n, 0L, dups, neg, outlier, span,
      r6((n - 0 - dups - neg - outlier).toDouble / n))
    val got = AnalyticsOps.queries("events_dq_report")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6)))
    assert(got.toSeq == Seq(expected))
    // a healthy fixture passes its own gate
    assert(got.head._7 == 1.0)
  }

  test("text_ascii_audit: codepoint maxima replay brute-force") {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val expected = docs.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (src, ds) =>
        val maxes = ds.map(_._2.codePoints().max().getAsInt.toLong)
        val nonAscii = maxes.count(_ > 127L).toLong
        (src, ds.length.toLong, maxes.max, nonAscii,
          r6(nonAscii.toDouble / ds.length))
    }
    val got = TextOps.queries("text_ascii_audit")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(got.toSeq == expected)
    // the fixture is pure ASCII — the property every oracle's byte-fold
    // equivalence with PolyHash's codepoint fold depends on
    assert(got.forall(r => r._3 <= 127L && r._4 == 0L))
  }
}
