package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.AnalyticsOps

import OpsFixture._

/** Round-8 twenty-second batch: session-length distribution and the
  * Benford first-digit audit, replayed brute-force. */
class RoundEightBatchTwentyTwoSpec extends AnyFunSuite {
  test("session_stats: value-grain order statistics replay brute-force") {
    val evs = Tables.load(spark, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val gapUs = 30L * 60 * 1000000
    val sessions = evs.groupBy(_._1).values.toSeq.flatMap { rows =>
      val ts = rows.toSeq.sortBy(e => (e._2, e._3)).map(_._2)
      ts.foldLeft(List.empty[(Long, Long, Long)]) {
        case (h :: t, x) if x - h._2 <= gapUs => (h._1, x, h._3 + 1) :: t
        case (acc, x) => (x, x, 1L) :: acc
      }
    }.map { case (st, en, n) => (n, (en - st) / 1000000L) }
    val n = sessions.size.toLong
    def pick(k: Long): Long = {
      val sorted = sessions.map(_._2).sorted
      sorted((k - 1).toInt)
    }
    val expected = (n,
      r6(sessions.count(_._1 == 1L).toDouble / n),
      r6(sessions.map(_._1).sum.toDouble / n),
      pick((n + 1) / 2), pick((9 * n + 9) / 10), sessions.map(_._2).max)
    val got = AnalyticsOps.queries("session_stats")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.toSeq == Seq(expected))
    // the order statistics are ordered as order statistics must be
    val row = got.head
    assert(row._4 <= row._5 && row._5 <= row._6)
  }

  test("events_value_benford: digit census replays brute-force") {
    val vals = Tables.load(spark, dir, "events")
      .select(col("value")).collect().map(_.getDouble(0))
    val digits = vals.map(v =>
      math.floor(v * 100.0).toLong.toString.substring(0, 1).toLong)
    val total = digits.length.toLong
    val expected = (1L to 9L).map { d =>
      val nd = digits.count(_ == d).toLong
      val obs = r6(nd.toDouble / total)
      val exp = r6(math.log(1.0 + 1.0 / d) / math.log(10.0))
      (d, nd, total, obs, exp, r6((obs - exp) * (obs - exp) / exp * total))
    }
    val got = AnalyticsOps.queries("events_value_benford")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    assert(got.toSeq == expected)
    // observed shares partition the extract; expectations are Benford's
    // and decrease in the digit (the fixture's value generator happens to
    // be close to Benford — digit-1 share ≈ 0.29 — so the audit reads as
    // a pass there, which is itself a meaningful calibration check)
    assert(math.abs(got.map(_._4).sum - 1.0) < 1e-3)
    assert(got.head._5 == 0.30103)
    got.sliding(2).foreach {
      case Array(a, b) => assert(b._5 < a._5)
      case _ =>
    }
  }
}
