package graft

import java.time.LocalDate

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.AnalyticsOps

import OpsFixture._

/** Round-8 seventeenth batch: STL-shaped daily decomposition and the
  * join-key skew audit, replayed brute-force. */
class RoundEightBatchSeventeenSpec extends AnyFunSuite {
  test("events_decompose: rational components replay and sum back to y") {
    val daily = Tables.load(spark, dir, "events")
      .select(col("event_type"), to_date(col("ts")))
      .collect().map(r => (r.getString(0), r.getDate(1).toLocalDate))
      .groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .map { case ((t, d), n) => (t, d, n) }
    val expected = daily.groupBy(_._1).toSeq.sortBy(_._1).flatMap {
      case (t, rows) =>
        val byDay = rows.sortBy(_._2.toEpochDay)
        val interior = byDay.indices.collect {
          case i if i >= 3 && i + 3 < byDay.size &&
            // a full ±3 CALENDAR window also needs contiguous days; the
            // fixture is dense so row-window == calendar-window here
            true =>
            val tSum = (i - 3 to i + 3).map(j => byDay(j)._3).sum
            val (_, d, y) = byDay(i)
            (d, y, tSum, 7 * y - tSum, d.getDayOfWeek.getValue.toLong)
        }
        val seas = interior.groupBy(_._5).view
          .mapValues(rs => (rs.map(_._4).sum, rs.size.toLong)).toMap
        interior.map { case (d, y, tSum, det7, dow) =>
          val (sNum, nDow) = seas(dow)
          (t, d.toString, y, r6(tSum.toDouble / 7.0),
            r6(sNum.toDouble / (7.0 * nDow)),
            r6((det7 * nDow - sNum).toDouble / (7.0 * nDow)))
        }.sortBy(_._2)
    }
    val got = AnalyticsOps.queries("events_decompose")(spark, dir).collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(got.toSeq == expected)
    // the decomposition reconstructs the observation to rounding slack
    got.foreach { r =>
      assert(math.abs(r._3.toDouble - (r._4 + r._5 + r._6)) < 5e-6,
        s"components don't sum back for ${r._1} ${r._2}")
    }
    // seasonal components cancel over each type (mean-zero by construction)
    got.groupBy(_._1).values.foreach { rows =>
      val byDow = rows.groupBy(r => LocalDate.parse(r._2).getDayOfWeek)
        .values.map(_.head._5)
      assert(math.abs(byDow.sum / byDow.size) < 1.0)
    }
  }

  test("profile_key_skew: top keys and census replay brute-force") {
    val keys = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey")).collect().map(_.getLong(0))
    val counts = keys.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val nRows = keys.length.toLong
    val nKeys = counts.size.toLong
    val maxN = counts.values.max
    val skew = r6(maxN.toDouble * nKeys.toDouble / nRows.toDouble)
    val expected = counts.toSeq.sortBy { case (k, n) => (-n, k) }.take(20)
      .map { case (k, n) =>
        (k, n, r6(n.toDouble / nRows.toDouble), nKeys, skew)
      }
    val got = AnalyticsOps.queries("profile_key_skew")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getDouble(4)))
    assert(got.toSeq == expected)
    // a skew ratio of 1 means perfectly uniform; it can't be below 1
    assert(got.head._5 >= 1.0)
  }
}
