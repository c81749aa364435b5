package graft

import java.time.LocalDate

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.AnalyticsOps

import OpsFixture._

/** Round-8 sixteenth batch: daily new-vs-returning split and the
  * 24-hour-windowed conversion funnel, replayed brute-force. */
class RoundEightBatchSixteenSpec extends AnyFunSuite {
  private lazy val evs: Array[(Long, String, Long)] =
    Tables.load(spark, dir, "events")
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))

  private def day(us: Long): LocalDate =
    LocalDate.ofEpochDay(Math.floorDiv(Math.floorDiv(us, 1000000L), 86400L))

  test("events_new_vs_returning: first-seen split replays brute-force") {
    val first = evs.groupBy(_._1).view.mapValues(es => day(es.map(_._3).min)).toMap
    val active = evs.map(e => (day(e._3), e._1)).distinct
    val expected = active.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (d, us) =>
        val nNew = us.count { case (_, u) => first(u) == d }.toLong
        (d.toString, us.length.toLong, nNew, us.length - nNew,
          r6(nNew.toDouble / us.length))
    }
    val got = AnalyticsOps.queries("events_new_vs_returning")(spark, dir)
      .collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    assert(got.toSeq == expected)
    // day one is all new; the new share then decays
    assert(got.head._5 == 1.0)
    assert(got.last._5 < got.head._5)
    // conservation: every day's split sums back to the active count
    got.foreach(r => assert(r._3 + r._4 == r._2))
  }

  test("events_funnel_windowed: 24h-bounded stages replay brute-force") {
    val dayUs = 86400L * 1000000L
    val t1 = evs.filter(_._2 == "view").groupBy(_._1)
      .view.mapValues(_.map(_._3).min).toMap
    val t2 = evs.filter(_._2 == "click")
      .filter(e => t1.get(e._1).exists(t => e._3 > t && e._3 <= t + dayUs))
      .groupBy(_._1).view.mapValues(_.map(_._3).min).toMap
    val t3 = evs.filter(_._2 == "purchase")
      .filter(e => t2.get(e._1).exists(t => e._3 > t && e._3 <= t + dayUs))
      .groupBy(_._1).view.mapValues(_.map(_._3).min).toMap
    val expected = Seq(
      ("1_view", t1.size.toLong),
      ("2_click_24h", t2.size.toLong),
      ("3_purchase_24h", t3.size.toLong))
    val got = AnalyticsOps.queries("events_funnel_windowed")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == expected)
    // the funnel narrows, and the windowed stages can't beat the
    // unbounded funnel's counts
    assert(got(0)._2 >= got(1)._2 && got(1)._2 >= got(2)._2)
    val unbounded = AnalyticsOps.queries("events_funnel")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got(1)._2 <= unbounded(1)._2)
  }
}
