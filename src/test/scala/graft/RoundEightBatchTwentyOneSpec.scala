package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.AnalyticsOps

import OpsFixture._

/** Round-8 twenty-first batch: masked safe view and the hour-of-day
  * activity profile, replayed brute-force. */
class RoundEightBatchTwentyOneSpec extends AnyFunSuite {
  test("privacy_safe_view: masking replays and no raw identifier survives") {
    val evs = Tables.load(spark, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")), col("event_type"),
        col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getDouble(3)))
    import graft.functions.PolyHash.{Mult, P}
    val expected = evs.map { case (u, us, t, v) =>
      val day = java.time.LocalDate.ofEpochDay(
        Math.floorDiv(Math.floorDiv(us, 1000000L), 86400L)).toString
      (u % P * Mult % P, day, t, math.floor(v / 10.0).toLong * 10)
    }.sortBy(r => (r._1, r._2, r._3, r._4)).toSeq
    val got = AnalyticsOps.queries("privacy_safe_view")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDate(1).toString, r.getString(2),
        r.getLong(3)))
    assert(got.toSeq == expected)
    // pseudonymization is injective on the fixture's id range (the affine
    // map mod a prime is a bijection below the modulus)
    val users = evs.map(_._1).distinct
    assert(users.map(u => u % P * Mult % P).distinct.length == users.length)
  }

  test("events_hour_profile: hour census replays brute-force") {
    val evs = Tables.load(spark, dir, "events")
      .select(col("event_type"), hour(col("ts")).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val expected = evs.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .groupBy(_._1._1).toSeq.sortBy(_._1).flatMap { case (t, hs) =>
        val typeN = hs.map(_._2).sum
        val maxN = hs.map(_._2).max
        hs.map { case ((_, hh), n) =>
          (t, hh, n, r6(n.toDouble / typeN), n == maxN)
        }.sortBy(_._2)
      }
    val got = AnalyticsOps.queries("events_hour_profile")(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getBoolean(4)))
    assert(got.toSeq == expected)
    // shares sum to 1 per type and exactly one peak value exists
    got.groupBy(_._1).values.foreach { rows =>
      assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-3)
      assert(rows.exists(_._5))
    }
  }
}
