package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{AnalyticsOps, TextOps}

import OpsFixture._

/** Round-8 nineteenth batch: duplication-vs-quality correlation and the
  * SCD2 point-in-time snapshot, replayed brute-force. */
class RoundEightBatchNineteenSpec extends AnyFunSuite {
  test("quality_dup_correlation: bucket stats replay brute-force") {
    val scored = Tables.load(spark, dir, "documents")
      .select(col("text")).collect().map(_.getString(0))
      .map { t =>
        val ws = t.split(" ", -1)
        val fLen = math.min(ws.length.toLong, 200L)
        val fStop = ws.count(w => w == "the" || w == "a").toLong
        val fSym = t.replaceAll("[A-Za-z0-9 ]", "").length.toLong
        val fRep = ws.length.toLong - ws.distinct.length.toLong
        (t, fLen * 4 + fStop * 8 - fSym * 2 - fRep * 3 - 256)
      }
    val sizes = scored.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val expected = scored.map { case (t, m) =>
      val n = sizes(t)
      val b = if (n == 1) "1_unique" else if (n == 2) "2_pair" else "3_plus"
      (b, t, m)
    }.groupBy(_._1).toSeq.sortBy(_._1).map { case (b, rows) =>
      (b, rows.length.toLong, rows.map(_._2).distinct.length.toLong,
        r6(rows.map(_._3).sum.toDouble / rows.length),
        r6(rows.count(_._3 >= 0).toDouble / rows.length))
    }
    val got = TextOps.queries("quality_dup_correlation")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4)))
    assert(got.toSeq == expected)
    // buckets partition the corpus
    assert(got.map(_._2).sum == scored.length.toLong)
  }

  test("scd2_snapshot: midpoint state census replays brute-force") {
    val evs = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")),
        col("event_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3)))
    val tMid = (evs.map(_._3).min + evs.map(_._3).max) / 2
    // per user: state intervals from change rows, pick the one covering T
    val stateAt = evs.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      val ordered = rows.sortBy(e => (e._3, e._4))
      val changes = ordered.zipWithIndex.filter { case (e, i) =>
        i == 0 || ordered(i - 1)._2 != e._2
      }.map(_._1)
      changes.zipWithIndex.collect {
        case (c, i) if c._3 <= tMid &&
          (i + 1 >= changes.length || changes(i + 1)._3 > tMid) =>
          c._2
      }.take(1)
    }.toSeq
    val expected = stateAt.groupBy(identity).toSeq.sortBy(_._1)
      .map { case (st, us) => (st, us.length.toLong, tMid) }
    val got = AnalyticsOps.queries("scd2_snapshot")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == expected)
    // every user active on both sides of T has exactly one state at T
    assert(got.map(_._2).sum == stateAt.length.toLong)
  }
}
