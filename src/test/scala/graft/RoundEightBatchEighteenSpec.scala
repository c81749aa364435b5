package graft

import java.time.LocalDate

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{AnalyticsOps, TextOps}

import OpsFixture._

/** Round-8 eighteenth batch: weekly growth accounting and the language-ID
  * confusion report, replayed brute-force. */
class RoundEightBatchEighteenSpec extends AnyFunSuite {
  test("events_lifecycle: growth quadrants replay and obey the identity") {
    val uw = Tables.load(spark, dir, "events")
      .select(col("user_id"), to_date(date_trunc("week", col("ts"))))
      .collect().map(r => (r.getLong(0), r.getDate(1).toLocalDate))
      .distinct
    val byUser = uw.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val states = uw.map { case (u, w) =>
      val ws = byUser(u)
      val st =
        if (w == ws.head) "new"
        else if (ws.contains(w.minusDays(7))) "retained"
        else "resurrected"
      (w, st)
    }
    val sizes = states.groupBy(_._1).view.mapValues { ss =>
      (ss.length.toLong, ss.count(_._2 == "new").toLong,
        ss.count(_._2 == "retained").toLong,
        ss.count(_._2 == "resurrected").toLong)
    }.toMap
    val expected = sizes.keys.toSeq.sorted.map { w =>
      val (a, n, rt, rs) = sizes(w)
      val prev = sizes.get(w.minusDays(7)).map(_._1).getOrElse(0L)
      val churned = prev - rt
      (w.toString, a, n, rt, rs, churned,
        if (churned > 0) Some(r6((n + rs).toDouble / churned)) else None)
    }
    val got = AnalyticsOps.queries("events_lifecycle")(spark, dir).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5),
        if (r.isNullAt(6)) None else Some(r.getDouble(6))))
    assert(got.toSeq == expected)
    // quadrants partition the active set
    got.foreach(r => assert(r._3 + r._4 + r._5 == r._2))
    // week one is all new and nobody churned into it
    assert(got.head._3 == got.head._2 && got.head._6 == 0L)
  }

  test("lang_id_confusion: precision/recall/F1 replay from per-doc predictions") {
    val preds = TextOps.queries("text_lang_id")(spark, dir).collect()
      .map(r => (r.getString(1), r.getString(2)))
    val langs = preds.map(_._2).distinct.sorted
    val expected = langs.map { l =>
      val nTrue = preds.count(_._2 == l).toLong
      val tp = preds.count(p => p._1 == l && p._2 == l).toLong
      val nPred = preds.count(_._1 == l).toLong
      (l, nTrue, tp, nPred,
        if (nPred > 0) Some(r6(tp.toDouble / nPred)) else None,
        r6(tp.toDouble / nTrue),
        r6(2.0 * tp / (nPred + nTrue)))
    }
    val got = TextOps.queries("lang_id_confusion")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)),
        r.getDouble(5), r.getDouble(6)))
    assert(got.toSeq == expected.toSeq)
    // F1 sits between min and max of P and R when both defined
    got.foreach {
      case (_, _, _, _, Some(p), rec, f1) =>
        assert(f1 <= math.max(p, rec) + 1e-6 && f1 >= math.min(p, rec) - 1e-6)
      case _ =>
    }
  }
}
