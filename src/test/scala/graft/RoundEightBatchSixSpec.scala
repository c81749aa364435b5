package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.AnalyticsOps

import OpsFixture._

/** Round-8 sixth batch: autocorrelation, CUSUM changepoint and
  * co-occurrence PMI over the events table — each replayed brute-force
  * from the raw sf0.001 events with exact integer/decimal arithmetic. */
class RoundEightBatchSixSpec extends AnyFunSuite {
  /** (type, epoch-day, user) triples collected once. */
  private lazy val evDays: Array[(String, Long, Long)] =
    Tables.load(spark, dir, "events")
      .select(col("event_type"), to_date(col("ts")), col("user_id"))
      .collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate.toEpochDay, r.getLong(2)))

  /** Per-type daily count series, day-ordered. */
  private lazy val dailySeries: Map[String, IndexedSeq[Long]] =
    evDays.groupBy(_._1).view.mapValues { rows =>
      rows.groupBy(_._2).view.mapValues(_.length.toLong)
        .toSeq.sortBy(_._1).map(_._2).toIndexedSeq
    }.toMap

  test("events_autocorr: lag 1..7 Pearson replay with exact integer moments") {
    val got = AnalyticsOps.queries("events_autocorr")(spark, dir).collect()
      .map(r => ((r.getString(0), r.getLong(1)),
        (r.getLong(2), if (r.isNullAt(3)) None else Some(r.getDouble(3)))))
      .toMap
    var checked = 0
    dailySeries.foreach { case (typ, ys) =>
      for (k <- 1 to AnalyticsOps.autocorrMaxLag; if ys.length > k) {
        val pairs = (k until ys.length).map(t => (ys(t), ys(t - k)))
        val n = BigInt(pairs.length)
        val sy = pairs.map(p => BigInt(p._1)).sum
        val sl = pairs.map(p => BigInt(p._2)).sum
        val syl = pairs.map(p => BigInt(p._1) * p._2).sum
        val syy = pairs.map(p => BigInt(p._1) * p._1).sum
        val sll = pairs.map(p => BigInt(p._2) * p._2).sum
        val vy = n * syy - sy * sy; val vl = n * sll - sl * sl
        val (gn, gr) = got((typ, k.toLong))
        assert(gn == pairs.length.toLong, s"$typ lag $k n_pairs")
        if (vy == 0 || vl == 0) assert(gr.isEmpty, s"$typ lag $k null guard")
        else {
          val r = (n * syl - sy * sl).toDouble /
            math.sqrt(vy.toDouble * vl.toDouble)
          assert(math.abs(gr.get - r6(r)) < 1e-12, s"$typ lag $k r")
          assert(gr.get >= -1.0 - 1e-9 && gr.get <= 1.0 + 1e-9)
        }
        checked += 1
      }
    }
    assert(checked > 0 && got.size == checked)
  }

  test("events_changepoint: CUSUM argmax replay, earliest-day tie break") {
    val got = AnalyticsOps.queries("events_changepoint")(spark, dir).collect()
    assert(got.length == dailySeries.size)
    got.foreach { r =>
      val typ = r.getString(0)
      val ys = dailySeries(typ)
      val n = BigInt(ys.length); val tot = ys.map(BigInt(_)).sum
      val s = ys.scanLeft(BigInt(0))(_ + _).tail.zipWithIndex
        .map { case (cum, i) => n * cum - BigInt(i + 1) * tot }
      val bestIdx = s.indices.minBy(i => (-s(i).abs, i))
      assert(r.getLong(1) == ys.length.toLong)
      assert(r.getLong(2) == tot.toLong)
      assert(r.getLong(4) == s(bestIdx).toLong, s"$typ s_exact")
      assert(math.abs(r.getDouble(5) -
        r6(s(bestIdx).abs.toDouble / (n * tot).toDouble)) < 1e-12)
      // the reported day is the bestIdx-th distinct day of the type
      val days = evDays.filter(_._1 == typ).map(_._2).distinct.sorted
      assert(r.getDate(3).toLocalDate.toEpochDay == days(bestIdx), s"$typ day")
    }
    // the statistic telescopes to exactly zero at the final day — if the
    // replay's arithmetic drifted from n·cum_k − k·total this would break
    dailySeries.foreach { case (_, ys) =>
      val n = BigInt(ys.length); val tot = ys.map(BigInt(_)).sum
      val cum = ys.scanLeft(BigInt(0))(_ + _).tail
      assert(n * cum.last - n * tot == 0)
    }
  }

  test("events_pmi: user-day basket replay with quantized logs") {
    val baskets = evDays.groupBy(r => (r._3, r._2)).view
      .mapValues(_.map(_._1).toSet).values.toSeq
    val nB = baskets.length.toLong
    val singles = baskets.flatMap(_.toSeq).groupBy(identity).view
      .mapValues(_.length.toLong).toMap
    val pairCounts = baskets.flatMap { b =>
      val v = b.toSeq.sorted
      for (i <- v.indices; j <- i + 1 until v.length) yield (v(i), v(j))
    }.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val got = AnalyticsOps.queries("events_pmi")(spark, dir).collect()
    assert(got.length == pairCounts.size && got.nonEmpty)
    got.foreach { r =>
      val key = (r.getString(0), r.getString(1))
      assert(r.getLong(2) == pairCounts(key))
      assert(r.getLong(3) == singles(key._1) && r.getLong(4) == singles(key._2))
      assert(r.getLong(5) == nB)
      val pmi = qln(pairCounts(key)) + qln(nB) -
        qln(singles(key._1)) - qln(singles(key._2))
      assert(math.abs(r.getDouble(6) - r6(pmi.toDouble)) < 1e-12, s"$key pmi")
    }
  }
}
