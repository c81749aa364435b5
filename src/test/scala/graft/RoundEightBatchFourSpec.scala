package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{AnalyticsOps, GraphOps}

import OpsFixture._

/** Round-8 fourth batch: synchronous label propagation, day-of-week
  * seasonality, and interpolated Kneser–Ney bigram smoothing. Each test
  * replays the operator brute-force on the sf0.001 fixture and demands
  * exact agreement — labels, counts and the integer-ratio probabilities
  * alike. */
class RoundEightBatchFourSpec extends AnyFunSuite {
  test("graph_label_prop: two synchronous min-tie majority rounds replay exactly") {
    val adj = localEdges.toSeq
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var lbl: Map[Long, Long] = adj.keys.map(v => v -> v).toMap
    for (_ <- 1 to GraphOps.labelPropRounds)
      lbl = adj.map { case (v, ns) =>
        val votes = ns.map(lbl).groupBy(identity).view.mapValues(_.size)
        v -> votes.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    val got = GraphOps.queries("graph_label_prop")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == lbl.size)
    assert(got.map(g => g._1 -> g._2).toMap == lbl)
    val sizes = lbl.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    got.foreach { case (_, l, cs) => assert(cs == sizes(l)) }
    assert(got.map(_._1).toSeq == got.map(_._1).toSeq.sorted, "ordered by v")
    // round 2 must actually merge somebody: fewer communities than vertices
    assert(sizes.size < lbl.size)
  }

  test("events_seasonality: per-(type, isodow) counts and index replay exactly") {
    val evs = Tables.load(spark, dir, "events")
      .select(col("event_type"), col("ts"), col("value")).collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2)))
    val byKey = evs.groupBy { case (t, ts, _) =>
      (t, ts.toInstant.atZone(java.time.ZoneOffset.UTC)
        .getDayOfWeek.getValue.toLong)
    }
    val totals = evs.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val got = AnalyticsOps.queries("events_seasonality")(spark, dir).collect()
      .map(r => ((r.getString(0), r.getLong(1)),
        (r.getLong(2), r.getDouble(3), r.getDouble(4))))
    assert(got.length == byKey.size)
    got.foreach { case ((t, dow), (n, vsum, idx)) =>
      val rows = byKey((t, dow))
      assert(n == rows.length.toLong)
      // the engine sums value through DECIMAL(18,6); replay that exactly
      val dec = rows.map { case (_, _, v) =>
        BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      }.sum
      assert(math.abs(vsum - r6(dec.toDouble)) < 1e-9, s"($t,$dow) value_sum")
      assert(math.abs(idx - r6(n * 7.0 / totals(t))) < 1e-12, s"($t,$dow) index")
    }
    // indices average to ~1 per type (Σ n·7/total = 7 over ≤7 dows)
    val idxSums = got.groupBy(_._1._1).view
      .mapValues(_.map(_._2._3).sum).toMap
    idxSums.values.foreach(s => assert(math.abs(s - 7.0) < 1e-3))
  }

  test("lm_kneser_ney: top-20 probabilities equal the exact integer-ratio replay") {
    val texts = Tables.load(spark, dir, "documents")
      .select(col("text")).collect().map(_.getString(0))
    val bigrams = texts.iterator
      .map(_.split(" ", -1))
      .filter(_.length >= 2)
      .flatMap(w => w.iterator.zip(w.iterator.drop(1)))
      .toSeq
    val c12 = bigrams.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val c1 = c12.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val n1 = c12.groupBy(_._1._1).view.mapValues(_.size.toLong).toMap
    val nc = c12.groupBy(_._1._2).view.mapValues(_.size.toLong).toMap
    val t = c12.size.toLong
    val expTop = c12.toSeq
      .sortBy { case ((w1, w2), c) => (-c, w1, w2) }.take(20)
    val got = AnalyticsOps.queries("lm_kneser_ney")(spark, dir).collect()
    assert(got.length == expTop.length.min(20))
    got.zip(expTop).zipWithIndex.foreach {
      case ((r, ((w1, w2), c)), i) =>
        assert(r.getLong(0) == i + 1L)
        assert((r.getString(1), r.getString(2)) == ((w1, w2)), s"row $i bigram")
        assert(r.getLong(3) == c)
        assert(r.getLong(4) == c1(w1) && r.getLong(5) == n1(w1) &&
          r.getLong(6) == nc(w2) && r.getLong(7) == t)
        val num = BigInt((4 * c - 3).max(0)) * t + BigInt(3) * n1(w1) * nc(w2)
        val den = BigInt(4) * c1(w1) * t
        assert(math.abs(r.getDouble(8) - r6(num.toDouble / den.toDouble)) < 1e-12,
          s"row $i p_kn")
        // a valid discounted probability: 0 < p ≤ 1
        assert(r.getDouble(8) > 0.0 && r.getDouble(8) <= 1.0)
    }
    // KN interpolation mass check: for the top bigram's context w1,
    // Σ_w2 P(w2|w1) over observed continuations stays ≤ 1 (the discount
    // reserves mass for unseen continuations)
    val w1 = expTop.head._1._1
    val pSum = c12.collect { case ((`w1`, w2), c) =>
      (BigInt((4 * c - 3).max(0)) * t + BigInt(3) * n1(w1) * nc(w2)).toDouble /
        (BigInt(4) * c1(w1) * t).toDouble
    }.sum
    assert(pSum <= 1.0 + 1e-9, s"KN mass over observed continuations: $pSum")
  }
}
