package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.PolyHash
import graft.operators.{AnalyticsOps, DedupOps}

import OpsFixture._

/** Round-8 eighth batch: the 1-bit MinHash estimator audit and the
  * seasonal-naive forecast backtest. */
class RoundEightBatchEightSpec extends AnyFunSuite {
  /** 3-word shingle set — the [[DedupOps]] / oracle convention. */
  private def shingleSet(text: String): Set[String] = {
    val w = text.split(" ", -1)
    if (w.length >= 3) w.sliding(3).map(_.mkString(" ")).toSet else Set(text)
  }

  /** The 32 affine minhash values of a shingle set (MinHashSignature's
    * arithmetic, replayed). */
  private def signature(sh: Set[String]): Array[Long] = {
    val k = DedupOps.oneBitK
    val mins = Array.fill(k)(PolyHash.P)
    for (s <- sh) {
      val h = PolyHash.hash(s)
      var j = 0
      while (j < k) {
        val v = (((2L * j + 1) * PolyHash.Mult) % PolyHash.P * h +
          j * 1000003L + 12345L) % PolyHash.P
        if (v < mins(j)) mins(j) = v
        j += 1
      }
    }
    mins
  }

  test("dedup_minhash_1bit: parity agreement and estimator replay per candidate pair") {
    val texts = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = DedupOps.queries("dedup_minhash_1bit")(spark, dir).collect()
    assert(got.nonEmpty, "no candidate pairs at sf0.001")
    got.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      val (sa, sb) = (shingleSet(texts(a)), shingleSet(texts(b)))
      val m = signature(sa).zip(signature(sb))
        .count { case (x, y) => x % 2 == y % 2 }.toLong
      assert(r.getLong(2) == m, s"($a,$b) m")
      val jExact = r6(sa.intersect(sb).size.toDouble / sa.union(sb).size)
      assert(math.abs(r.getDouble(3) - jExact) < 1e-12, s"($a,$b) j_exact")
      val jEst = r6((2.0 * m - DedupOps.oneBitK) / DedupOps.oneBitK)
      assert(math.abs(r.getDouble(4) - jEst) < 1e-12, s"($a,$b) j_est")
      assert(math.abs(r.getDouble(5) - r6(math.abs(jEst - jExact))) < 1e-12)
      // a 1-bit estimate lives in [-1, 1]
      assert(r.getDouble(4) >= -1.0 && r.getDouble(4) <= 1.0)
    }
    // identical-content pairs must estimate exactly 1 (all parities agree)
    got.filter(_.getDouble(3) == 1.0).foreach { r =>
      assert(r.getLong(2) == DedupOps.oneBitK.toLong && r.getDouble(4) == 1.0)
    }
  }

  test("events_forecast_naive: week-ago backtest replays exactly") {
    val daily = Tables.load(spark, dir, "events")
      .select(col("event_type"), to_date(col("ts"))).collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate.toEpochDay))
      .groupBy(_._1).view.mapValues { rows =>
        rows.groupBy(_._2).view.mapValues(_.length.toLong)
          .toSeq.sortBy(_._1).map(_._2).toIndexedSeq
      }.toMap
    val got = AnalyticsOps.queries("events_forecast_naive")(spark, dir)
      .collect()
    assert(got.length == daily.count(_._2.length > AnalyticsOps.forecastLag))
    got.foreach { r =>
      val ys = daily(r.getString(0))
      val pairs = (AnalyticsOps.forecastLag until ys.length)
        .map(t => (ys(t), ys(t - AnalyticsOps.forecastLag)))
      val absTot = pairs.map { case (y, yh) => math.abs(y - yh) }.sum
      val biasTot = pairs.map { case (y, yh) => y - yh }.sum
      assert(r.getLong(1) == pairs.length.toLong)
      assert(r.getLong(2) == absTot)
      assert(math.abs(r.getDouble(3) - r6(absTot.toDouble / pairs.length)) < 1e-12)
      assert(math.abs(r.getDouble(4) - r6(biasTot.toDouble / pairs.length)) < 1e-12)
      // |bias| can never exceed the absolute error
      assert(math.abs(r.getDouble(4)) <= r.getDouble(3) + 1e-9)
    }
  }
}
