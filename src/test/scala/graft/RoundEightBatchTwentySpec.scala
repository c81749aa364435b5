package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.AnalyticsOps
import graft.streaming.StreamOps

import OpsFixture._

/** Round-8 twentieth batch: streaming quality gate and the k-anonymity
  * audit, replayed brute-force. */
class RoundEightBatchTwentySpec extends AnyFunSuite {
  private def margin(t: String): Long = {
    val ws = t.split(" ", -1)
    val fLen = math.min(ws.length.toLong, 200L)
    val fStop = ws.count(w => w == "the" || w == "a").toLong
    val fSym = t.replaceAll("[A-Za-z0-9 ]", "").length.toLong
    val fRep = ws.length.toLong - ws.distinct.length.toLong
    fLen * 4 + fStop * 8 - fSym * 2 - fRep * 3 - 256
  }

  test("stream_quality_gate: finite replay equals the batch gate") {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val expected = docs.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (src, ds) =>
        val kept = ds.count(d => margin(d._2) >= 0).toLong
        (src, ds.length.toLong, kept, r6(kept.toDouble / ds.length))
    }
    val got = StreamOps.queries("stream_quality_gate")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == expected)
    // the gate keeps a nontrivial majority but not everything
    val total = got.map(_._2).sum
    val kept = got.map(_._3).sum
    assert(kept > 0 && kept <= total)
  }

  test("privacy_k_anon: QI group census replays brute-force") {
    val evs = Tables.load(spark, dir, "events")
      .select(col("event_type"),
        (weekday(col("ts")) + lit(1)).cast("long"),
        expr("CAST(floor(value / 10.0D) AS BIGINT)"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val groups = evs.groupBy(identity).view.mapValues(_.length.toLong).toSeq
    def lowerMedian(xs: Seq[Long]): Long = {
      val s = xs.sorted; s((s.size + 1) / 2 - 1)
    }
    val expected = groups.groupBy(_._1._1).toSeq.sortBy(_._1).map {
      case (t, gs) =>
        val ks = gs.sortBy { case ((_, dow, dec), _) => (0L, dow, dec) }
          .map(_._2)
        val nRows = ks.sum
        val risk = ks.filter(_ < 5).sum
        (t, nRows, ks.size.toLong, ks.min, lowerMedian(ks), risk,
          r6(risk.toDouble / nRows))
    }
    val got = AnalyticsOps.queries("privacy_k_anon")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6)))
    assert(got.toSeq == expected)
    // medians sit inside the observed k range
    got.foreach(r => assert(r._5 >= r._4))
  }
}
