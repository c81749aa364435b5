package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.PolyHash
import graft.operators.RelOps

import OpsFixture._

/** Round-8 tenth batch: the count-min sketch audit and the trailing-hour
  * RANGE window. */
class RoundEightBatchTenSpec extends AnyFunSuite {
  test("agg_cm_sketch: grid build, min-estimate and overestimate replay exactly") {
    val users = Tables.load(spark, dir, "events")
      .select(col("user_id")).collect().map(_.getLong(0))
    def bucket(i: Int, key: Long): Long =
      ((2L * i + 1) * PolyHash.Mult % PolyHash.P * (key % PolyHash.P) +
        i * 1000003L + 12345L) % PolyHash.P % RelOps.cmWidth
    val grid = collection.mutable.Map.empty[(Int, Long), Long]
      .withDefaultValue(0L)
    users.foreach(u =>
      (0 until RelOps.cmDepth).foreach(i => grid((i, bucket(i, u))) += 1))
    val trueN = users.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val est = trueN.keys.map(u => u ->
      (0 until RelOps.cmDepth).map(i => grid((i, bucket(i, u)))).min).toMap
    // CM never underestimates
    trueN.foreach { case (u, n) => assert(est(u) >= n, s"user $u") }
    val maxOver = trueN.keys.map(u => est(u) - trueN(u)).max
    val expTop = trueN.toSeq.sortBy { case (u, n) => (-n, u) }.take(10)
    val got = RelOps.queries("agg_cm_sketch")(spark, dir).collect()
    assert(got.length == expTop.length.min(10))
    got.zip(expTop).zipWithIndex.foreach { case ((r, (u, n)), i) =>
      assert(r.getLong(0) == i + 1L)
      assert(r.getLong(1) == u && r.getLong(2) == n)
      assert(r.getLong(3) == est(u) && r.getLong(4) == est(u) - n)
      assert(r.getLong(5) == maxOver)
    }
  }

  test("window_time_range: trailing-hour frame replays by brute-force time scan") {
    val evs = Tables.load(spark, dir, "events")
      .select(col("event_id"), col("event_type"), unix_micros(col("ts")),
        col("value")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val byType = evs.groupBy(_._2)
    val got = RelOps.queries("window_time_range")(spark, dir).collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got.size == evs.length)
    var nontrivial = 0
    evs.foreach { case (id, typ, ts, _) =>
      val frame = byType(typ).filter(e => e._3 >= ts - 3600000000L && e._3 <= ts)
      val (gt, gn, gv) = got(id)
      assert(gt == typ && gn == frame.length.toLong, s"event $id")
      val dec = frame.map(e =>
        BigDecimal(e._4).setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum
      assert(math.abs(gv - r6(dec.toDouble)) < 1e-9, s"event $id sum")
      if (frame.length > 1) nontrivial += 1
    }
    assert(nontrivial > 0, "no event has trailing-hour company — vacuous fixture")
  }
}
