package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{RelOps, SimilarityOps}
import graft.streaming.StreamOps

import OpsFixture._

/** Round-8 fifth batch: the watermark-lateness audit, the embedding
  * hubness histogram, and the truncated exact EWMA. Brute-force local
  * replays on sf0.001, exact agreement demanded. */
class RoundEightBatchFiveSpec extends AnyFunSuite {
  test("watermark_audit: sequential skewed-arrival replay matches the two-phase prefix max") {
    val evs = Tables.load(spark, dir, "events")
      .select(col("event_id"), unix_micros(col("ts")), col("event_type"),
        col("user_id"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .map { case (id, ts, typ, uid) =>
        (id, ts, typ, ts + (uid % StreamOps.auditSkewSlots) * 1000000L)
      }
      .sortBy { case (id, _, _, arr) => (arr, id) }
    var seen = Long.MinValue
    // per type: (n, n_late, max_late, max_disorder)
    val acc = collection.mutable.Map.empty[String, (Long, Long, Long, Long)]
      .withDefaultValue((0L, 0L, 0L, 0L))
    evs.foreach { case (_, ts, typ, _) =>
      // first arrival: no watermark yet → disorder far negative, NOT
      // Long.MinValue (subtracting the delay from MinValue wraps positive)
      val disorder = if (seen == Long.MinValue) -1L else seen - ts
      val lateUs = disorder - StreamOps.auditDelayUs
      val (n, nl, mxl, mxd) = acc(typ)
      acc(typ) = (n + 1,
        if (lateUs > 0) nl + 1 else nl,
        if (lateUs > 0) mxl.max(lateUs) else mxl,
        if (disorder > 0) mxd.max(disorder) else mxd)
      seen = seen.max(ts)
    }
    val got = StreamOps.queries("watermark_audit")(spark, dir).collect()
    assert(got.length == acc.size)
    got.foreach { r =>
      val (n, nl, mxl, mxd) = acc(r.getString(0))
      assert(r.getLong(1) == n && r.getLong(2) == nl, r.getString(0))
      assert(math.abs(r.getDouble(3) - r6(nl.toDouble / n)) < 1e-12)
      assert(r.getLong(4) == mxl && r.getLong(5) == mxd, r.getString(0))
    }
    // the skew model must actually produce disorder — an all-zero audit
    // would pass vacuously. (Drops at the 30 s candidate delay appear
    // from sf0.01 up — 34 late at the driver gate scale — but sf0.001's
    // max disorder is ~6 s, so only the disorder column is asserted
    // non-zero here.)
    assert(acc.values.map(_._4).max > 0, "no disorder under the skew model")
    // disorder is bounded by the skew model's 59 s worst case
    assert(acc.values.map(_._4).max <=
      (StreamOps.auditSkewSlots - 1).toLong * 1000000L)
  }

  test("embedding_hubness: k-occurrence histogram matches a local exact census") {
    val embs = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val queries = embs.filter(e =>
      e._1 >= 1 && e._1 <= SimilarityOps.hubnessQueries)
    val kocc = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    queries.foreach { case (qid, qv) =>
      embs.filter(_._1 != qid)
        .map { case (vid, v) => (vid, cos(v, qv)) }
        .sortBy { case (vid, sc) => (-sc, vid) }
        .take(SimilarityOps.hubnessK)
        .foreach { case (vid, _) => kocc(vid) += 1 }
    }
    val hist = embs.map(e => kocc(e._1))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val got = SimilarityOps.queries("embedding_hubness")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == hist)
    // histogram covers every corpus point exactly once
    assert(got.values.sum == embs.length.toLong)
    // total retrievals = |Q|·k distributed over the histogram
    assert(hist.map { case (k, n) => k * n }.sum ==
      queries.length.toLong * SimilarityOps.hubnessK)
  }

  test("resample_ewma: exact integer-weighted replay, renormalized partial windows") {
    val hourly = Tables.load(spark, dir, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2)))
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._2.getTime).map(_._3).toIndexedSeq).toMap
    val got = RelOps.queries("resample_ewma")(spark, dir).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime,
        r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty)
    val byType = got.groupBy(_._1)
    hourly.foreach { case (typ, series) =>
      val rows = byType(typ).sortBy(_._2)
      assert(rows.length == series.length)
      rows.zipWithIndex.foreach { case ((_, _, n, ewma), t) =>
        assert(n == series(t))
        var num = BigInt(0); var den = BigInt(0)
        for (j <- 0 until RelOps.ewmaLags; if t - j >= 0) {
          val w = BigInt(1) << (RelOps.ewmaLags - 1 - j)
          num += w * series(t - j); den += w
        }
        assert(math.abs(ewma - r6(num.toDouble / den.toDouble)) < 1e-12,
          s"$typ t=$t")
      }
      // row 1 renormalizes to exactly its own count
      assert(rows.head._4 == r6(series.head.toDouble))
    }
  }
}
