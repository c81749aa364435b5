package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{AnalyticsOps, TextOps}

import OpsFixture._

/** Round-8 twelfth batch: Gini revenue concentration, whale share,
  * inter-arrival cadence histogram, unigram domain-shift KL, and word
  * burstiness. Every test replays the statistic brute-force from the raw
  * fixture rows on the driver. */
class RoundEightBatchTwelveSpec extends AnyFunSuite {
  private def dec6(x: Double): BigDecimal =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)

  private lazy val evs: Array[(Long, String, Long, Double)] =
    Tables.load(spark, dir, "events")
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")),
        col("value"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3)))

  private lazy val perUserValue: Map[String, Seq[(Long, BigDecimal)]] =
    evs.groupBy(_._2).view.mapValues { rows =>
      rows.groupBy(_._1).view
        .mapValues(_.map(e => dec6(e._4)).sum).toSeq
    }.toMap

  test("events_gini: rank-identity Gini replays brute-force") {
    val expected = perUserValue.toSeq.sortBy(_._1).map { case (t, uv) =>
      val sorted = uv.sortBy { case (u, v) => (v, u) }
      val n = sorted.size.toLong
      val tot = sorted.map(_._2).sum
      val iv = sorted.zipWithIndex.map { case ((_, v), i) => v * (i + 1) }.sum
      (t, n, r6(tot.toDouble),
        r6((2.0 * iv.toDouble - (n + 1).toDouble * tot.toDouble) /
          (n.toDouble * tot.toDouble)))
    }
    val got = AnalyticsOps.queries("events_gini")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(got.toSeq == expected)
    // Gini is a proper inequality index
    got.foreach(r => assert(r._4 >= 0.0 && r._4 < 1.0))
  }

  test("events_whale_share: top-decile cut replays brute-force") {
    val expected = perUserValue.toSeq.sortBy(_._1).map { case (t, uv) =>
      val sorted = uv.sortBy { case (u, v) => (v, u) }.reverse
      val k = ((sorted.size + 9) / 10).toLong
      val top = sorted.take(k.toInt).map(_._2).sum
      val tot = sorted.map(_._2).sum
      (t, k, r6(top.toDouble), r6(top.toDouble / tot.toDouble))
    }
    val got = AnalyticsOps.queries("events_whale_share")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(got.toSeq == expected)
    // the top decile must carry at least its pro-rata tenth
    got.foreach(r => assert(r._4 >= 0.1))
  }

  test("events_interarrival: binary-magnitude buckets replay brute-force") {
    val ids = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")),
        col("event_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3)))
    val gaps = ids.groupBy(e => (e._1, e._2)).values.toSeq.flatMap { rows =>
      val secs = rows.toSeq.sortBy(e => (e._3, e._4))
        .map(e => Math.floorDiv(e._3, 1000000L))
      secs.sliding(2).collect { case Seq(a, b) => (rows.head._2, b - a) }.toSeq
    }
    val expected = gaps
      .groupBy { case (t, g) => (t, g.toBinaryString.length.toLong) }
      .toSeq.map { case ((t, b), gs) =>
        (t, b, gs.size.toLong, gs.map(_._2).min, gs.map(_._2).max)
      }
      .groupBy(_._1).toSeq.flatMap { case (t, rows) =>
        val typeN = rows.map(_._3).sum
        rows.map(r => (r._1, r._2, r._3, r._4, r._5,
          r6(r._3.toDouble / typeN.toDouble)))
      }.sortBy(r => (r._1, r._2))
    val got = AnalyticsOps.queries("events_interarrival")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(got.toSeq == expected)
    // every bucket's span sits inside its binary magnitude
    got.filter(_._2 > 1).foreach { r =>
      assert(r._4 >= (1L << (r._2 - 1).toInt) && r._5 < (1L << r._2.toInt))
    }
  }

  test("lm_unigram_kl: quantized-log KL replays brute-force") {
    val byDoc = Tables.load(spark, dir, "documents")
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val srcWc = byDoc.groupBy(_._1).view.mapValues { ds =>
      ds.flatMap(_._2.split(" ", -1)).groupBy(identity)
        .view.mapValues(_.length.toLong).toMap
    }.toMap
    val corpusWc = srcWc.values.flatten
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val tot = corpusWc.values.sum
    val expected = srcWc.toSeq.sortBy(_._1).map { case (src, wc) =>
      val totS = wc.values.sum
      val st = wc.map { case (w, c) =>
        BigDecimal(c) * (qln(c.toDouble) - qln(totS.toDouble) -
          qln(corpusWc(w).toDouble) + qln(tot.toDouble))
      }.sum
      (src, totS, wc.size.toLong, r6(st.toDouble / totS))
    }
    val got = AnalyticsOps.queries("lm_unigram_kl")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == expected)
    // KL is non-negative up to the 1e-6 log quantization slack
    got.foreach(r => assert(r._4 >= -1e-4, s"KL < 0 for ${r._1}: ${r._4}"))
  }

  test("text_burstiness: per-doc count moments replay brute-force") {
    val byDoc = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val nDocs = byDoc.length.toLong
    val moments = byDoc.flatMap { case (id, t) =>
      t.split(" ", -1).groupBy(identity).map { case (w, ws) =>
        (w, ws.length.toLong)
      }
    }.groupBy(_._1).view.mapValues { cs =>
      (cs.size.toLong, cs.map(_._2).sum, cs.map(c => c._2 * c._2).sum)
    }.toMap
    val expected = moments.toSeq
      .sortBy { case (w, (df, _, _)) => (-df, w) }
      .take(TextOps.burstTopWords)
      .map { case (w, (df, totC, sqC)) =>
        (w, df, totC,
          r6((nDocs.toDouble * sqC.toDouble - totC.toDouble * totC.toDouble) /
            ((nDocs - 1).toDouble * totC.toDouble)))
      }
    val got = TextOps.queries("text_burstiness")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == expected)
    // ubiquitous function words are near-Poisson; the VMR is positive
    assert(got.forall(_._4 > 0.0))
  }
}
