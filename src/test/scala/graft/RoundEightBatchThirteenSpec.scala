package graft

import java.time.LocalDate

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.AnalyticsOps

import OpsFixture._

/** Round-8 thirteenth batch: median/MAD anomaly monitor, held-out unigram
  * perplexity, daily-count correlation matrix, and top-20 leaderboard
  * churn. Every test replays the statistic brute-force from the raw
  * fixture rows on the driver. */
class RoundEightBatchThirteenSpec extends AnyFunSuite {
  private lazy val evDays: Array[(String, LocalDate, Long)] =
    Tables.load(spark, dir, "events")
      .select(col("event_type"), expr("CAST(ts AS DATE)"), col("user_id"))
      .collect().map(r => (r.getString(0), r.getDate(1).toLocalDate, r.getLong(2)))

  private lazy val dailyCounts: Map[(String, LocalDate), Long] =
    evDays.groupBy(e => (e._1, e._2)).view.mapValues(_.length.toLong).toMap

  private def lowerMedian(xs: Seq[Long]): Long = {
    val sorted = xs.sorted
    sorted((sorted.size + 1) / 2 - 1)
  }

  test("events_anomaly_mad: integer median/MAD replays brute-force") {
    val expected = dailyCounts.groupBy(_._1._1).toSeq.sortBy(_._1)
      .map { case (t, cells) =>
        val ns = cells.values.toSeq
        val med = lowerMedian(ns)
        val ads = ns.map(n => math.abs(n - med))
        val mad = lowerMedian(ads)
        (t, ns.size.toLong, med, mad, ads.count(_ > 3 * mad).toLong, ads.max)
      }
    val got = AnalyticsOps.queries("events_anomaly_mad")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.toSeq == expected)
    // the MAD monitor never flags more than a minority of days
    got.foreach(r => assert(r._5 * 2 <= r._2))
  }

  test("lm_heldout_ppl: add-one held-out perplexity replays brute-force") {
    val byDoc = Tables.load(spark, dir, "documents")
      .select(col("lang"), col("text"),
        graft.functions.PolyHash.poly_hash(md5(col("text"))) % 100 < 80)
      .collect().map(r => (r.getString(0), r.getString(1), r.getBoolean(2)))
    val expected = byDoc.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (lang, ds) =>
        def wc(train: Boolean) = ds.filter(_._3 == train)
          .flatMap(_._2.split(" ", -1)).groupBy(identity)
          .view.mapValues(_.length.toLong).toMap
        val tr = wc(train = true)
        val held = wc(train = false)
        val nTrain = tr.values.sum
        val vTrain = tr.size.toLong
        val nHeld = held.values.sum
        val nOov = held.collect { case (w, c) if !tr.contains(w) => c }.sum
        val st = held.map { case (w, c) =>
          BigDecimal(c) * (qln((tr.getOrElse(w, 0L) + 1).toDouble) -
            qln((nTrain + vTrain + 1).toDouble))
        }.sum
        (lang, nTrain, vTrain, nHeld, r6(nOov.toDouble / nHeld),
          r6(math.exp(-st.toDouble / nHeld)))
    }
    val got = AnalyticsOps.queries("lm_heldout_ppl")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))
    assert(got.toSeq == expected)
    // perplexity can't beat a uniform model over a superset of the vocab
    got.foreach(r => assert(r._6 > 1.0 && r._6 < (r._2 + r._3 + 1)))
  }

  test("events_type_corr: exact product moments replay brute-force") {
    val types = dailyCounts.keys.map(_._1).toSeq.distinct.sorted
    val expected = (for {
      i <- types.indices; j <- i + 1 until types.size
    } yield {
      val (a, b) = (types(i), types(j))
      val days = dailyCounts.keys.filter(_._1 == a).map(_._2).toSet &
        dailyCounts.keys.filter(_._1 == b).map(_._2).toSet
      val xs = days.toSeq.map(d => (dailyCounts((a, d)), dailyCounts((b, d))))
      val n = xs.size.toLong
      val sx = xs.map(_._1).sum; val sy = xs.map(_._2).sum
      val sxy = xs.map(p => BigInt(p._1) * p._2).sum
      val sxx = xs.map(p => BigInt(p._1) * p._1).sum
      val syy = xs.map(p => BigInt(p._2) * p._2).sum
      (a, b, n,
        r6((n.toDouble * sxy.toDouble - sx.toDouble * sy.toDouble) /
          (math.sqrt(n.toDouble * sxx.toDouble - sx.toDouble * sx.toDouble) *
           math.sqrt(n.toDouble * syy.toDouble - sy.toDouble * sy.toDouble))))
    }).sortBy(r => (r._1, r._2))
    val got = AnalyticsOps.queries("events_type_corr")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == expected)
    got.foreach(r => assert(r._4 >= -1.0 && r._4 <= 1.0))
  }

  test("events_topk_churn: day-pair overlap replays brute-force") {
    val tops: Map[LocalDate, Set[Long]] = evDays
      .groupBy(e => (e._2, e._3)).view.mapValues(_.length.toLong).toSeq
      .groupBy(_._1._1).view.mapValues { rows =>
        rows.sortBy { case ((_, u), n) => (-n, u) }.take(20)
          .map(_._1._2).toSet
      }.toMap
    val expected = tops.keys.toSeq.sorted.flatMap { day =>
      tops.get(day.minusDays(1)).map { prev =>
        val cur = tops(day)
        val common = (cur & prev).size.toLong
        (day.toString, cur.size.toLong, prev.size.toLong, common,
          r6(common.toDouble / (cur.size + prev.size - common).toDouble),
          cur.size - common)
      }
    }
    val got = AnalyticsOps.queries("events_topk_churn")(spark, dir).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getLong(5)))
    assert(got.toSeq == expected)
    // overlap is bounded by both leaderboard sizes
    got.foreach(r => assert(r._4 <= r._2 && r._4 <= r._3))
  }
}
