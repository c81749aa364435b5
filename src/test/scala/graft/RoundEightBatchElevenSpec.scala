package graft

import java.time.LocalDate

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{AnalyticsOps, GraphOps, TextOps}

import OpsFixture._

/** Round-8 eleventh batch: Kaplan–Meier conversion survival, cohort LTV,
  * weak ties / local bridges, and head-vocabulary coverage. */
class RoundEightBatchElevenSpec extends AnyFunSuite {
  test("events_survival: KM curve replays by brute-force risk-set scan") {
    val evs = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val t1 = evs.filter(_._2 == "view").groupBy(_._1)
      .view.mapValues(_.map(_._3).min).toMap
    val latDays = evs.filter(_._2 == "purchase")
      .filter(e => t1.get(e._1).exists(_ < e._3))
      .groupBy(_._1)
      .map { case (u, es) => ((es.map(_._3).min - t1(u)) / 1000000L) / 86400L }
      .toSeq
    val byDay = latDays.groupBy(identity).view.mapValues(_.size.toLong)
      .toSeq.sortBy(_._1)
    var atRisk = t1.size.toLong
    var cum = BigDecimal(0)
    var depleted = false
    val expected = byDay.map { case (day, d) =>
      val row = (day, atRisk, d, r6(d.toDouble / atRisk), {
        if (atRisk == d) depleted = true
        else cum += qln((atRisk - d).toDouble / atRisk)
        if (depleted) 0.0 else r6(math.exp(cum.toDouble))
      })
      atRisk -= d
      row
    }
    val got = AnalyticsOps.queries("events_survival")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(got.toSeq == expected)
    // survival is a strictly decreasing proper probability
    assert(got.head._5 < 1.0 && got.last._5 >= 0.0)
    got.sliding(2).foreach {
      case Array(a, b) => assert(b._5 < a._5 || (a._5 == 0.0 && b._5 == 0.0))
      case _ =>
    }
  }

  test("events_cohort_ltv: cohort cells replay by per-user date arithmetic") {
    val evs = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")),
        col("value"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3)))
    def day(us: Long): LocalDate = LocalDate.ofEpochDay(
      Math.floorDiv(Math.floorDiv(us, 1000000L), 86400L))
    val first = evs.groupBy(_._1).view.mapValues(es => day(es.map(_._3).min)).toMap
    def monday(d: LocalDate): LocalDate =
      d.minusDays(d.getDayOfWeek.getValue - 1L)
    val sizes = first.values.groupBy(monday).view.mapValues(_.size.toLong).toMap
    val cells = evs.filter(_._2 == "purchase")
      .map { case (u, _, ts, v) =>
        val fd = first(u)
        ((monday(fd), (day(ts).toEpochDay - fd.toEpochDay) / 7L),
          BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP))
      }
      .groupBy(_._1).view
      .mapValues(vs => (vs.size.toLong, vs.map(_._2).sum)).toMap
    val expected = cells.toSeq.sortBy { case ((cw, aw), _) =>
      (cw.toEpochDay, aw)
    }.foldLeft((Vector.empty[(String, Long, Long, Double, Long, Double)],
        Map.empty[LocalDate, BigDecimal])) {
      case ((acc, cums), ((cw, aw), (n, rev))) =>
        val cum = cums.getOrElse(cw, BigDecimal(0)) + rev
        // the engine sums exactly in DECIMAL(18,6) and emits DOUBLE once
        // (suite output convention; decimals hash-diverge at the driver)
        (acc :+ ((cw.toString, aw, n, cum.toDouble, sizes(cw),
          r6(cum.toDouble / sizes(cw)))), cums.updated(cw, cum))
    }._1
    val got = AnalyticsOps.queries("events_cohort_ltv")(spark, dir).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4), r.getDouble(5)))
    assert(got.toSeq == expected)
  }

  test("graph_weak_ties: capped-common-neighbor floor replays brute-force") {
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val edges = li.groupBy(_._1).values.flatMap { rows =>
      val ps = rows.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
    }.toSet
    val adj = collection.mutable.Map.empty[Long, Set[Long]].withDefaultValue(Set())
    edges.foreach { case (a, b) => adj(a) += b; adj(b) += a }
    val kept = adj.filter(_._2.size <= GraphOps.wedgeDegreeCap).keySet
    val ties = edges.toSeq.map { case (a, b) =>
      (a, b, (adj(a) & adj(b)).count(kept), adj(a).size.toLong, adj(b).size.toLong)
    }
    val nBridges = ties.count(_._3 == 0).toLong
    val expected = ties
      .sortBy { case (a, b, c, da, db) => (c, -(da + db), a, b) }.take(20)
      .map { case (a, b, c, da, db) => (a, b, c.toLong, da, db, nBridges) }
    val got = GraphOps.queries("graph_weak_ties")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.toSeq == expected)
  }

  test("text_topk_coverage: coverage checkpoints replay from raw word counts") {
    val wcs = Tables.load(spark, dir, "documents")
      .select(col("lang"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
      .groupBy(_._1).view.mapValues { ds =>
        ds.flatMap(_._2.split(" ", -1)).groupBy(identity)
          .view.mapValues(_.length.toLong).toMap
      }.toMap
    val expected = wcs.toSeq.sortBy(_._1).flatMap { case (lang, wc) =>
      val ranked = wc.toSeq.sortBy { case (w, c) => (-c, w) }
      val total = wc.values.sum
      TextOps.coverageKs.map { k =>
        val head = ranked.take(k)
        (lang, k.toLong, head.size.toLong, head.map(_._2).sum,
          total, wc.size.toLong, r6(head.map(_._2).sum.toDouble / total))
      }
    }
    val got = TextOps.queries("text_topk_coverage")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6)))
    assert(got.toSeq == expected)
    // the curve is monotone in k and the k=1000 head covers most mass
    got.grouped(TextOps.coverageKs.size).foreach { g =>
      g.sliding(2).foreach {
        case Array(a, b) => assert(b._7 >= a._7)
        case _ =>
      }
      assert(g.last._7 > 0.1)
    }
  }
}
