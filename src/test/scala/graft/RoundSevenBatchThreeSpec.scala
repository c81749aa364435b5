package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{AnalyticsOps, DedupOps, GraphOps, PipelineOps, RelOps, SimilarityOps}

import OpsFixture._

/** Round-7 third batch: multi-source BFS, daily sequence-pattern census,
  * per-dimension embedding profile. Each spec cross-checks the operator
  * against an independently computed (driver-side brute force) answer on
  * the sf0.001 fixture — the property, not just the shape. */
class RoundSevenBatchThreeSpec extends AnyFunSuite {
  test("graph_bfs: histogram matches a driver-side BFS over the same edges") {
    // brute-force BFS from the 3 smallest vertices on the collected edge set
    val e = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct().collect()
      .groupBy(_.getLong(0)).values
      .flatMap { rows =>
        val ps = rows.map(_.getLong(1)).distinct.sorted
        for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))
      }.toSet
    val adj = (e.toSeq ++ e.toSeq.map(_.swap))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val seeds = e.flatMap(p => Seq(p._1, p._2)).toSeq.distinct.sorted
      .take(GraphOps.bfsSeedCount)
    var dist = seeds.map(_ -> 0).toMap
    var frontier = seeds.toSet
    for (k <- 1 to GraphOps.bfsDepth) {
      frontier = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- dist.keySet
      dist ++= frontier.map(_ -> k)
    }
    val expect = dist.values.groupBy(identity).view
      .mapValues(_.size.toLong).toMap.map { case (k, v) => (k.toLong, v) }
    val got = GraphOps.queries("graph_bfs")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect)
    assert(got(0L) == GraphOps.bfsSeedCount.toLong, "dist 0 is exactly the seeds")
  }

  test("events_sequence_pattern: sequences are (ts,event_id)-ordered and flag matches regex") {
    val out = AnalyticsOps.queries("events_sequence_pattern")(spark, dir).collect()
    assert(out.length <= 15 && out.nonEmpty)
    // flag is exactly the regex on the sequence text
    out.foreach { r =>
      assert(r.getBoolean(2) == "v.*c.*p".r.findFirstIn(r.getString(0)).isDefined)
    }
    // census counts add up: recompute the top sequence's count from raw events
    val top = out.head
    val n = Tables.load(spark, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("day"),
        col("ts"), col("event_id"), col("event_type"))
      .collect()
      .groupBy(r => (r.getLong(0), r.getDate(1)))
      .values.count { rows =>
        val seq = rows.sortBy(r => (r.getTimestamp(2).getTime, r.getLong(3)))
          .map(_.getString(4).head).mkString
        seq == top.getString(0)
      }
    assert(top.getLong(1) == n.toLong)
    // descending census order with seq tiebreak (deterministic limit)
    val pairs = out.map(r => (r.getLong(1), r.getString(0)))
    assert(pairs.sameElements(pairs.sortBy(p => (-p._1, p._2))))
  }

  test("embedding_dim_stats: exact micro-unit moments per dimension") {
    val out = SimilarityOps.queries("embedding_dim_stats")(spark, dir).collect()
    val rows = Tables.load(spark, dir, "embeddings")
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray)
    assert(out.length == rows.head.length)
    // every dimension sees the whole corpus
    assert(out.forall(_.getLong(1) == rows.length.toLong))
    // recompute dim 1 with the same quantization grid
    val q1 = rows.map(v => math.floor(v(0).toDouble * 1000000.0 + 0.5).toLong)
    val n = q1.length.toLong
    val sq = q1.sum
    val sq2 = q1.map(x => BigInt(x) * BigInt(x)).sum
    val d1 = out.find(_.getLong(0) == 1L).get
    assert(d1.getLong(2) == q1.min && d1.getLong(3) == q1.max)
    val mean = BigDecimal(sq.toDouble / n / 1000000.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(d1.getDouble(4) == mean)
    val varNum = (sq2 * n - BigInt(sq) * BigInt(sq)).toDouble
    val variance = BigDecimal(varNum / (n * n).toDouble / 1.0e12)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(d1.getDouble(5) == variance)
    assert(out.forall(_.getDouble(5) >= 0.0), "variance is nonnegative")
  }

  test("events_user_activity: histogram mass equals the corpus") {
    val out = AnalyticsOps.queries("events_user_activity")(spark, dir).collect()
    val totalEvents = Tables.load(spark, dir, "events").count()
    val totalUsers = Tables.load(spark, dir, "events")
      .select(col("user_id")).distinct().count()
    assert(out.map(r => r.getLong(0) * r.getLong(1)).sum == totalEvents)
    assert(out.map(_.getLong(1)).sum == totalUsers)
    val ks = out.map(_.getLong(0))
    assert(ks.sameElements(ks.sorted))
  }

  test("graph_assortativity: matches the brute-force Pearson over edge-end degrees") {
    val e = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct().collect()
      .groupBy(_.getLong(0)).values
      .flatMap { rows =>
        val ps = rows.map(_.getLong(1)).distinct.sorted
        for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))
      }.toSet
    val sym = e.toSeq ++ e.toSeq.map(_.swap)
    val deg = sym.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val js = sym.map { case (a, b) => (deg(a), deg(b)) }
    val m = BigInt(js.size)
    val sjk = js.map { case (j, k) => BigInt(j) * BigInt(k) }.sum
    val sj = js.map(p => BigInt(p._1)).sum
    val sj2 = js.map(p => BigInt(p._1) * BigInt(p._1)).sum
    val expect = BigDecimal(
        (m * sjk - sj * sj).toDouble / (m * sj2 - sj * sj).toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val row = GraphOps.queries("graph_assortativity")(spark, dir).head()
    assert(row.getLong(0) == js.size.toLong)
    assert(row.getDouble(1) == expect)
    assert(math.abs(row.getDouble(1)) <= 1.0)
  }

  test("stream_funnel: stages are monotone and match the batch first-touch recompute") {
    val out = graft.streaming.StreamOps.queries("stream_funnel")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.keySet == Set("1_view", "2_click", "3_purchase"))
    assert(out("1_view") >= out("2_click") && out("2_click") >= out("3_purchase"))
    // recompute first-touch stage counts from the raw batch events
    val f = Tables.load(spark, dir, "events")
      .filter(col("event_type").isin("view", "click", "purchase"))
      .groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "view", col("ts"))).as("tv"),
        min(when(col("event_type") === "click", col("ts"))).as("tc"),
        min(when(col("event_type") === "purchase", col("ts"))).as("tp"))
      .collect()
    def lt(a: java.sql.Timestamp, b: java.sql.Timestamp) =
      a != null && b != null && a.before(b)
    val n1 = f.count(_.getTimestamp(1) != null)
    val n2 = f.count(r => lt(r.getTimestamp(1), r.getTimestamp(2)))
    val n3 = f.count(r => lt(r.getTimestamp(1), r.getTimestamp(2)) &&
      lt(r.getTimestamp(2), r.getTimestamp(3)))
    assert(out("1_view") == n1.toLong && out("2_click") == n2.toLong &&
      out("3_purchase") == n3.toLong)
  }

  test("dedup_threshold_curve: monotone nonincreasing, floor equals dedup_minhash") {
    val out = DedupOps.queries("dedup_threshold_curve")(spark, dir)
      .collect().map(r => r.getDouble(0) -> r.getLong(1))
    assert(out.map(_._1).sameElements(DedupOps.curveThresholds))
    val ns = out.map(_._2)
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b },
      s"curve not monotone: ${ns.mkString(",")}")
    val floorPairs = DedupOps.queries("dedup_minhash")(spark, dir).count()
    assert(ns.head == floorPairs, "0.5 point must equal the verified pair set")
  }

  test("agg_weighted_avg: matches the exact driver-side weighted mean") {
    val out = RelOps.queries("agg_weighted_avg")(spark, dir).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val rows = Tables.load(spark, dir, "lineitem")
      .select(col("l_returnflag"), col("l_extendedprice"), col("l_quantity"))
      .collect().groupBy(_.getString(0))
    rows.foreach { case (flag, rs) =>
      def d6(x: Double) =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      val wsum = rs.map(r => d6(r.getDouble(1)) * d6(r.getDouble(2))).sum
      val w = rs.map(r => d6(r.getDouble(2))).sum
      val expect = BigDecimal(wsum.toDouble / w.toDouble)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(out(flag) == expect, s"flag $flag")
    }
  }

  test("corpus_lang_mix: shares sum to 1 per source, lift-weighted shares are consistent") {
    val out = PipelineOps.queries("corpus_lang_mix")(spark, dir).collect()
    val total = Tables.load(spark, dir, "documents").count()
    assert(out.map(_.getLong(2)).sum == total, "counts cover the corpus")
    out.groupBy(_.getString(0)).foreach { case (src, rows) =>
      val shareSum = rows.map(_.getDouble(3)).sum
      assert(math.abs(shareSum - 1.0) < 1e-4, s"$src shares sum to $shareSum")
    }
    // lift == 1 exactly when a source's language share equals the corpus share
    out.foreach { r =>
      assert(r.getDouble(4) > 0.0, "lift is positive on nonzero cells")
    }
  }

  test("quality_length_dist: deciles are equal-count (±1) and span-ordered per language") {
    val out = PipelineOps.queries("quality_length_dist")(spark, dir).collect()
      .groupBy(_.getString(0))
    out.foreach { case (lang, rows) =>
      val sorted = rows.sortBy(_.getLong(1))
      // ntile emits min(10, n_docs) buckets — only demand the full 1..10
      // for languages with >=10 docs so a sparse-language fixture regen
      // can't fail the test without a product bug; always demand the
      // present deciles form a contiguous 1..k range
      val nDocs = sorted.map(_.getLong(2)).sum
      val expected = 1L to math.min(10L, nDocs)
      assert(sorted.map(_.getLong(1)).sameElements(expected),
        s"$lang deciles not contiguous 1..${expected.last}")
      val ns = sorted.map(_.getLong(2))
      assert(ns.max - ns.min <= 1, s"$lang deciles uneven: ${ns.mkString(",")}")
      // each decile's span starts at or after the previous one's start,
      // and its max never exceeds the next decile's min
      sorted.sliding(2).foreach { case Array(lo, hi) =>
        assert(lo.getLong(4) <= hi.getLong(3),
          s"$lang decile spans overlap: ${lo.getLong(4)} > ${hi.getLong(3)}")
      }
    }
  }
}
