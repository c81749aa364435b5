package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{AnalyticsOps, GraphOps, PipelineOps, RelOps, SimilarityOps, TextOps}

import OpsFixture._

/** Round-8 first batch: per-vertex clustering coefficients and brand-
  * partition modularity. Both are checked against brute-force local
  * recomputation on the sf0.001 fixture, not just shape. */
class RoundEightOpsSpec extends AnyFunSuite {
  private lazy val localTriPerVertex: Map[Long, Long] = {
    val adj = localEdges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val counts = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for ((a, b) <- localEdges; c <- adj(a) if c > b && adj(b).contains(c)) {
      // triangle {a,b,c} enumerated once at its lowest-id edge (a<b<c by id
      // is not guaranteed for a, but (a,b) with c>b covers each triangle
      // exactly once per its lexicographically-first edge)
      counts(a) += 1; counts(b) += 1; counts(c) += 1
    }
    counts.toMap
  }

  test("graph_clustering_coeff: per-vertex triangle counts match brute force") {
    val got = GraphOps.queries("graph_clustering_coeff")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty && got.length <= 20)
    // top-20 ordering: n_triangles desc, v asc
    assert(got.sliding(2).forall { case Array(x, y) =>
      x._3 > y._3 || (x._3 == y._3 && x._1 < y._1); case _ => true })
    val expectTop = localTriPerVertex.toSeq.sortBy { case (v, n) => (-n, v) }
      .take(got.length)
    assert(got.map(g => (g._1, g._3)).toSeq == expectTop)
    // coefficient = 2·tri / (deg·(deg−1)), within [0, 1]
    got.foreach { case (_, deg, tri, cc) =>
      assert(math.abs(cc - math.rint(2.0 * tri / (deg * (deg - 1)) * 1e6) / 1e6) < 1e-12)
      assert(cc >= 0.0 && cc <= 1.0)
    }
  }

  test("graph_modularity: matches brute-force Q over the brand partition") {
    val brand = Tables.load(spark, dir, "part")
      .select(col("p_partkey"), col("p_brand")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val m = localEdges.size.toLong
    val intra = localEdges.count { case (a, b) => brand(a) == brand(b) }.toLong
    val degs = localEdges.toSeq.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val dc = degs.groupBy { case (v, _) => brand(v) }.view
      .mapValues(_.values.sum).toMap
    val q = intra.toDouble / m -
      dc.values.map(d => d.toDouble * d).sum / (4.0 * m * m)
    val row = GraphOps.queries("graph_modularity")(spark, dir).collect().head
    assert(row.getLong(0) == m)
    assert(row.getLong(1) == intra)
    assert(row.getLong(2) == dc.size.toLong)
    assert(math.abs(row.getDouble(3) - math.rint(q * 1e6) / 1e6) < 1e-9)
    // every edge endpoint is in exactly one community: Σ d_c = 2m
    assert(dc.values.sum == 2 * m)
  }

  test("graph_eigencentrality: integer power iteration replays locally bit-for-bit") {
    val adj = localEdges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var r = adj.keys.map(_ -> GraphOps.eigenScale).toMap
    for (_ <- 1 to GraphOps.eigenIters) {
      val sums = adj.map { case (v, ns) => v -> ns.map(r).sum }
      val mx = sums.values.max
      r = sums.map { case (v, sv) => v -> (sv * GraphOps.eigenScale) / mx }
    }
    val expectTop = r.toSeq.sortBy { case (v, c) => (-c, v) }.take(20)
    val got = GraphOps.queries("graph_eigencentrality")(spark, dir)
      .collect().map(row => (row.getLong(0), row.getLong(1)))
    assert(got.toSeq == expectTop, "top-20 (v, scaled centrality) must replay exactly")
    // the L∞ rescale pins the max at exactly eigenScale
    assert(got.head._2 == GraphOps.eigenScale)
  }

  test("corpus_version_diff: classes partition the id union with exact counts") {
    val ids = Tables.load(spark, dir, "documents")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val removed = ids.count(_ % 13 == 0).toLong
    val added = ids.count(_ % 17 == 0).toLong
    val changed = ids.count(i => i % 13 != 0 && i % 11 == 0).toLong
    val unchanged = ids.count(i => i % 13 != 0 && i % 11 != 0).toLong
    val r = PipelineOps.queries("corpus_version_diff")(spark, dir).collect().head
    assert(r.getLong(0) == ids.size + added) // union = v1 ids + shifted new ids
    assert(r.getLong(1) == added)
    assert(r.getLong(2) == removed)
    assert(r.getLong(3) == changed)
    assert(r.getLong(4) == unchanged)
    // every changed doc gained exactly " recrawl" (8 chars)
    assert(r.getLong(7) == 8 * changed)
  }

  test("join_bloom_pruned: no false negatives, exact verify equals direct join") {
    val r = RelOps.queries("join_bloom_pruned")(spark, dir).collect().head
    val (nFact, nPass, nMatch, nFp) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(nFact > 0 && nMatch > 0)
    // bloom soundness: every true match passes; passes = matches + FPs
    assert(nPass >= nMatch)
    assert(nPass == nMatch + nFp)
    // the pruned-then-verified revenue must equal the direct join's
    assert(r.getDouble(5) == r.getDouble(6))
    // fp_rate over the true negatives
    assert(math.abs(r.getDouble(4) -
      math.rint(nFp.toDouble / math.max(nFact - nMatch, 1L) * 1e6) / 1e6) < 1e-12)
  }

  test("graph_louvain_move: one sync local-move round replays locally") {
    val adj = localEdges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val degL = adj.view.mapValues(_.size.toLong).toMap
    val m = localEdges.size.toLong
    val lbl = adj.map { case (v, ns) =>
      val (target, ktu) = ns.map(u => (u, degL(u)))
        .minBy { case (u, ku) => (ku, u) }
      v -> (if (4 * m - 2 * degL(v) * ktu > 0) target else v)
    }
    val nMoved = lbl.count { case (v, l) => l != v }.toLong
    val intra = localEdges.count { case (a, b) => lbl(a) == lbl(b) }.toLong
    val dc = degL.toSeq.groupBy { case (v, _) => lbl(v) }.view
      .mapValues(_.map(_._2).sum).toMap
    val sd2 = dc.values.map(d => BigInt(d) * BigInt(d)).sum
    val sk2 = degL.values.map(k => BigInt(k) * BigInt(k)).sum
    val qBefore = math.rint(
      (0.0 - sk2.toDouble / (4.0 * m * m)) * 1e6) / 1e6
    val qAfter = math.rint(
      ((4.0 * m * intra.toDouble - sd2.toDouble) / (4.0 * m * m)) * 1e6) / 1e6
    val r = GraphOps.queries("graph_louvain_move")(spark, dir).collect().head
    assert(r.getLong(0) == adj.size.toLong)
    assert(r.getLong(1) == nMoved)
    assert(r.getLong(2) == dc.size.toLong)
    assert(r.getLong(3) == intra)
    assert(math.abs(r.getDouble(4) - qBefore) < 1e-9)
    assert(math.abs(r.getDouble(5) - qAfter) < 1e-9)
  }

  test("graph_closeness: bounded-radius closeness replays a local BFS") {
    val adj = localEdges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val seeds = adj.keys.toSeq.sorted.take(GraphOps.closenessSeedCount)
    val expect = seeds.map { s0 =>
      var dist = Map(s0 -> 0L)
      var frontier = Set(s0)
      for (k <- 1 to GraphOps.bfsDepth) {
        frontier = frontier.flatMap(adj).diff(dist.keySet)
        dist ++= frontier.map(_ -> k.toLong)
      }
      val ds = dist.values.filter(_ > 0).toSeq
      val closeness = math.rint(ds.size.toDouble / ds.sum * 1e6) / 1e6
      val harmonic = ds.map(d => BigDecimal(math.rint(1e6 / d) / 1e6)).sum
      (s0, ds.size.toLong, ds.sum, closeness, harmonic.toDouble)
    }
    val got = GraphOps.queries("graph_closeness")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    assert(got.map(g => (g._1, g._2, g._3)) == expect.map(e => (e._1, e._2, e._3)))
    got.zip(expect).foreach { case (g, e) =>
      assert(math.abs(g._4 - e._4) < 1e-9)
      assert(math.abs(g._5 - e._5) < 1e-9)
    }
  }

  test("events_trend: least-squares slope replays exact local moments") {
    val daily = Tables.load(spark, dir, "events")
      .select(col("event_type"), to_date(col("ts")).as("day"))
      .collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate.toEpochDay))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expect = daily.toSeq.groupBy { case ((t, _), _) => t }.toSeq.sortBy(_._1)
      .map { case (t, rows) =>
        val xs = rows.map { case ((_, x), y) => (BigInt(x), BigInt(y)) }
        val n = BigInt(xs.size)
        val (sx, sy) = (xs.map(_._1).sum, xs.map(_._2).sum)
        val sxy = xs.map { case (x, y) => x * y }.sum
        val sx2 = xs.map { case (x, _) => x * x }.sum
        val slope =
          if (n * sx2 == sx * sx) None
          else Some(math.rint((n * sxy - sx * sy).toDouble /
            (n * sx2 - sx * sx).toDouble * 1e6) / 1e6)
        (t, xs.size.toLong, xs.map(_._2).sum.toLong, slope)
      }
    val got = AnalyticsOps.queries("events_trend")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSeq
    assert(got.map(g => (g._1, g._2, g._3)) == expect.map(e => (e._1, e._2, e._3)))
    got.zip(expect).foreach { case (g, e) => (g._4, e._4) match {
      case (Some(gv), Some(ev)) => assert(math.abs(gv - ev) < 1e-9)
      case (a, b) => assert(a == b)
    }}
  }

  test("quality_ppl_buckets: terciles replay the exact perplexity ordering") {
    val rows = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val perDoc = rows.map { case (id, lang, text) =>
      (id, lang, text.split(" ", -1).groupBy(identity).view.mapValues(_.length.toLong).toMap)
    }
    val cwAll = perDoc.flatMap(_._3).groupBy(_._1).view
      .mapValues(_.map(_._2).sum).toMap
    val nTotal = cwAll.values.sum
    def q6(x: Double): BigDecimal = BigDecimal(math.rint(x * 1e6) / 1e6)
    val ce = perDoc.map { case (id, lang, counts) =>
      val n = counts.values.sum
      val sce = counts.map { case (w, c) => q6(math.log(cwAll(w).toDouble)) * c }.sum
      (id, lang, n,
        math.rint((math.log(nTotal.toDouble) - sce.toDouble / n) * 1e6) / 1e6)
    }
    val expect = ce.groupBy(_._2).toSeq.sortBy(_._1).flatMap { case (lang, ds) =>
      val sorted = ds.sortBy { case (id, _, _, c) => (c, id) }
      val n = sorted.length
      val sizes = Seq.tabulate(3)(i => n / 3 + (if (i < n % 3) 1 else 0))
      val names = Seq("1_head", "2_middle", "3_tail")
      var off = 0
      sizes.zip(names).filter(_._1 > 0).map { case (sz, nm) =>
        val grp = sorted.slice(off, off + sz); off += sz
        (lang, nm, grp.length.toLong, grp.map(_._3).sum,
          grp.map(_._4).min, grp.map(_._4).max,
          math.rint(grp.map(g => q6(g._4)).sum.toDouble / grp.length * 1e6) / 1e6)
      }
    }
    val got = PipelineOps.queries("quality_ppl_buckets")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6))).toSeq
    assert(got.map(g => (g._1, g._2, g._3, g._4)) ==
      expect.map(e => (e._1, e._2, e._3, e._4)))
    got.zip(expect).foreach { case (g, e) =>
      assert(math.abs(g._5 - e._5) < 1e-9 && math.abs(g._6 - e._6) < 1e-9 &&
        math.abs(g._7 - e._7) < 1e-9)
    }
  }

  test("resample_ohlc: open/close follow the (ts, event_id) total order") {
    val rows = Tables.load(spark, dir, "events")
      .select(col("event_type"), date_trunc("hour", col("ts")).as("hour"),
        col("ts"), col("event_id"), col("value")).collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getTimestamp(2).getTime * 1000
        + r.getTimestamp(2).getNanos / 1000 % 1000, r.getLong(3), r.getDouble(4)))
    val expect = rows.groupBy(r => (r._1, r._2)).toSeq
      .sortBy { case ((t, h), _) => (t, h.getTime) }
      .map { case ((t, h), g) =>
        val sorted = g.sortBy(r => (r._3, r._4))
        (t, h, g.size.toLong, sorted.head._5, g.map(_._5).max,
          g.map(_._5).min, sorted.last._5)
      }
    val got = RelOps.queries("resample_ohlc")(spark, dir).collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))
    assert(got.map(g => (g._1, g._2, g._3, g._4, g._5, g._6, g._7)).toSeq ==
      expect)
  }

  test("agg_kmv_intersect: estimates and audit replay the exact hash order") {
    import graft.functions.PolyHash.{Mult, P}
    val k = RelOps.kmvK
    val byType = Tables.load(spark, dir, "events")
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("event_type"), col("user_id")).collect()
      .map(r => (r.getString(0), (r.getLong(1) % P) * Mult % P))
      .distinct.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val (va, vp) = (byType("view"), byType("purchase"))
    def est(hs: Set[Long]): Double =
      if (hs.size < k) hs.size.toDouble
      else {
        val mk = hs.toSeq.sorted.take(k).max
        math.rint((k - 1).toDouble * P / mk * 1e6) / 1e6
      }
    val inter = va.intersect(vp)
    val union = va.union(vp)
    val usk = union.toSeq.sorted.take(k).toSet
    val nMatch = inter.intersect(usk).size
    val r = RelOps.queries("agg_kmv_intersect")(spark, dir).collect().head
    assert(r.getLong(0) == va.size && r.getLong(1) == vp.size)
    assert(r.getLong(2) == inter.size.toLong)
    assert(math.abs(r.getDouble(3) - est(va)) < 1e-9)
    assert(math.abs(r.getDouble(4) - est(vp)) < 1e-9)
    assert(math.abs(r.getDouble(5) - est(union)) < 1e-9)
    assert(math.abs(r.getDouble(6) - math.rint(inter.size.toDouble /
      (va.size + vp.size - inter.size) * 1e6) / 1e6) < 1e-9)
    assert(math.abs(r.getDouble(7) - math.rint(nMatch.toDouble /
      usk.size * 1e6) / 1e6) < 1e-9)
    // the sketch estimate must be within 4·(1/√(K−2)) of truth when full
    if (union.size >= k)
      assert(math.abs(r.getDouble(5) / union.size - 1.0) <
        4.0 / math.sqrt(k - 2.0))
  }

  test("agg_bitmap_distinct: bitmap count equals expand-based countDistinct") {
    val out = RelOps.queries("agg_bitmap_distinct")(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(1) == r.getLong(2),
        s"${r.getString(0)}: bitmap ${r.getLong(1)} != exact ${r.getLong(2)}")
      assert(r.getBoolean(3))
    }
  }

  test("graph_random_walk: deterministic walks replay locally") {
    import graft.functions.PolyHash.{Mult, P}
    val adj = localEdges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toIndexedSeq).toMap
    def affine(i: Int, h: Long): Long = {
      val a = ((2L * i + 1) * Mult) % P
      val r = (a * h + i * 1000003L + 12345L) % P
      if (r < 0) r + P else r
    }
    val counts = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for (start <- adj.keys) {
      var cur = start
      counts(cur) += 1
      for (t <- 0 until GraphOps.walkSteps) {
        val ns = adj(cur)
        val idx = (affine(t, (start * 1009L + cur) % P) % ns.length).toInt
        cur = ns(idx)
        counts(cur) += 1
      }
    }
    val expect = counts.toSeq.sortBy { case (v, n) => (-n, v) }.take(20)
    val got = GraphOps.queries("graph_random_walk")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expect)
    // conservation: every walk contributes steps+1 visits
    assert(counts.values.sum == adj.size.toLong * (GraphOps.walkSteps + 1))
  }

  test("embedding_pca_top: replays the exact integer pipeline locally") {
    val rows = Tables.load(spark, dir, "embeddings")
      .select(col("embedding").cast("array<double>")).collect()
      .map(_.getSeq[Double](0).map(x => math.floor(x * 1e6 + 0.5).toLong).toArray)
    val dd = SimilarityOps.pcaDims
    assert(rows.head.length == dd)
    val n = rows.length.toLong
    val m = Array.tabulate(dd)(i => rows.map(_(i)).sum)
    val cm = Array.tabulate(dd, dd) { (i, j) =>
      val sij = rows.map(r => r(i) * r(j)).map(BigInt(_)).sum
      ((BigInt(n) * sij - BigInt(m(i)) * BigInt(m(j))) /
        (BigInt(n) * BigInt(100000000))).toLong  // BigInt / truncates like DIV
    }
    var v = Array.fill(dd)(SimilarityOps.pcaScale)
    for (_ <- 1 to SimilarityOps.pcaIters) {
      val w = Array.tabulate(dd)(i => (0 until dd).map(j => cm(i)(j) * v(j)).sum)
      val dv = math.max(w.map(math.abs).max / SimilarityOps.pcaScale, 1L)
      v = w.map(_ / dv)
    }
    val expect = (0 until dd).map(i => (i.toLong, v(i)))
      .sortBy { case (i, l) => (-math.abs(l), i) }.take(8)
    val got = SimilarityOps.queries("embedding_pca_top")(spark, dir)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(got == expect)
    // L-inf rescale pins the dominant loading at >= scale
    assert(math.abs(got.map(_._2).maxBy(math.abs)) >= SimilarityOps.pcaScale)
  }

  test("lm_bigram_entropy: nonnegative, bounded by ln(contexts), exact recompute") {
    val out = graft.operators.AnalyticsOps.queries("lm_bigram_entropy")(spark, dir)
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val h = r.getDouble(4)
      val nCtx = r.getLong(3)
      assert(h >= 0.0, s"${r.getString(0)}: negative entropy $h")
      // H(W2|W1) <= log of the larger successor fan-out; ln(vocab) is a
      // safe upper bound and the quantization error is < 1e-5
      assert(h <= math.log(nCtx.toDouble + 1) + 1e-3)
    }
    // exact recompute for one language with the same quantized-log rule
    val q = (x: Double) => math.rint(x * 1e6) / 1e6
    val bigrams = Tables.load(spark, dir, "documents")
      .filter(col("lang") === "en")
      .select(split(col("text"), " ").as("w")).collect()
      .flatMap(_.getSeq[String](0).sliding(2).filter(_.length == 2)
        .map(p => (p(0), p(1))).toSeq)
    val c12 = bigrams.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val c1 = bigrams.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val nBig = bigrams.length.toLong
    val st = c12.map { case ((w1, _), c) =>
      BigDecimal(c) * (BigDecimal(q(math.log(c1(w1).toDouble))) -
        BigDecimal(q(math.log(c.toDouble))))
    }.sum
    val expected = math.rint((st / BigDecimal(nBig)).toDouble * 1e6) / 1e6
    val en = out.find(_.getString(0) == "en").get
    assert(en.getLong(1) == nBig)
    assert(math.abs(en.getDouble(4) - expected) < 1e-5)
  }

  test("text_zipf_slope: matches least-squares over local word counts") {
    val counts = Tables.load(spark, dir, "documents")
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val expect = counts.groupBy(_._1).view.mapValues { ws =>
      val ranked = ws.sortBy { case (_, w, c) => (-c, w) }
        .take(TextOps.zipfRanks).zipWithIndex
      val pts = ranked.map { case ((_, _, c), i) =>
        val q = (v: Double) => math.rint(v * 1e6) / 1e6
        (q(math.log(i + 1.0)), q(math.log(c.toDouble)))
      }
      val n = pts.length.toDouble
      val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
      val sxy = pts.map(p => p._1 * p._2).sum
      val sx2 = pts.map(p => p._1 * p._1).sum
      (pts.length.toLong, (n * sxy - sx * sy) / (n * sx2 - sx * sx))
    }.toMap
    val got = TextOps.queries("text_zipf_slope")(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(3))).toMap
    assert(got.keySet == expect.keySet)
    got.foreach { case (lang, (nRanks, slope)) =>
      assert(nRanks == expect(lang)._1)
      // local floats sum unpinned — compare within quantization tolerance
      assert(math.abs(slope - expect(lang)._2) < 1e-4,
        s"$lang: $slope vs ${expect(lang)._2}")
      assert(slope < 0.0, s"$lang slope should be negative: $slope")
    }
  }
}
