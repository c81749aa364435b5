package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{AnalyticsOps, DedupOps, GraphOps, MultimodalOps}

import OpsFixture._

/** Round-8 ninth batch: per-source scene cuts over really-decoded
  * rasters, the degree histogram, and exact-dedup impact accounting. */
class RoundEightBatchNineSpec extends AnyFunSuite {
  test("mm_scene_cut: per-source cut census replays through a REAL BMP decode") {
    val rows = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // replay the engine's exact path: synthesize the BMP from the payload
    // hash, ImageIO-decode it, sum the raster — NOT the closed-form
    // w·ht·(r+g+b) the oracle uses, so codec and formula cross-check
    def rasterSum(text: String): Long = {
      val h = MultimodalOps.contentHash(text.getBytes("UTF-8"))
      val w = (8 + h % 24).toInt; val ht = (8 + (h >> 5) % 24).toInt
      val bytes = MultimodalOps.BmpCodec.encode(w, ht,
        (h % 256).toInt, ((h >> 8) % 256).toInt, ((h >> 16) % 256).toInt)
      val (dw, dh, px) = MultimodalOps.BmpCodec.decodeRaster(bytes)
      assert(dw == w && dh == ht, "decode must round-trip the synth dims")
      px.map(p => (((p >> 16) & 0xFF) + ((p >> 8) & 0xFF) + (p & 0xFF)).toLong).sum
    }
    val bySource = rows.groupBy(_._2).view.mapValues(
      _.sortBy(_._1).map(r => rasterSum(r._3))).toMap
    val got = MultimodalOps.queries("mm_scene_cut")(spark, dir).collect()
    assert(got.length == bySource.size)
    var cutsTotal = 0L
    got.foreach { r =>
      val sums = bySource(r.getString(0))
      val deltas = sums.sliding(2).filter(_.length == 2)
        .map(p => math.abs(p(1) - p(0))).toSeq
      val cuts = deltas.count(_ > MultimodalOps.sceneCutThreshold).toLong
      assert(r.getLong(1) == sums.length.toLong)
      assert(r.getLong(2) == cuts, r.getString(0))
      assert(r.getLong(3) == (if (deltas.isEmpty) 0L else deltas.max))
      assert(math.abs(r.getDouble(4) - r6(cuts.toDouble / sums.length)) < 1e-12)
      cutsTotal += cuts
    }
    assert(cutsTotal > 0, "threshold must actually fire on this fixture")
  }

  test("graph_degree_dist: counts-of-counts over the brute-force degree map") {
    val edges = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).values.flatMap { g =>
        val ps = g.map(_._2).toSeq.sorted.distinct
        for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
      }.toSet
    val degs = edges.toSeq.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).view.mapValues(_.size.toLong)
    val hist = degs.values.toSeq.groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val got = GraphOps.queries("graph_degree_dist")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == hist)
    // the histogram re-sums to the vertex count
    assert(got.values.sum == degs.size.toLong)
  }

  test("events_transition_entropy: quantized-log conditional entropy replays exactly") {
    def qln(x: Long): BigDecimal =
      BigDecimal(math.log(x.toDouble))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val trans = Tables.load(spark, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")), col("event_id"),
        col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .groupBy(_._1).values.flatMap { rows =>
        val sorted = rows.sortBy(r => (r._2, r._3)).map(_._4)
        sorted.zip(sorted.drop(1))
      }.toSeq
    val cnt = trans.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val ctx = trans.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val got = AnalyticsOps.queries("events_transition_entropy")(spark, dir)
      .collect()
    assert(got.length == ctx.size)
    got.foreach { r =>
      val c = r.getString(0)
      val nexts = cnt.filter(_._1._1 == c)
      assert(r.getLong(1) == ctx(c) && r.getLong(2) == nexts.size.toLong)
      val st = nexts.values.map(n => BigDecimal(n) * (qln(ctx(c)) - qln(n))).sum
      assert(math.abs(r.getDouble(3) - r6((st / BigDecimal(ctx(c))).toDouble))
        < 1e-12, c)
      // conditional entropy is bounded by ln(alphabet size)
      assert(r.getDouble(3) >= 0.0 &&
        r.getDouble(3) <= math.log(ctx.size.toDouble) + 1e-6)
    }
  }

  test("dedup_bucket_dist: band-bucket occupancy histogram replays through the signature fold") {
    import graft.functions.PolyHash
    val texts = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def shingleSet(text: String): Set[String] = {
      val w = text.split(" ", -1)
      if (w.length >= 3) w.sliding(3).map(_.mkString(" ")).toSet else Set(text)
    }
    val numHashes = 32; val bands = 8; val rowsPerBand = numHashes / bands
    val bucketOf = collection.mutable.Map.empty[(Int, Long), Long]
      .withDefaultValue(0L)
    texts.foreach { case (_, text) =>
      val mins = Array.fill(numHashes)(PolyHash.P)
      for (sh <- shingleSet(text)) {
        val h = PolyHash.hash(sh)
        var j = 0
        while (j < numHashes) {
          val v = (((2L * j + 1) * PolyHash.Mult) % PolyHash.P * h +
            j * 1000003L + 12345L) % PolyHash.P
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      for (b <- 0 until bands) {
        var acc = 0L
        for (k <- 0 until rowsPerBand)
          acc = (acc * PolyHash.B + mins(b * rowsPerBand + k)) % PolyHash.P
        bucketOf((b, acc)) += 1
      }
    }
    val hist = bucketOf.values.groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val got = DedupOps.queries("dedup_bucket_dist")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(got.map(g => g._1 -> g._2).toMap == hist)
    got.foreach { case (size, _, over) =>
      assert(over == (size > DedupOps.maxBucket))
    }
    // buckets × occupancy re-sums to docs × bands
    assert(got.map(g => g._1 * g._2).sum == texts.length.toLong * bands)
  }

  test("dedup_impact: digest-canonical accounting replays per source") {
    val rows = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"), col("text"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
    val canon = rows.groupBy(_._4).view
      .mapValues(_.map(_._1).min).toMap
    val got = DedupOps.queries("dedup_impact")(spark, dir).collect()
    assert(got.length == rows.map(_._2).distinct.length)
    var removedTotal = 0L
    got.foreach { r =>
      val src = rows.filter(_._2 == r.getString(0))
      val removed = src.filter(x => canon(x._4) != x._1)
      assert(r.getLong(1) == src.length.toLong)
      assert(r.getLong(2) == removed.length.toLong, r.getString(0))
      assert(r.getLong(3) == removed.map(_._3).sum)
      assert(math.abs(r.getDouble(4) -
        r6(removed.length.toDouble / src.length)) < 1e-12)
      removedTotal += removed.length
    }
    // corpus-wide: removed = docs − distinct contents
    assert(removedTotal == rows.length - rows.map(_._4).distinct.length)
  }
}
