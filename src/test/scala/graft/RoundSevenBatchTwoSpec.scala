package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{GraphOps, PipelineOps, RelOps, SourceFormatOps}

import OpsFixture._

/** Round-7 second batch: interval-overlap sweep, table fingerprint,
  * weighted sampling, JDBC source scan, Jaccard tie strength. Each spec
  * pins the property that makes the operator correct, not just its shape. */
class RoundSevenBatchTwoSpec extends AnyFunSuite {
  test("join_interval_overlap: sweep total equals the quadratic pair count") {
    import scala.jdk.CollectionConverters._
    // brute-force the same definition per customer on the fixture
    val iv = Tables.load(spark, dir, "orders")
      .select(col("o_custkey"),
        datediff(col("o_orderdate"), lit("1970-01-01")).as("st"),
        datediff(date_add(col("o_orderdate"), 7), lit("1970-01-01")).as("en"))
      .collect()
      .groupBy(_.getLong(0))
    val expect = iv.view.mapValues { rows =>
      val a = rows.map(r => (r.getInt(1), r.getInt(2)))
      var n = 0L
      for (i <- a.indices; j <- 0 until i)
        if (a(i)._1 < a(j)._2 && a(j)._1 < a(i)._2) n += 1
      n
    }.filter(_._2 > 0).toMap
    val got = RelOps.queries("join_interval_overlap")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect)
  }

  test("join_interval_overlap: half-open [s,e) — touching intervals do not overlap") {
    // back-to-back intervals share an endpoint; the sweep must not count them
    import spark.implicits._
    val df = Seq(
      (1L, "2020-01-01"), (1L, "2020-01-08"), // touch at day 8: no overlap
      (2L, "2020-01-01"), (2L, "2020-01-07"), // day 7 < day 8 end: overlap
    ).toDF("o_custkey", "sd")
      .select(col("o_custkey"), to_date(col("sd")).as("st"),
        date_add(to_date(col("sd")), 7).as("en"))
    val ev = df.select(col("o_custkey").as("c"), col("st").as("tt"), lit(1L).as("delta"))
      .unionAll(df.select(col("o_custkey"), col("en"), lit(-1L)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("c")).orderBy(col("tt"), col("delta"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val got = ev.withColumn("ob", coalesce(sum(col("delta")).over(w), lit(0L)))
      .filter(col("delta") === 1L)
      .groupBy(col("c")).agg(sum(col("ob")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) == 0L, "shared endpoint must not count as overlap")
    assert(got(2L) == 1L)
  }

  test("table_checksum: content sum is row-order-insensitive and change-sensitive") {
    val out = RelOps.queries("table_checksum")(spark, dir).collect()
    assert(out.map(_.getString(0)).toSeq == Seq("customer", "nation", "orders"))
    val nation = out.find(_.getString(0) == "nation").get
    // recompute nation's checksum from a REVERSED row order — must match
    val img = concat_ws("|", col("n_nationkey"), col("n_name"), col("n_regionkey"))
    val rev = Tables.load(spark, dir, "nation")
      .orderBy(col("n_nationkey").desc)
      .agg(sum(graft.functions.PolyHash.poly_hash(img)).as("cs"))
      .head.getLong(0)
    assert(rev == nation.getAs[Long]("content_sum"))
    // flipping one character must move the checksum
    val tampered = Tables.load(spark, dir, "nation")
      .withColumn("n_name", concat(col("n_name"), lit("x")))
      .agg(sum(graft.functions.PolyHash.poly_hash(img)).as("cs"))
      .head.getLong(0)
    assert(tampered != nation.getAs[Long]("content_sum"))
  }

  test("sample_weighted: inclusion is monotone in weight at fixed uniform") {
    val out = PipelineOps.queries("sample_weighted")(spark, dir).collect()
    assert(out.length == 50)
    // every selected priority >= every rejected priority (it IS a top-k)
    val selected = out.map(_.getAs[Double]("priority")).min
    val all = Tables.load(spark, dir, "documents").count()
    assert(all > 50)
    // the sample leans long: mean n_chars of the sample exceeds the corpus mean
    val sampleMean = out.map(_.getAs[Long]("n_chars")).sum.toDouble / out.length
    val corpusMean = Tables.load(spark, dir, "documents")
      .agg(avg(col("n_chars"))).head.getDouble(0)
    assert(sampleMean > corpusMean,
      s"weighted sample should prefer long docs ($sampleMean vs $corpusMean)")
    assert(selected > 0.0)
  }

  test("source_jdbc_scan: JDBC roundtrip equals the parquet original") {
    val viaJdbc = SourceFormatOps.queries("source_jdbc_scan")(spark, dir).collect()
    val direct = Tables.load(spark, dir, "supplier")
      .select(col("s_suppkey").cast("long"), col("s_name"),
        col("s_nationkey").cast("long"), col("s_acctbal").cast("double"))
      .orderBy(col("s_suppkey")).collect()
    assert(viaJdbc.length == direct.length)
    viaJdbc.zip(direct).foreach { case (a, b) => assert(a == b) }
  }

  test("mm_audio_energy: framing arithmetic matches a local replay; short docs emit 0 frames") {
    import graft.operators.MultimodalOps.{audioFrameLen, audioHop}
    val rows = graft.operators.MultimodalOps.queries("mm_audio_energy")(spark, dir)
      .collect()
    val texts = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.length == texts.size)
    rows.foreach { r =>
      val b = texts(r.getLong(0)).getBytes("UTF-8")
      val nf = if (b.length >= audioFrameLen) (b.length - audioFrameLen) / audioHop + 1 else 0
      assert(r.getLong(2) == nf)
      if (nf == 0) {
        assert(r.isNullAt(4) && r.isNullAt(5) && r.getLong(3) == 0L)
      } else {
        val energies = (0 until nf).map { f =>
          (f * audioHop until f * audioHop + audioFrameLen)
            .map { i => val s = (b(i) & 0xff) - 128; s.toLong * s }.sum
        }
        assert(r.getLong(3) == energies.sum)
        assert(r.getLong(4) == energies.max)
        assert(r.getInt(5) == energies.indexOf(energies.max), "first peak frame")
      }
    }
  }

  test("graph_kcore: engine peeling equals an exact local replay") {
    import graft.operators.GraphOps.{kcoreK, kcoreRounds}
    // derive the same co-occurrence edge set locally
    val baskets = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).values.map(_.map(_._2).toSet)
    var edges: Set[(Long, Long)] = baskets.flatMap { ps =>
      val v = ps.toSeq.sorted
      for (i <- v.indices; j <- i + 1 until v.length) yield (v(i), v(j))
    }.toSet
    for (_ <- 1 to kcoreRounds) {
      val deg = edges.toSeq.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val keep = deg.filter(_._2 >= kcoreK).keySet
      edges = edges.filter(e => keep(e._1) && keep(e._2))
    }
    val expect = edges.toSeq.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = graft.operators.GraphOps.queries("graph_kcore")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect)
  }

  test("lm_greedy_decode: every step is the exact argmax continuation") {
    import graft.operators.AnalyticsOps.greedyDecodeSteps
    val rows = graft.operators.AnalyticsOps.queries("lm_greedy_decode")(spark, dir)
      .collect().sortBy(_.getLong(0)).map(_.getString(1))
    assert(rows.length == greedyDecodeSteps + 1)
    // local replay of the model
    val texts = Tables.load(spark, dir, "documents")
      .select(col("text")).collect().map(_.getString(0).split(" ").toSeq)
    val uni = texts.flatten.groupBy(identity).view.mapValues(_.size).toMap
    val bi = texts.flatMap(w => w.zip(w.drop(1)))
      .groupBy(identity).view.mapValues(_.size).toMap
    val seed = uni.toSeq.minBy { case (w, c) => (-c, w) }._1
    assert(rows(0) == seed)
    rows.zip(rows.drop(1)).foreach { case (cur, next) =>
      val cont = bi.collect { case ((a, b), c) if a == cur => (b, c) }
      val best = cont.toSeq.minBy { case (b, c) => (-c, b) }._1
      assert(next == best, s"continuation of '$cur' must be '$best', got '$next'")
    }
  }

  test("embedding_label_sim: full pair matrix, cosines in [-1,1], exact replay") {
    val rows = graft.operators.SimilarityOps.queries("embedding_label_sim")(spark, dir)
      .collect()
    val k = Tables.load(spark, dir, "embeddings")
      .select(col("label")).distinct().count().toInt
    assert(rows.length == k * (k - 1) / 2, "one row per unordered label pair")
    rows.foreach { r =>
      val c = r.getDouble(2)
      assert(c >= -1.0 && c <= 1.0, s"cosine out of range: $c")
      assert(r.getLong(0) < r.getLong(1))
    }
    // replay one pair exactly from quantized integer sums
    val q = Tables.load(spark, dir, "embeddings")
      .select(col("label").cast("long").as("l"), posexplode(col("embedding")).as(Seq("i", "x")))
      .select(col("l"), col("i"),
        floor(col("x").cast("double") * 1000000.0 + 0.5).cast("long").as("q"))
      .groupBy(col("l"), col("i")).agg(sum(col("q")).as("q"))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val dims = q.keys.map(_._2).toSeq.distinct
    val (la, lb) = (rows(0).getLong(0), rows(0).getLong(1))
    val dot = dims.map(i => q((la, i)) * q((lb, i))).sum
    val na2 = dims.map(i => q((la, i)) * q((la, i))).sum
    val nb2 = dims.map(i => q((lb, i)) * q((lb, i))).sum
    def rnd(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(rows(0).getDouble(2) == rnd(dot / (math.sqrt(na2.toDouble) * math.sqrt(nb2.toDouble))))
  }

  test("events_streaks: streaks are genuine consecutive-day runs") {
    val rows = graft.operators.AnalyticsOps.queries("events_streaks")(spark, dir)
      .collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val active = Tables.load(spark, dir, "events")
      .select(col("user_id"), expr("CAST(ts AS DATE)").as("day")).distinct()
      .collect().map(r => (r.getLong(0), r.getDate(1).toLocalDate))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    rows.foreach { r =>
      val (u, n, start) = (r.getLong(0), r.getLong(1), r.getDate(2).toLocalDate)
      val days = active(u)
      // the reported streak is fully active and maximal on both ends
      (0L until n).foreach(i => assert(days(start.plusDays(i))))
      assert(!days(start.minusDays(1)), "streak must be left-maximal")
      assert(!days(start.plusDays(n)), "streak must be right-maximal")
    }
  }

  test("lm_collocations: lift replays from exact counts; support floor holds") {
    val rows = graft.operators.AnalyticsOps.queries("lm_collocations")(spark, dir)
      .collect()
    assert(rows.length == 20)
    val nTokens = Tables.load(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w")).count()
    def rnd(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    rows.foreach { r =>
      val (cab, ca, cb) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(cab >= graft.operators.AnalyticsOps.minColloSupport)
      assert(cab <= math.min(ca, cb), "pair count bounded by unigram counts")
      assert(r.getDouble(5) == rnd(cab.toDouble * nTokens / (ca.toDouble * cb)))
    }
    val lifts = rows.map(_.getDouble(5)).toSeq
    assert(lifts == lifts.sorted.reverse)
  }

  test("events_ab_test: readout replays from the four exact counts; non-degenerate") {
    val r = graft.operators.AnalyticsOps.queries("events_ab_test")(spark, dir)
      .collect()(0)
    val (na, ca, nb, cb) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(na > 0 && nb > 0)
    assert(ca > 0 && ca < na && cb > 0 && cb < nb,
      s"conversion must be non-degenerate in both cohorts: $ca/$na, $cb/$nb")
    def rnd(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val (pa, pb) = (ca / na.toDouble, cb / nb.toDouble)
    assert(r.getDouble(4) == rnd(pa) && r.getDouble(5) == rnd(pb))
    assert(r.getDouble(6) == rnd(pb / pa - 1.0))
    val p = (ca + cb) / (na + nb).toDouble
    val z = (pb - pa) / math.sqrt(p * (1.0 - p) * (1.0 / na + 1.0 / nb))
    assert(r.getDouble(7) == rnd(z))
  }

  test("stream_anomaly: finite replay equals the batch anomaly board") {
    val streamed = graft.streaming.StreamOps.queries("stream_anomaly")(spark, dir)
      .collect().map(_.toSeq).toSeq
    val batch = graft.operators.AnalyticsOps.queries("events_anomaly")(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch,
      "streamed daily z-scores must hash-equal the batch board")
  }

  test("graph_jaccard: scores are valid and consistent with the pair counts") {
    val out = GraphOps.queries("graph_jaccard")(spark, dir).collect()
    assert(out.nonEmpty && out.length <= 20)
    out.foreach { r =>
      val j = r.getAs[Double]("jaccard")
      assert(j > 0.0 && j <= 1.0, s"jaccard out of range: $j")
      assert(r.getAs[Long]("common_neighbors") >= 1L)
    }
    // descending by jaccard
    val js = out.map(_.getAs[Double]("jaccard")).toSeq
    assert(js == js.sorted.reverse)
  }
}
