package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators._

import OpsFixture._

/** Hand-computed semantics for the round-4 additions: repetition signals,
  * document-frequency scoring, and deterministic k-means clustering. */
class RoundFourOpsSpec extends AnyFunSuite {
  import spark.implicits._

  /** Tiny documents fixture with exactly known word statistics. */
  private lazy val dir: String = {
    val d = TempDirs.make("graft-r4").toString
    val docs = Seq(
      // words: [w w w x] -> top w=3/4, uniq 2/4; bigrams [w w, w w, w x] -> dup 1/3
      (0L, "w w w x", "en", "s0", 7L),
      // all distinct: uniq 1.0, dup_bigram 0.0, top 1/3
      (1L, "a b c", "en", "s1", 5L),
      // single word: no bigrams -> dup 0.0, top 1.0
      (2L, "solo", "de", "s2", 4L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(2).write.parquet(s"$d/documents.parquet")
    d
  }

  test("text_repetition: duplicate-bigram / top-word fractions match hand computation") {
    val rows = TextOps.textRepetition(spark, dir).collect()
    assert(rows.length == 3)
    val r0 = rows(0)
    assert(r0.getAs[Long]("n_words") == 4)
    assert(r0.getAs[Double]("uniq_word_frac") == 0.5)
    assert(math.abs(r0.getAs[Double]("dup_bigram_frac") - (1.0 - 2.0 / 3)) < 1e-15)
    assert(r0.getAs[Double]("top_word_frac") == 0.75)
    val r1 = rows(1)
    assert(r1.getAs[Double]("uniq_word_frac") == 1.0)
    assert(r1.getAs[Double]("dup_bigram_frac") == 0.0)
    assert(math.abs(r1.getAs[Double]("top_word_frac") - 1.0 / 3) < 1e-15)
    val r2 = rows(2)
    assert(r2.getAs[Long]("n_words") == 1)
    assert(r2.getAs[Double]("dup_bigram_frac") == 0.0)
    assert(r2.getAs[Double]("top_word_frac") == 1.0)
  }

  test("text_doc_freq: corpus document frequencies match hand computation") {
    // vocabulary over the fixture: each word appears in exactly one doc -> df=1
    // except nothing repeats across docs, so sum_df == n_words everywhere
    val rows = TextOps.textDocFreq(spark, dir).collect()
    val r0 = rows.find(_.getAs[Long]("doc_id") == 0L).get
    assert(r0.getAs[Long]("n_words") == 4)
    assert(r0.getAs[Long]("sum_df") == 4) // w,w,w,x all df=1
    assert(r0.getAs[Long]("min_df") == 1)
    assert(r0.getAs[Double]("rare_frac") == 1.0)
  }

  test("text_doc_freq: cross-document words count document frequency, not occurrences") {
    val d = TempDirs.make("graft-r4df").toString
    Seq(
      (0L, "k k k", "en", "s0", 5L), // k occurs 3x but in 1 doc -> df(k)=2 (docs 0,1)
      (1L, "k z", "en", "s1", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    val rows = TextOps.textDocFreq(spark, d).collect()
    val r0 = rows.find(_.getAs[Long]("doc_id") == 0L).get
    assert(r0.getAs[Long]("sum_df") == 6) // 3 occurrences of k, each df=2
    val r1 = rows.find(_.getAs[Long]("doc_id") == 1L).get
    assert(r1.getAs[Long]("sum_df") == 3) // k(df=2) + z(df=1)
    assert(r1.getAs[Long]("min_df") == 1)
  }

  test("text_keywords: rarity-weighted ranking matches hand computation") {
    val rows = TextOps.textKeywords(spark, dir).collect()
    // doc 0 = "w w w x": tf(w)=3 df(w)=1, tf(x)=1 df(x)=1, N=3
    // scores: w = 3*3/1 = 9, x = 1*3/1 = 3 -> top keyword is w
    val d0 = rows.filter(_.getAs[Long]("doc_id") == 0L)
    assert(d0.length == 2, "doc 0 has only two distinct terms")
    assert(d0.head.getAs[String]("word") == "w" && d0.head.getAs[Long]("tf") == 3)
    assert(d0.head.getAs[Double]("score") == 9.0)
    assert(d0(1).getAs[String]("word") == "x" && d0(1).getAs[Double]("score") == 3.0)
    // doc 1 = "a b c": all tf=1 df=1 -> equal scores, lexicographic tiebreak
    val d1 = rows.filter(_.getAs[Long]("doc_id") == 1L)
    assert(d1.map(_.getAs[String]("word")).toSeq == Seq("a", "b", "c"))
  }

  test("embedding_kmeans: full assignment, clusters from the seed set, deterministic") {
    val sf = TestSpark.sf0001
    val n = spark.read.parquet(s"$sf/embeddings.parquet").count()
    val out = SimilarityOps.embeddingKmeans(spark, sf).collect()
    assert(out.length == n, "every vector must be assigned")
    val clusters = out.map(_.getAs[Long]("cluster")).toSet
    assert(clusters.subsetOf((0L until 8L).toSet), s"cluster ids outside seed range: $clusters")
    assert(clusters.size > 1, "degenerate clustering")
    assert(out.forall(_.getAs[Double]("dist2") >= 0.0))
    val again = SimilarityOps.embeddingKmeans(spark, sf).collect()
    assert(out.map(_.toSeq.toVector).toVector == again.map(_.toSeq.toVector).toVector,
      "k-means must be deterministic run-over-run")
  }

  test("embedding_kmeans: iteration strictly improves mean within-cluster distance") {
    // seeds are real corpus vectors; after one Lloyd update the centroids are
    // cluster means, which can only lower the total squared distance
    val sf = TestSpark.sf0001
    val out = SimilarityOps.embeddingKmeans(spark, sf)
    val meanD2 = out.agg(org.apache.spark.sql.functions.avg("dist2")).head.getDouble(0)
    assert(meanD2 > 0)
    // crude upper bound: mean distance to NEAREST SEED (iteration-0 assignment)
    import org.apache.spark.sql.functions._
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("ev"))
    val seeds = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("ev").as("cv"))
    val d0 = e.crossJoin(broadcast(seeds))
      .select(col("vec_id"),
        aggregate(zip_with(col("ev"), col("cv"), (x, y) => (x - y) * (x - y)),
          lit(0.0), (a, x) => a + x).as("d2"))
      .groupBy("vec_id").agg(min("d2").as("d2"))
      .agg(avg("d2")).head.getDouble(0)
    assert(meanD2 < d0, s"Lloyd update must improve: iter2 mean $meanD2 vs seed-assign mean $d0")
  }

  test("merge_upsert: batch overrides base on the key, others survive, broadcast anti-join") {
    import org.apache.spark.sql.functions._
    val sf = TestSpark.sf0001
    val df = RelOps.mergeUpsert(spark, sf)
    val ev = spark.read.parquet(s"$sf/events.parquet")
    assert(df.count() == ev.count(), "merge must preserve the key set")
    val corrected = df.filter(col("event_type") === "corrected")
    assert(corrected.count() == ev.filter(col("event_id") % 7 === 0).count())
    assert(corrected.filter(col("event_id") % 7 =!= 0).count() == 0)
    // one surviving base row is bit-identical to its source
    val base = ev.filter(col("event_id") % 7 =!= 0).orderBy(col("event_id")).head
    val merged = df.filter(col("event_id") === base.getAs[Long]("event_id")).head
    assert(merged.getAs[Double]("value") == base.getAs[Double]("value"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), "merge must plan as an anti-join")
    assert(plan.contains("Broadcast"), "the batch side must broadcast")
  }

  test("sort_global_index: positions are a 0-based dense total order matching the sort key") {
    import org.apache.spark.sql.functions._
    val sf = TestSpark.sf0001
    val out = RelOps.sortGlobalIndex(spark, sf)
    val n = out.count()
    val posAgg = out.agg(min("pos"), max("pos"), countDistinct("pos")).head
    assert(posAgg.getLong(0) == 0L && posAgg.getLong(1) == n - 1 && posAgg.getLong(2) == n)
    // spot-check agreement with the (non-scalable) single-window spelling
    val expected = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))
      .withColumn("pos", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))).cast("long") - 1)
      .select("pos", "l_orderkey", "l_linenumber")
    assert(out.exceptAll(expected).isEmpty && expected.exceptAll(out).isEmpty)
  }

  test("compact_cluster: output files cover disjoint key ranges (file-level pruning works)") {
    import org.apache.spark.sql.functions._
    val sf = TestSpark.sf0001
    // build (or reuse) the artifact, then inspect the physical layout
    PipelineOps.compactCluster(spark, sf).count()
    val dir = PipelineOps.clusteredLayout(spark, sf)
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
    assert(files.length > 1, "range partitioning must produce multiple files")
    val fileRanges = files.map { f =>
      val ep = unix_micros(col("l_shipdate").cast("timestamp"))
      val r = spark.read.parquet(f.getPath).agg(min(ep), max(ep)).head
      (f.getPath, r.getLong(0), r.getLong(1))
    }.sortBy(_._2)
    fileRanges.sliding(2).foreach {
      case Array((_, _, hi), (_, lo2, _)) =>
        assert(hi <= lo2, s"file key ranges overlap: $hi > $lo2")
      case _ => ()
    }
    // a narrow date filter reaches the parquet reader (PushedFilters), and —
    // because ranges are disjoint — only a strict prefix of the files can
    // contain matches: the reader's row-group min/max stats skip the rest
    val cutoff = fileRanges(1)._2 // second file's min key
    val narrow = spark.read.parquet(dir)
      .filter(unix_micros(col("l_shipdate").cast("timestamp")) < cutoff)
    assert(narrow.queryExecution.executedPlan.toString.contains("PushedFilters: ["),
      "the clustering key filter must push down to the scan")
    val prefix = fileRanges.filter(_._2 < cutoff).map(_._1)
    assert(prefix.length < files.length, "the filter must exclude whole files")
    val fromPrefix = spark.read.parquet(prefix: _*)
      .filter(unix_micros(col("l_shipdate").cast("timestamp")) < cutoff).count()
    assert(fromPrefix == narrow.count(),
      "files whose min exceeds the cutoff contribute zero rows (skippable)")
  }

  test("embedding_centroid: quantized means are exact and partition-order independent") {
    import org.apache.spark.sql.functions._
    val sf = TestSpark.sf0001
    val out = SimilarityOps.embeddingCentroid(spark, sf).collect()
    // driver-side exact recomputation for one (label, i) cell
    val rows = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("label").cast("long"), col("embedding")).collect()
    val lbl = rows.head.getLong(0)
    val qs = rows.filter(_.getLong(0) == lbl)
      .map(r => math.floor(r.getSeq[Float](1).head.toDouble * 1e6 + 0.5).toLong)
    val expect = qs.sum.toDouble / qs.length
    val got = out.find(r => r.getAs[Long]("label") == lbl && r.getAs[Long]("i") == 1L).get
    assert(got.getAs[Double]("mean_q") == expect, "exact integer moments, single final division")
    assert(got.getAs[Long]("n") == qs.length)
  }

  test("window_first_last / agg_approx_percentile: picker semantics and sketch tolerance") {
    import org.apache.spark.sql.functions._
    val sf = TestSpark.sf0001
    val wfl = RelOps.windowFirstLast(spark, sf)
    val oneUser = wfl.filter(col("user_id") === wfl.head.getAs[Long]("user_id"))
      .orderBy(col("event_id")).collect()
    assert(oneUser.map(_.getAs[Double]("first_val")).distinct.length == 1)
    assert(oneUser.map(_.getAs[Double]("last_val")).distinct.length == 1)
    assert(oneUser.last.getAs[Double]("cd") == 1.0, "CUME_DIST of the last row is 1")
    val tol = RelOps.aggApproxPercentile(spark, sf).collect()
    assert(tol.nonEmpty && tol.forall(_.getAs[Boolean]("within_tol")),
      "approx percentile must sit within 1% of exact")
  }

  test("agg_salted / agg_incremental_merge: rewrites are exact vs the one-pass aggregate") {
    import org.apache.spark.sql.functions._
    val sf = TestSpark.sf0001
    val direct = spark.read.parquet(s"$sf/lineitem.parquet")
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity").cast("decimal(18,6)")).cast("double").as("sum_qty"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag")).collect()
    val salted = RelOps.aggSalted(spark, sf).collect()
    assert(salted.map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq ==
           direct.map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq)
    val inc = RelOps.aggIncrementalMerge(spark, sf).collect()
    assert(inc.map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq ==
           direct.map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq)
    // avg derives from the merged partials exactly
    inc.foreach(r => assert(r.getAs[Double]("avg_qty") ==
      r.getAs[Double]("sum_qty") / r.getAs[Long]("n")))
  }

  test("agg_approx_topk: sketch reports every exact heavy hitter within 1%") {
    val sf = TestSpark.sf0001
    val rows = RelOps.aggApproxTopK(spark, sf).collect()
    assert(rows.length == 10)
    // the skew transform makes keys 0..9 the heavy hitters by construction
    assert(rows.map(_.getAs[Long]("k")).sorted.toSeq == (0L to 9L).toSeq)
    assert(rows.forall(_.getAs[Boolean]("within_tol")))
  }

  test("resample_gapfill: dense per-user day spine, zero-filled, count-preserving") {
    import org.apache.spark.sql.functions._
    val sf = TestSpark.sf0001
    val out = RelOps.resampleGapfill(spark, sf)
    // dense spine: rows per user == day span; no negative counts
    val spans = out.groupBy(col("user_id"))
      .agg(count(lit(1)).as("rows"),
        (datediff(max(col("day")), min(col("day"))) + 1).as("span"))
      .filter(col("rows") =!= col("span"))
    assert(spans.count() == 0, "every user must have one row per day in their span")
    // gap-fill must not invent or lose events
    val total = out.agg(sum("n")).head.getLong(0)
    assert(total == spark.read.parquet(s"$sf/events.parquet").count())
  }

  test("sessionize_batch: session splits match a driver-side replay for one user") {
    import org.apache.spark.sql.functions._
    val sf = TestSpark.sf0001
    val out = RelOps.sessionizeBatch(spark, sf)
    val uid = out.head.getAs[Long]("user_id")
    val got = out.filter(col("user_id") === uid).orderBy(col("session_id")).collect()
      .map(r => (r.getAs[Long]("session_id"), r.getAs[Long]("n_events")))
    // brute-force replay of the 30-min-gap rule
    val ts = Tables.load(spark, sf, "events")
      .filter(col("user_id") === uid)
      .select(unix_micros(col("ts")).as("us"), col("event_id"))
      .orderBy(col("us"), col("event_id")).collect().map(_.getLong(0))
    val sessions = ts.tail.foldLeft(List(List(ts.head))) { (acc, t) =>
      if (t - acc.head.head > 30L * 60 * 1000000) List(t) :: acc
      else (t :: acc.head) :: acc.tail
    }.reverse.map(_.length.toLong)
    assert(got.map(_._2).toSeq == sessions,
      s"session sizes for user $uid must match the replay")
    assert(got.map(_._1).toSeq == sessions.indices.map(_.toLong))
  }

  test("sessionize_native: session_window agrees with the lag+cumsum spelling") {
    import org.apache.spark.sql.functions._
    val sf = TestSpark.sf0001
    // The two spellings legitimately disagree on a gap of EXACTLY 30:00:
    // session_window's [start, last+gap) boundary breaks on >= gap, the
    // batch spelling breaks on > gap. Compare only users with no exact-gap
    // tie, so the assert checks the shared semantics, not the documented
    // boundary difference.
    val exactGapUsers = Tables.load(spark, sf, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
      .withColumn("gap", col("us") - lag(col("us"), 1).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("us"))))
      .filter(col("gap") === 30L * 60 * 1000000)
      .select(col("user_id")).distinct()
    val native = RelOps.sessionizeNative(spark, sf)
      .join(exactGapUsers, Seq("user_id"), "left_anti")
      .select(col("user_id"), col("session_start"), col("n_events"))
    val manual = RelOps.sessionizeBatch(spark, sf)
      .join(exactGapUsers, Seq("user_id"), "left_anti")
      .select(col("user_id"), col("session_start"), col("n_events"))
    assert(native.exceptAll(manual).isEmpty && manual.exceptAll(native).isEmpty,
      "both spellings must produce identical (user, start, size) sessions")
  }

  test("dedup_keep_best: exactly one kept per cluster, and it is the longest member") {
    import org.apache.spark.sql.functions._
    val sf = TestSpark.sf0001
    val out = DedupOps.dedupKeepBest(spark, sf)
    val perCluster = out.groupBy(col("cluster_id"))
      .agg(sum(when(col("is_kept"), 1L).otherwise(0L)).as("kept"))
      .filter(col("kept") =!= 1L)
    assert(perCluster.count() == 0, "every cluster keeps exactly one member")
    // in every multi-member cluster the kept doc has max n_chars
    val docs = Tables.load(spark, sf, "documents").select(col("doc_id"), col("n_chars"))
    val joined = out.join(docs, "doc_id")
    val maxLen = joined.groupBy(col("cluster_id"))
      .agg(max(col("n_chars")).as("max_chars"), count(lit(1)).as("sz"))
    val bad = joined.filter(col("is_kept")).join(maxLen, "cluster_id")
      .filter(col("sz") > 1 && col("n_chars") =!= col("max_chars"))
    assert(bad.count() == 0, "kept member must be the longest in its cluster")
  }

  test("as-of join: backward/forward directions and tolerance, hand-computed") {
    import org.apache.spark.sql.functions._
    import java.sql.Timestamp
    def ts(min: Int) = new Timestamp(1700000000000L + min * 60000L)
    val left = Seq((1L, 10L, ts(60)), (2L, 10L, ts(200)), (3L, 20L, ts(60)))
      .toDF("id", "k", "t")
    val right = Seq((10L, ts(50), "early"), (10L, ts(100), "late"), (30L, ts(55), "other"))
      .toDF("rk", "rt", "v")
    def run(dir: String, tol: Option[Long]) = graft.plans.AsOfJoin.asOf(
        left, right, col("k"), col("rk"), col("t"), col("rt"),
        Seq(col("v") -> "v"), direction = dir, toleranceUs = tol)
      .orderBy(col("id")).collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("v")))
    // backward: id1 @60 -> early(@50); id2 @200 -> late(@100); id3 no key match
    assert(run("backward", None).toSeq == Seq((1L, "early"), (2L, "late"), (3L, null)))
    // forward: id1 @60 -> late(@100); id2 @200 -> nothing ahead
    assert(run("forward", None).toSeq == Seq((1L, "late"), (2L, null), (3L, null)))
    // backward + 30min tolerance: id2's match (@100, 100min stale) nulls out
    assert(run("backward", Some(30L * 60000000)).toSeq ==
      Seq((1L, "early"), (2L, null), (3L, null)))
    // forward + 30min tolerance: id1 -> late(@100) is 40min ahead -> nulls
    assert(run("forward", Some(30L * 60000000)).toSeq ==
      Seq((1L, null), (2L, null), (3L, null)))
  }

  test("dedup_lsh_recall: counts are consistent and recall is found/exact") {
    val sf = TestSpark.sf0001
    val r = DedupOps.dedupLshRecall(spark, sf).head
    val (nExact, nCand, nFound) =
      (r.getAs[Long]("n_exact"), r.getAs[Long]("n_lsh_cand"), r.getAs[Long]("n_found"))
    assert(nFound <= nExact && nFound <= nCand, "overlap bounded by both sets")
    assert(r.getAs[Double]("recall") == nFound.toDouble / nExact)
    assert(nExact > 0, "fixture must contain at least one exact near-dup pair")
  }

  test("dedup_source_matrix: cells reconcile with the verified pair count, ordered sources") {
    import org.apache.spark.sql.functions._
    val sf = TestSpark.sf0001
    val out = DedupOps.dedupSourceMatrix(spark, sf).collect()
    val totalPairs = DedupOps.dedupNgramJaccard(spark, sf).count()
    assert(out.map(_.getAs[Long]("n_pairs")).sum == totalPairs,
      "matrix cells must partition the verified pair set")
    out.foreach(r => assert(
      r.getAs[String]("source_lo") <= r.getAs[String]("source_hi"),
      "pair sources must be canonically ordered"))
  }

  test("corpus_stats: strata totals reconcile with whole-corpus totals") {
    import org.apache.spark.sql.functions._
    val sf = TestSpark.sf0001
    val out = PipelineOps.corpusStats(spark, sf)
    val total = out.agg(sum("n_docs"), sum("total_chars")).head
    val docs = Tables.load(spark, sf, "documents")
    assert(total.getLong(0) == docs.count())
    assert(total.getLong(1) == docs.agg(sum("n_chars")).head.getLong(0))
    out.collect().foreach { r =>
      assert(r.getAs[Double]("mean_chars") ==
        r.getAs[Long]("total_chars").toDouble / r.getAs[Long]("n_docs"))
    }
  }
}
