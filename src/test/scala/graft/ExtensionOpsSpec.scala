package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators._
import OpsFixture.spark

/** Correctness of the §2C pipelines on *planted* duplicates/neighbors —
  * the oracle can't check the hash-based ops (no xxhash64 in DuckDB), so
  * these specs pin their semantics: planted near-dups MUST be found,
  * unrelated rows MUST NOT pair.
  */
class ExtensionOpsSpec extends AnyFunSuite {
  import spark.implicits._

  /** Fixture dir with planted documents + embeddings. */
  private lazy val dir: String = {
    val d = TempDirs.make("graft-ext").toString
    val base = (0 until 40).map(i => s"w${(i * 7) % 13} t${(i * 3) % 11} q$i").mkString(" ")
    val nearDup = base.replace("q7", "qX") // one token differs
    val other = (0 until 40).map(i => s"z$i y${i % 5}").mkString(" ")
    val docs = Seq(
      (0L, base, "en", "s0", base.length.toLong),
      (1L, base, "en", "s1", base.length.toLong),      // exact dup of 0
      (2L, nearDup, "en", "s2", nearDup.length.toLong), // near dup of 0
      (3L, other, "de", "s3", other.length.toLong),     // unrelated
      (4L, "tiny doc", "fr", "s4", 8L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(2).write.parquet(s"$d/documents.parquet")
    val v0 = Array.tabulate(64)(i => math.sin(i + 1).toFloat)
    val v0near = v0.clone(); v0near(0) = v0(0) + 0.001f
    val v1 = Array.tabulate(64)(i => math.cos(i * 2 + 1).toFloat)
    val v2 = Array.tabulate(64)(i => (if (i % 2 == 0) 1f else -1f) * (i + 1))
    val embs = Seq(
      (0L, v0.toSeq, 1), (1L, v0near.toSeq, 1), // near-identical pair
      (2L, v1.toSeq, 2), (3L, v2.toSeq, 3))
    embs.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$d/embeddings.parquet")
    d
  }

  test("embedding_kmeans stops at the exact fixpoint, within the iteration cap") {
    val d = TempDirs.make("graft-kmeans").toString
    // 8 vectors, seeds = all of them: every point is its own nearest
    // centroid with distance 0, so the FIRST update reproduces the seeds
    // bit-for-bit and the loop must stop after exactly one iteration
    val embs = (0 until 8).map(i =>
      (i.toLong, Array.tabulate(16)(j => (i * 100 + j).toFloat).toSeq, i))
    embs.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$d/embeddings.parquet")
    val rows = SimilarityOps.embeddingKmeans(spark, d).collect()
    assert(SimilarityOps.kmeansItersRun.get() == 1,
      s"expected fixpoint after 1 update, ran ${SimilarityOps.kmeansItersRun.get()}")
    assert(rows.length == 8)
    assert(rows.forall(r => r.getAs[Double]("dist2") == 0.0 &&
      r.getAs[Long]("cluster") == r.getAs[Long]("vec_id")), rows.mkString(";"))
    // the cap itself: the real fixture never exceeds kmeansMaxIters
    SimilarityOps.embeddingKmeans(spark, TestSpark.sf0001).collect()
    val n = SimilarityOps.kmeansItersRun.get()
    assert(n >= 1 && n <= SimilarityOps.kmeansMaxIters, s"iters=$n")
  }

  test("dedup_substring finds a planted boilerplate span at its exact offsets") {
    val d = TempDirs.make("graft-substr").toString
    // a 12-token boilerplate block planted inside three otherwise-distinct
    // documents at different offsets; a fourth document shares nothing
    val boiler = (0 until 12).map(i => s"B$i").mkString(" ")
    val uniq = (tag: String, n: Int) => (0 until n).map(i => s"$tag$i").mkString(" ")
    val docs = Seq(
      (0L, s"${uniq("a", 10)} $boiler ${uniq("c", 10)}", "en", "s0", 0L), // offset 11
      (1L, s"$boiler ${uniq("d", 20)}", "en", "s1", 0L),                  // offset 1
      (2L, s"${uniq("e", 25)} $boiler", "en", "s2", 0L),                  // offset 26
      (3L, uniq("z", 40), "en", "s3", 0L))                                // clean
    spark.createDataFrame(docs).toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(2).write.parquet(s"$d/documents.parquet")
    val rows = DedupOps.dedupSubstring(spark, d).collect()
    // exactly one maximal span per planted doc, none for the clean doc
    assert(rows.map(_.getAs[Long]("doc_id")).sorted.toSeq == Seq(0L, 1L, 2L), rows.mkString(";"))
    val byDoc = rows.map(r => r.getAs[Long]("doc_id") ->
      ((r.getAs[Long]("span_start"), r.getAs[Long]("span_len"), r.getAs[Long]("n_docs")))).toMap
    // span covers exactly the 12 boilerplate tokens (5 consecutive 8-token
    // windows merge into one island of length 4+8)
    assert(byDoc(0L) == ((11L, 12L, 3L)), byDoc.toString)
    assert(byDoc(1L) == ((1L, 12L, 3L)), byDoc.toString)
    assert(byDoc(2L) == ((26L, 12L, 3L)), byDoc.toString)
  }

  test("dedup_exact groups identical texts, keeps min doc_id") {
    val rows = DedupOps.dedupExact(spark, dir).collect()
    assert(rows.length == 4) // 5 docs, one exact-dup pair
    val dup = rows.find(_.getAs[Long]("n_copies") == 2).get
    assert(dup.getAs[Long]("keep_id") == 0L)
  }

  test("dedup_minhash finds planted near-dups, not unrelated docs") {
    val pairs = DedupOps.dedupMinhash(spark, dir)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)), "exact dup pair missed")
    assert(pairs.contains((0L, 2L)) && pairs.contains((1L, 2L)), "near-dup pair missed")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), "unrelated doc paired")
  }

  test("dedup_fuzzy: small-edit pairs pass the Levenshtein gate, unrelated do not") {
    val rows = DedupOps.dedupFuzzy(spark, dir).collect()
    val pairs = rows.map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    assert(pairs.contains((0L, 1L)), "exact dup pair missed (dist 0)")
    assert(pairs.contains((0L, 2L)), "one-token edit missed")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), "unrelated doc paired")
    val exact = rows.find(r => r.getAs[Long]("a") == 0L && r.getAs[Long]("b") == 1L).get
    assert(exact.getAs[Long]("dist") == 0L)
    val near = rows.find(r => r.getAs[Long]("a") == 0L && r.getAs[Long]("b") == 2L).get
    assert(near.getAs[Long]("dist") == 1L, "q7→qX is a single-char edit")
  }

  test("dedup_simhash: near-identical docs within hamming 3, unrelated not paired") {
    val rows = DedupOps.dedupSimhash(spark, dir)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(rows.contains((0L, 1L)))
    assert(!rows.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("dedup_ngram_jaccard matches hand-computed Jaccard") {
    val rows = DedupOps.dedupNgramJaccard(spark, dir).collect()
    val exact = rows.find(r => r.getAs[Long]("a") == 0L && r.getAs[Long]("b") == 1L).get
    assert(exact.getAs[Double]("jaccard") == 1.0)
    // near dup: 120 words → 118 distinct shingles; the one changed token
    // appears in 3 windows → |∩| = 115, |∪| = 121
    val near = rows.find(r => r.getAs[Long]("a") == 0L && r.getAs[Long]("b") == 2L).get
    assert(math.abs(near.getAs[Double]("jaccard") - 115.0 / 121.0) < 1e-9)
    assert(!rows.exists(r => r.getAs[Long]("a") == 3L || r.getAs[Long]("b") == 3L))
  }

  test("dedup_embedding flags only the near-identical vectors as dups") {
    val rows = DedupOps.dedupEmbedding(spark, dir).collect()
    assert(rows.length == 4) // one verdict row per vector, even isolated ones
    val byId = rows.map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(byId(0L).getAs[Boolean]("is_dup") && byId(0L).getAs[Long]("nn_id") == 1L)
    assert(byId(1L).getAs[Boolean]("is_dup") && byId(1L).getAs[Long]("nn_id") == 0L)
    assert(byId(0L).getAs[Double]("cosine") > 0.999)
    assert(!byId(2L).getAs[Boolean]("is_dup") && !byId(3L).getAs[Boolean]("is_dup"))
  }

  test("dedup_clusters resolves transitive chains A~B~C into one cluster") {
    // chain: doc1 differs from doc0 by 10 tokens, doc2 from doc1 by 10 OTHER
    // tokens → adjacent Jaccard ≈ 0.59 (≥0.5), end-to-end ≈ 0.33 (<0.5):
    // only transitivity links 0 and 2
    val tmp = TempDirs.make("graft-chain").toString
    val words0 = (0 until 40).flatMap(i => Seq(s"w${i % 13}", s"t${i % 11}", s"q$i"))
    def mutate(ws: Seq[String], range: Range): Seq[String] =
      ws.map(w => if (w.matches("q\\d+") && range.contains(w.drop(1).toInt)) w + "x" else w)
    val texts = Seq(
      words0.mkString(" "),
      mutate(words0, 0 until 10).mkString(" "),
      mutate(mutate(words0, 0 until 10), 10 until 20).mkString(" "),
      (0 until 40).map(i => s"z$i").mkString(" "))
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    val rows = DedupOps.dedupClusters(spark, tmp).collect()
    val cluster = rows.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(cluster(0L) == 0L && cluster(1L) == 0L && cluster(2L) == 0L,
      s"chain not merged: $cluster")
    assert(cluster(3L) == 3L)
    val kept = rows.filter(_.getAs[Boolean]("is_kept")).map(_.getAs[Long]("doc_id")).toSet
    assert(kept == Set(0L, 3L))
  }

  test("sim_search_topk ranks the near-identical vector first") {
    val rows = SimilarityOps.simSearchTopK(spark, dir).collect()
    assert(rows.head.getAs[Long]("vec_id") == 1L)
    assert(rows.head.getAs[Double]("score") > 0.999)
  }

  test("sim_search_ivf returns k results with sane recall on the real fixture") {
    val sf = TestSpark.sf0001
    val exact = SimilarityOps.simSearchTopK(spark, sf)
      .select("vec_id").as[Long].collect().toSet
    val approx = SimilarityOps.simSearchIvf(spark, sf)
      .select("vec_id").as[Long].collect().toSet
    assert(approx.size == 10)
    assert((exact & approx).nonEmpty, "IVF probe missed every true neighbor")
  }

  test("indexed IVF search equals the ad-hoc IVF query and prunes partitions") {
    val sf = TestSpark.sf0001
    val adhoc = SimilarityOps.simSearchIvf(spark, sf).collect()
    val indexed = SimilarityOps.simSearchIvfIndexed(spark, sf)
    assert(indexed.collect().sameElements(adhoc))
    val plan = indexed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cluster_id"),
      s"IVF probe did not prune partitions:\n$plan")
  }

  test("dedup_ngram_jaccard df-cut drops corpus-wide shingles before pair expansion") {
    // 258 docs share one stock phrase (df 258 > dfCut 256). Without the cut
    // that single posting group expands 258²/2 ≈ 33k pairs in one task; with
    // it the phrase never reaches pair expansion, so the only surviving pair
    // is the planted near-dup — and its jaccard EXCLUDES the cut shingle
    // (5 shared low-df shingles of 7 per doc: 5/9, not the 6/8 that counting
    // the phrase would give), proving the cut applied, not just the ≥0.5 gate.
    val d = TempDirs.make("graft-dfcut").toString
    val a = "common stock phrase x1 x2 x3 x4 x5 x6"
    val b = "common stock phrase x1 x2 x3 x4 x5 y6"
    val fillers = (0 until 256).map(i => s"common stock phrase f${i}a f${i}b")
    val docs = (Seq(a, b) ++ fillers).zipWithIndex.map { case (t, i) =>
      (i.toLong, t, "en", s"s$i", t.length.toLong)
    }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(2).write.parquet(s"$d/documents.parquet")
    val rows = DedupOps.dedupNgramJaccard(spark, d).collect()
    assert(rows.length == 1, s"only the planted pair must survive, got ${rows.length}")
    assert(rows.head.getAs[Long]("a") == 0L && rows.head.getAs[Long]("b") == 1L)
    assert(math.abs(rows.head.getAs[Double]("jaccard") - 5.0 / 9.0) < 1e-12,
      "jaccard must exclude the df-cut shingle from the intersection")
  }

  test("oversized LSH buckets degrade to an anchor star, not a dropped cluster") {
    // 70 identical docs (> maxBucket 64): every band bucket holds all 70, so
    // all-pairs expansion would be 2415 pairs in one task; the anchor star
    // emits 69, and the duplicate class still surfaces fully verified —
    // a dropped bucket would have reported NOTHING for the whole class
    val d = TempDirs.make("graft-star").toString
    val boiler = (0 until 12).map(i => s"tok$i").mkString(" ")
    val docs = (0 until 70).map(i => (i.toLong, boiler, "en", s"s$i", boiler.length.toLong)) ++
      Seq((70L, "completely different text here", "en", "s70", 30L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(2).write.parquet(s"$d/documents.parquet")
    val rows = DedupOps.dedupMinhash(spark, d).collect()
    assert(rows.length == 69, s"anchor star must pair all 69 members, got ${rows.length}")
    assert(rows.forall(r => r.getAs[Long]("a") == 0L), "anchor must be the bucket min")
    assert(rows.forall(_.getAs[Double]("jaccard") == 1.0))
    assert(!rows.exists(r => r.getAs[Long]("b") == 70L), "unrelated doc must not pair")
  }

  test("text_fingerprint is order-sensitive and deterministic") {
    val fp = TextOps.textFingerprint(spark, dir)
      .as[(Long, Long)].collect().toMap
    assert(fp(0L) == fp(1L), "identical texts must collide")
    assert(fp(0L) != fp(2L), "different texts must differ")
    val fp2 = TextOps.textFingerprint(spark, dir).as[(Long, Long)].collect().toMap
    assert(fp == fp2, "fingerprint must be run-deterministic")
  }

  test("mm_decode_features: declared schema, real ImageIO round-trip decode") {
    val out = MultimodalOps.mmDecodeFeatures(spark, dir)
    // query surface is scalar-only (array cells aren't comparable downstream);
    // the channel-mean feature vector lives inside the pipeline, as dim+norm
    assert(out.schema.fieldNames.toSeq ==
      Seq("doc_id", "width", "height", "n_channels", "feature_dim",
        "feature_norm", "uniform"))
    val r1 = out.collect()
    val r2 = MultimodalOps.mmDecodeFeatures(spark, dir).collect()
    assert(r1.sameElements(r2))
    assert(r1.forall(_.getAs[Int]("feature_dim") == 3))
    assert(r1.forall(_.getAs[Double]("feature_norm") >= 0.0))
    // the raster scan saw one uniform fill color in every decoded image —
    // only true if the BMP header/raster parse is correct end-to-end
    assert(r1.forall(_.getAs[Boolean]("uniform")))
    // identical payloads decode identically
    val byId = r1.map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("width")).toMap
    assert(byId(0L) == byId(1L))
  }

  test("BmpCodec round-trips dims and fill color exactly") {
    val bytes = MultimodalOps.BmpCodec.encode(13, 9, 200, 50, 7)
    // real BMP on the wire: 'BM' magic + declared dims in the header
    assert(bytes(0) == 'B'.toByte && bytes(1) == 'M'.toByte)
    val (w, h, mr, mg, mb, uni) = MultimodalOps.BmpCodec.decodeStats(bytes)
    assert((w, h, mr, mg, mb, uni) == ((13, 9, 200, 50, 7, true)))
  }

  test("mm_resize real-raster box filter: fits the box, uniform fill survives") {
    val box = MultimodalOps.resizeBox
    val rows = MultimodalOps.mmResize(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (w, h) = (r.getAs[Int]("width"), r.getAs[Int]("height"))
      val (ow, oh) = (r.getAs[Int]("out_w"), r.getAs[Int]("out_h"))
      assert(ow >= 1 && ow <= box && oh >= 1 && oh <= box)
      assert(ow <= w && oh <= h) // fit-within never upscales
      if (math.max(w, h) <= box) assert(ow == w && oh == h)
      // the resample visited real pixels: a uniform source stays uniform
      // and its channel means ARE the fill, so the checksum is exactly
      // ow·oh·(r+g+b)
      assert(r.getAs[Boolean]("uniform"))
      val chSum = r.getAs[Int]("out_mean_r") + r.getAs[Int]("out_mean_g") +
        r.getAs[Int]("out_mean_b")
      assert(r.getAs[Long]("out_checksum") == ow.toLong * oh * chSum)
    }
    val again = MultimodalOps.mmResize(spark, dir).collect()
    assert(rows.sameElements(again))
  }

  test("BmpCodec.resizeArea is a true area mean on a non-uniform raster") {
    // 4x2 raster: left half black, right half white; downsample to 2x1
    val px = Array(0, 0, 0xFFFFFF, 0xFFFFFF, 0, 0, 0xFFFFFF, 0xFFFFFF)
    val out = MultimodalOps.BmpCodec.resizeArea(4, 2, px, 2, 1)
    assert(out.sameElements(Array(0, 0xFFFFFF)))
    // 3x1 -> 2x1: blocks [0,1) and [1,3) — second pixel averages 2 inputs
    val px2 = Array(0x000000, 0x000000, 0x0000FF)
    val out2 = MultimodalOps.BmpCodec.resizeArea(3, 1, px2, 2, 1)
    assert(out2.sameElements(Array(0x000000, 0x00007F)))
  }

  test("mm_frame_sample strides real decoded rows, deterministically") {
    val stride = MultimodalOps.frameStride
    val rows = MultimodalOps.mmFrameSample(spark, dir).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Int]("frame_idx") % stride == 0))
    // per-doc sampled count = ceil(height / stride) — at least one frame each
    val perDoc = rows.groupBy(_.getAs[Long]("doc_id")).view.mapValues(_.length)
    assert(perDoc.values.forall(_ >= 1))
    assert(perDoc.keySet == Set(0L, 1L, 2L, 3L, 4L))
    // every sampled frame of a uniform raster carries the same real pixel sum
    rows.groupBy(_.getAs[Long]("doc_id")).values.foreach { fs =>
      assert(fs.map(_.getAs[Long]("frame_sum")).distinct.length == 1)
    }
    // identical payloads sample identically (docs 0 and 1 share text)
    def frames(id: Long) = rows.filter(_.getAs[Long]("doc_id") == id)
      .map(r => (r.getAs[Int]("frame_idx"), r.getAs[Long]("frame_sum"))).toSeq
    assert(frames(0L) == frames(1L))
  }

  test("text_scrub_pii redacts planted emails/phones and counts them") {
    val tmp = TempDirs.make("graft-pii").toString
    val texts = Seq(
      (0L, "contact me at jane.doe@example.com or +1 555 123 4567 thanks"),
      (1L, "no pii here just words"),
      (2L, "two mails a@b.io c.d@e.org and digits 12345678901"))
    texts.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    val rows = TextOps.textScrubPii(spark, tmp).collect()
    val byId = rows.map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(byId(0L).getAs[Long]("n_emails") == 1 && byId(0L).getAs[Long]("n_phones") == 1)
    assert(byId(1L).getAs[Long]("n_emails") == 0 && byId(1L).getAs[Long]("n_phones") == 0)
    assert(byId(2L).getAs[Long]("n_emails") == 2 && byId(2L).getAs[Long]("n_phones") == 1)
    // scrubbed hash for the clean doc equals the hash of the raw text
    import org.apache.spark.sql.functions.md5
    val clean = spark.createDataset(Seq(texts(1)._2)).select(md5($"value")).head.getString(0)
    assert(byId(1L).getAs[String]("scrub_hash") == clean)
    assert(byId(0L).getAs[String]("scrub_hash") != clean)
  }

  test("streaming-shape guard: extension queries collect nothing to the driver") {
    // plans must be fully distributed: no LocalRelation of the input data
    val plans = Seq(
      DedupOps.dedupMinhash(spark, dir),
      SimilarityOps.simSearchTopK(spark, dir),
      MultimodalOps.mmDecodeFeatures(spark, dir))
    plans.foreach { df =>
      val plan = df.queryExecution.optimizedPlan.toString()
      assert(!plan.contains("LocalRelation"), s"driver-side data found:\n$plan")
    }
  }

  test("cluster resolution converges on a 200-hop chain (pointer-jump: O(log D) rounds)") {
    // a pure min-propagation loop needs 200 rounds here and would trip the
    // 64-round guard; the pointer-jump makes reach double per round
    val pairs = spark.range(200).selectExpr("id AS a", "id + 1 AS b")
    val labels = DedupOps.resolveClusters(pairs).collect()
    assert(labels.length == 201)
    assert(labels.forall(_.getLong(1) == 0L),
      s"all chain members must label to 0, got ${labels.map(_.getLong(1)).distinct.mkString(",")}")
  }
}
