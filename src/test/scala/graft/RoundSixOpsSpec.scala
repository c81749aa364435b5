package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{AnalyticsOps, PipelineOps, TextOps}

import OpsFixture._

/** Round-6 curation operators on planted fixtures: the value-level oracle
  * proves engine agreement, these specs pin the SEMANTICS the oracle can't
  * see — that the dataset split is leakage-proof by construction, the mix
  * is balanced to the rarest stratum, profiling counts what was planted,
  * perplexity orders rare-word soup above natural prose, and the linear
  * scorer's decision is exactly its integer margin's sign.
  */
class RoundSixOpsSpec extends AnyFunSuite {
  import spark.implicits._

  /** Docs fixture: two exact copies (0,1), common-word prose (2), one
    * rare-word soup (3), a symbol-heavy doc (4); langs en×3, de, fr. */
  private lazy val dir: String = {
    val d = TempDirs.make("graft-r6").toString
    val common = Seq.fill(40)("the cat sat on the mat").mkString(" ")
    val rare = (0 until 240).map(i => s"zq$i").mkString(" ")
    val symbols = "@@@ ### $$$ %%% ^^^ &&& *** " * 12
    val docs = Seq(
      (0L, common, "en", "s0", common.length.toLong),
      (1L, common, "en", "s1", common.length.toLong), // exact dup of 0
      (2L, common.replace("cat", "dog"), "en", "s2", common.length.toLong),
      (3L, rare, "de", "s3", rare.length.toLong),
      (4L, symbols.trim, "fr", "s4", symbols.trim.length.toLong))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(2).write.parquet(s"$d/documents.parquet")
    d
  }

  test("split_dataset: exact duplicates can never straddle splits") {
    val rows = PipelineOps.splitDataset(spark, dir).collect()
    assert(rows.length == 5)
    val byId = rows.map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    // docs 0 and 1 share CONTENT, so the content-hash key forces one split
    assert(byId(0L) == byId(1L), s"dup copies split across ${byId(0L)}/${byId(1L)}")
    assert(rows.forall(r => Set("train", "valid", "test")(r.getAs[String]("split"))))
  }

  test("split_dataset: assignment is a partition with ~80/10/10 shares at sf0.01") {
    val rows = PipelineOps.splitDataset(spark, TestSpark.sf001).collect()
    val n = rows.length.toDouble
    val shares = rows.groupBy(_.getAs[String]("split")).view.mapValues(_.length / n).toMap
    assert(math.abs(shares.getOrElse("train", 0.0) - 0.80) < 0.06, shares.toString)
    assert(math.abs(shares.getOrElse("valid", 0.0) - 0.10) < 0.05, shares.toString)
    assert(math.abs(shares.getOrElse("test", 0.0) - 0.10) < 0.05, shares.toString)
  }

  test("corpus_mix balances every language to the rarest one's size") {
    val rows = PipelineOps.corpusMix(spark, dir).collect()
    // lang counts en=3, de=1, fr=1 → quota = 1, every lang keeps exactly 1
    assert(rows.length == 3)
    assert(rows.forall(r => r.getAs[Long]("quota") == 1L &&
      r.getAs[Long]("n_kept") == 1L), rows.mkString(";"))
    val en = rows.find(_.getAs[String]("lang") == "en").get
    assert(en.getAs[Long]("n_total") == 3L)
    // deterministic: the same survivors (kept_chars) on a re-run
    val again = PipelineOps.corpusMix(spark, dir).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("data_profile counts planted nulls/distincts and renders min/max") {
    val d = TempDirs.make("graft-r6-orders").toString
    Seq[(java.lang.Long, java.lang.Long, String, String)](
      (1L, 10L, "O", "1-URGENT"),
      (2L, 10L, "F", "2-HIGH"),
      (3L, null, "O", "1-URGENT"),
      (4L, 20L, null, "3-LOW"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
      .write.parquet(s"$d/orders.parquet")
    val rows = AnalyticsOps.dataProfile(spark, d).collect()
      .map(r => r.getAs[String]("col_name") -> r).toMap
    assert(rows.keySet == Set("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
    assert(rows.values.forall(_.getAs[Long]("n_rows") == 4L))
    val custkey = rows("o_custkey")
    assert(custkey.getAs[Long]("n_nulls") == 1L)
    assert(custkey.getAs[Long]("n_distinct") == 2L) // 10, 20
    assert(custkey.getAs[String]("min_v") == "10" && custkey.getAs[String]("max_v") == "20")
    val status = rows("o_orderstatus")
    assert(status.getAs[Long]("n_nulls") == 1L)
    assert(status.getAs[String]("min_v") == "F" && status.getAs[String]("max_v") == "O")
  }

  test("text_perplexity: rare-word soup scores above repeated prose; dups tie") {
    val rows = AnalyticsOps.textPerplexity(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // exact copies see the same corpus LM → identical perplexity
    assert(rows(0L).getAs[Double]("perplexity") == rows(1L).getAs[Double]("perplexity"))
    // every token of doc 3 is corpus-unique (c_w = 1): maximal surprisal;
    // doc 0's tokens repeat ~hundreds of times: low perplexity
    assert(rows(3L).getAs[Double]("perplexity") > 10 * rows(0L).getAs[Double]("perplexity"),
      s"rare=${rows(3L)} common=${rows(0L)}")
    // c_w = 1 for all of doc 3's words ⇒ ln terms are 0 ⇒ ppl = N exactly
    val n = rows.values.map(_.getAs[Long]("n_words")).sum.toDouble
    assert(math.abs(rows(3L).getAs[Double]("perplexity") - n) < 1e-3)
  }

  test("quality_score_linear: decision is the integer margin's sign") {
    val rows = TextOps.qualityScoreLinear(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val m = r.getAs[Long]("margin")
      assert(r.getAs[Boolean]("keep") == (m >= 0))
      val p = r.getAs[Double]("p_keep")
      assert(p > 0.0 && p < 1.0)
      assert((m >= 0) == (p >= 0.5), s"sigmoid disagrees with margin: $r")
    }
    val byId = rows.map(r => r.getAs[Long]("doc_id") -> r).toMap
    // the symbol-heavy doc must drop; the long prose docs must keep
    assert(!byId(4L).getAs[Boolean]("keep"), byId(4L).toString)
    assert(byId(0L).getAs[Boolean]("keep"), byId(0L).toString)
    // p_keep is monotone in the margin
    val sorted = rows.sortBy(_.getAs[Long]("margin"))
    assert(sorted.map(_.getAs[Double]("p_keep")).toSeq ==
      sorted.map(_.getAs[Double]("p_keep")).sorted.toSeq)
  }

  test("quality_gopher: each rule drops exactly the doc planted to break it") {
    val d = TempDirs.make("graft-gopher").toString
    val filler = (0 until 28).map(i => s"word$i") // 28 distinct 5-6 char words
    val keeper = (filler ++ Seq("the", "a")).mkString(" ")          // 30 words, clean
    val short = "the a tiny doc"                                    // < 25 words
    val noStop = filler.mkString(" ") ++ " extra two"               // no 'the'/'a'
    val repeat = (Seq.fill(10)("spam") ++ filler.take(18) ++ Seq("the", "a")).mkString(" ")
    Seq(
      (0L, keeper, "en", "s0", keeper.length.toLong),
      (1L, short, "en", "s1", short.length.toLong),
      (2L, noStop, "en", "s2", noStop.length.toLong),
      (3L, repeat, "en", "s3", repeat.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    val rows = PipelineOps.qualityGopher(spark, d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows(0L).getAs[Boolean]("keep") && rows(0L).getAs[Long]("reasons") == 0L)
    assert(!rows(1L).getAs[Boolean]("keep") &&
      (rows(1L).getAs[Long]("reasons") & 1L) != 0L, rows(1L).toString)
    assert(!rows(2L).getAs[Boolean]("keep") &&
      rows(2L).getAs[Long]("reasons") == 4L, rows(2L).toString)
    // 10 'spam' in 30 words = 33% > 20%: repetition bit, and ONLY that bit
    assert(!rows(3L).getAs[Boolean]("keep") &&
      rows(3L).getAs[Long]("reasons") == 8L, rows(3L).toString)
    assert(rows(3L).getAs[Long]("top_word_cnt") == 10L)
  }

  test("curation_pipeline: the funnel attributes each planted doc to its stage") {
    val d = TempDirs.make("graft-funnel").toString
    val clean = (0 until 40).map(i => s"alpha$i").mkString(" ")
    val benched = (0 until 35).map(i => s"beta$i").mkString(" ") + " b1 b2 b3 b4 b5"
    Seq(
      (0L, "b1 b2 b3 b4 b5 b6", "en", "src0", 17L),   // the benchmark itself
      (10L, clean, "en", "s1", clean.length.toLong),   // survives everything
      (11L, clean, "en", "s2", clean.length.toLong),   // exact dup → stage 2
      (12L, "way too short", "en", "s3", 13L),         // quality fail → stage 1
      (13L, benched, "en", "s4", benched.length.toLong)) // contaminated → stage 3
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    val rows = PipelineOps.curationPipeline(spark, d).collect()
      .map(r => r.getAs[String]("stage_name") -> r.getAs[Long]("n_docs")).toMap
    assert(rows == Map("raw" -> 4L, "quality" -> 3L, "dedup" -> 2L,
      "decontaminated" -> 1L), rows.toString)
  }

  test("sample_token_budget: greedy prefix matches a locally-computed reference") {
    import graft.functions.PolyHash.{Mult, P}
    val d = TempDirs.make("graft-budget").toString
    // ~12k+ BPE tokens so the 10k budget genuinely cuts
    val docs = (0L until 120L).map { i =>
      val t = (0 until 100).map(j => s"tk${(i * 7 + j) % 300}").mkString(" ")
      (i, t, "en", "s0", t.length.toLong)
    }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(5).write.parquet(s"$d/documents.parquet")
    val out = PipelineOps.sampleTokenBudget(spark, d).collect()
    val keptIds = out.map(_.getAs[Long]("doc_id")).toSet
    // local reference: same tokenizer, same priority order, greedy scan
    val toks = spark.read.parquet(s"$d/documents.parquet")
      .select($"doc_id", graft.functions.BpeTable.bpe_token_count($"text").cast("long").as("tok"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val order = docs.map(_._1).sortBy(id => ((id % P) * Mult % P, id))
    var cum = 0L
    val expect = scala.collection.mutable.Set[Long]()
    order.foreach { id => if (cum < 10000L) expect += id; cum += toks(id) }
    assert(keptIds == expect.toSet,
      s"kept=${keptIds.size} expected=${expect.size}")
    // the two-phase prefix must equal the naive running sum
    val byId = out.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cum_tokens")).toMap
    var run = 0L
    order.takeWhile { id => val before = run; run += toks(id); before < 10000L }
      .foreach { id => assert(byId(id) == order.takeWhile(_ != id).map(toks).sum + toks(id)) }
  }

  test("corpus_mix_temperature: sqrt weights flatten the mix toward rare languages") {
    val rows = PipelineOps.corpusMixTemperature(spark, TestSpark.sf001).collect()
    assert(rows.length >= 2)
    val total = rows.map(_.getAs[Long]("n_total")).sum
    val budget = total / 2
    // quotas respect the budget and never exceed a language's supply
    assert(rows.map(_.getAs[Long]("quota")).sum <= budget)
    rows.foreach { r =>
      assert(r.getAs[Long]("quota") <= r.getAs[Long]("n_total"))
      assert(r.getAs[Long]("n_kept") == r.getAs[Long]("quota"),
        s"window pick must fill the quota exactly: $r")
    }
    // temperature flattening: every language's mix share exceeds its raw
    // share iff it is below-average-sized (sqrt compresses the range)
    val wsum = rows.map(_.getAs[Double]("weight")).sum
    assert(math.abs(wsum - 1.0) < 1e-4, s"weights must normalize, got $wsum")
    val rare = rows.minBy(_.getAs[Long]("n_total"))
    val big = rows.maxBy(_.getAs[Long]("n_total"))
    assert(rare.getAs[Double]("weight") > rare.getAs[Long]("n_total").toDouble / total)
    assert(big.getAs[Double]("weight") < big.getAs[Long]("n_total").toDouble / total)
    // deterministic on re-run
    val again = PipelineOps.corpusMixTemperature(spark, TestSpark.sf001).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("cluster_profile agrees with the kmeans assignment it shares") {
    import graft.operators.SimilarityOps
    val prof = SimilarityOps.clusterProfile(spark, TestSpark.sf0001).collect()
      .map(r => r.getAs[Long]("cluster") -> r.getAs[Long]("n_docs")).toMap
    val fromAssign = SimilarityOps.embeddingKmeans(spark, TestSpark.sf0001).collect()
      .groupBy(_.getAs[Long]("cluster")).view.mapValues(_.length.toLong).toMap
    assert(prof == fromAssign, s"profile=$prof assign=$fromAssign")
    val rows = SimilarityOps.clusterProfile(spark, TestSpark.sf0001).collect()
    rows.foreach { r =>
      val mean = r.getAs[Double]("mean_chars")
      assert(mean == r.getAs[Long]("total_chars").toDouble / r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("n_langs") >= 1L && r.getAs[Long]("n_sources") >= 1L)
    }
  }
}
