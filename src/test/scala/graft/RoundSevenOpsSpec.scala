package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{DedupOps, PipelineOps, SimilarityOps}

import OpsFixture._

/** Round-7 additions: JL projection, Z-order layout audit, Bloom ingest
  * prefilter. Each spec pins the property that makes the operator worth
  * running, not just its shape. */
class RoundSevenOpsSpec extends AnyFunSuite {
  test("embedding_project: k rows per vector, deterministic, exact int arithmetic") {
    val out = SimilarityOps.embeddingProject(spark, dir)
    assert(out.schema.fieldNames.toSeq == Seq("vec_id", "j", "y"))
    val rows = out.collect()
    val perVec = rows.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    assert(perVec.values.forall(_ == SimilarityOps.projectDims),
      "every vector must project to exactly k output dims")
    // deterministic across runs (derived matrix, no stored state)
    val again = SimilarityOps.embeddingProject(spark, dir).collect()
    assert(rows.sameElements(again))
    // JL with a ±1 matrix preserves scale: projected coordinates stay within
    // d × max|x| of zero (here a loose sanity bound that catches sign bugs
    // collapsing everything to ~0 or exploding past the input range)
    val maxY = rows.map(r => math.abs(r.getDouble(2))).max
    assert(maxY > 0.0 && maxY < 1000.0)
  }

  test("layout_zorder: buckets bound BOTH dimensions' spans") {
    val rows = PipelineOps.layoutZorder(spark, dir).collect()
    assert(rows.nonEmpty && rows.length <= PipelineOps.zorderBuckets)
    val n = rows.map(_.getAs[Long]("n_rows")).sum
    val li = Tables.load(spark, dir, "lineitem")
    assert(n == li.count(), "every row lands in exactly one bucket")
    val (pLo, pHi, sLo, sHi) = {
      val r = li.agg(min(col("l_partkey")), max(col("l_partkey")),
        min(col("l_suppkey")), max(col("l_suppkey"))).head
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
    val pDomain = (pHi - pLo).toDouble.max(1)
    val sDomain = (sHi - sLo).toDouble.max(1)
    // row-weighted mean span on EACH dimension must be well below the
    // domain — the property a 1-D sort only gives its own key. Top-6-bit
    // bucketing splits each dim into 8 coarse stripes (3 bits each), so
    // ~1/8 is the ideal; 0.45 leaves slack for stripe-boundary rows.
    def meanSpanFrac(lo: String, hi: String, domain: Double): Double =
      rows.map(r => (r.getAs[Long](hi) - r.getAs[Long](lo)).toDouble / domain *
        r.getAs[Long]("n_rows")).sum / n
    val pf = meanSpanFrac("p_min", "p_max", pDomain)
    val sf = meanSpanFrac("s_min", "s_max", sDomain)
    assert(pf < 0.45, s"partkey mean span fraction $pf — interleave broken")
    assert(sf < 0.45, s"suppkey mean span fraction $sf — interleave broken")
  }

  test("embedding_drift: one PSI row per dimension, near-zero on a fair split") {
    val rows = SimilarityOps.embeddingDrift(spark, dir).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("i")).distinct.length == rows.length,
      "one row per dimension")
    rows.foreach { r =>
      assert(r.getAs[Long]("na") > 0 && r.getAs[Long]("nb") > 0)
      val psi = r.getAs[Double]("psi")
      // PSI is a (smoothed) KL-symmetrization: non-negative by construction
      assert(psi >= 0.0, s"dim ${r.getAs[Long]("i")}: negative PSI $psi")
      // even/odd vec_id is a fair split of one distribution — PSI must sit
      // far below the 0.25 'drifted' industry threshold; a bucketing or
      // smoothing bug shows up as a blow-up here
      assert(psi < 0.25, s"dim ${r.getAs[Long]("i")}: PSI $psi on a fair split")
    }
    val again = SimilarityOps.embeddingDrift(spark, dir).collect()
    assert(rows.sameElements(again), "drift report must be run-deterministic")
  }

  test("dedup_bloom_prefilter: no false negatives, audited FP rate") {
    val r = DedupOps.dedupBloomPrefilter(spark, dir).head
    val (nBatch, nMaybe, nDup, nFp) =
      (r.getAs[Long]("n_batch"), r.getAs[Long]("n_maybe"),
        r.getAs[Long]("n_exact_dup"), r.getAs[Long]("n_false_pos"))
    assert(nBatch > 0 && nDup > 0, "fixture must produce overlapping batch")
    // a Bloom filter NEVER loses a present element
    assert(nMaybe >= nDup, s"false negative: maybe=$nMaybe < dup=$nDup")
    assert(nFp == nMaybe - nDup)
    // 2^20 bits over a sub-sf0.001-corpus keyset → FP rate must be tiny
    assert(r.getAs[Double]("fp_rate") <= 0.05)
  }
}
