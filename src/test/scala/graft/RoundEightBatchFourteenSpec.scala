package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.SimilarityOps

import OpsFixture._

/** Round-8 fourteenth batch: random-hyperplane LSH ANN. The replay builds
  * signatures, multiprobe candidates and the exact-cosine rerank
  * brute-force on the driver from the raw fixture vectors. */
class RoundEightBatchFourteenSpec extends AnyFunSuite {
  test("sim_search_lsh: signatures, multiprobe and rerank replay brute-force") {
    val vecs = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(_.toDouble).toArray))
    def hv(p: Int, i: Int): Double =
      ((graft.functions.PolyHash.hashUTF8(
        org.apache.spark.unsafe.types.UTF8String.fromString(s"$p:$i"))
        % 2001L) - 1000L).toDouble / 1000.0
    def sig(v: Array[Double]): Long =
      (0 until SimilarityOps.lshHyperplanes).map { p =>
        val s = v.indices.map(i => v(i) * hv(p, i)).sum
        if (r6(s) >= 0.0) 1L << p else 0L
      }.sum
    val sigs = vecs.map { case (id, _, v) => id -> sig(v) }.toMap
    val qsig = sigs(0L)
    val cand = vecs.filter(_._1 != 0L)
      .filter(v => java.lang.Long.bitCount(sigs(v._1) ^ qsig) <=
        SimilarityOps.lshProbeRadius)
    val qv = vecs.find(_._1 == 0L).get._3
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.indices.map(i => a(i) * b(i)).sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val expected = cand
      .map { case (id, lab, v) => (id, lab, cos(v, qv)) }
      .sortBy { case (id, _, s) => (-s, id) }
      .take(10)
      .map { case (id, lab, s) => (id, lab, r6(s), cand.length.toLong) }
      .sortBy(r => (-r._3, r._1))
    val got = SimilarityOps.queries("sim_search_lsh")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getLong(3)))
    assert(got.toSeq == expected.toSeq)
    // the probe keeps a small fraction of the corpus yet recalls most of
    // the exact top-10 (hyperplane LSH concentrates near-neighbors)
    assert(got.head._4 < vecs.length / 2)
    val exactTop = vecs.filter(_._1 != 0L)
      .map { case (id, _, v) => (id, cos(v, qv)) }
      .sortBy { case (id, s) => (-s, id) }.take(10).map(_._1).toSet
    val recall = got.map(_._1).count(exactTop).toDouble / 10.0
    assert(recall >= 0.5, s"LSH recall@10 too low: $recall")
  }

  test("sim_lsh_recall: curve is monotone and replays the radius sweep") {
    val got = SimilarityOps.queries("sim_lsh_recall")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.map(_._1).toSeq == (0L to 4L))
    // candidates and recall both grow with the radius; the full sweep at
    // radius 8 would be the whole corpus, so radius 4 already sees most
    got.sliding(2).foreach {
      case Array(a, b) =>
        assert(b._2 >= a._2 && b._3 >= a._3)
      case _ =>
    }
    // recall at the production radius matches sim_search_lsh's hit count
    val prod = got(SimilarityOps.lshProbeRadius)
    assert(prod._4 == prod._3.toDouble / 10.0)
  }
}
