package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{SimilarityOps, TextOps}

import OpsFixture._

/** Round-8 seventh batch: the IVF recall@k curve and the hapax-legomena
  * vocabulary audit, replayed brute-force on sf0.001. */
class RoundEightBatchSevenSpec extends AnyFunSuite {
  test("sim_recall_curve: local exact + IVF retrieval replay per cutoff") {
    val embs = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) {
        s += a(i).toDouble * b(i).toDouble; i += 1
      }; s
    }
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) {
        val x = a(i).toDouble; val y = b(i).toDouble
        d += x * y; na += x * x; nb += y * y; i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val q = embs.find(_._1 == 0L).get._2
    // the published lists rank by (rounded score desc, id) — replicate
    def rankedTop(cands: Seq[(Long, Array[Float])]): Seq[Long] =
      cands.map { case (id, v) => (id, r6(cos(v, q))) }
        .sortBy { case (id, sc) => (-sc, id) }.take(10).map(_._1)
    val exact = rankedTop(embs.filter(_._1 != 0L).toSeq)
    val cents = embs.filter(_._1 < 16L)
    val assigned = embs.map { case (id, v) =>
      id -> cents.map { case (cid, cv) => (cid, dot(v, cv)) }
        .maxBy { case (cid, sim) => (sim, -cid) }._1
    }.toMap
    val probes = cents.map { case (cid, cv) => (cid, dot(cv, q)) }
      .sortBy { case (cid, sim) => (-sim, cid) }.take(4).map(_._1).toSet
    val ivf = rankedTop(embs.filter { case (id, _) =>
      id != 0L && probes.contains(assigned(id)) }.toSeq)
    val got = SimilarityOps.queries("sim_recall_curve")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(_._1).toSeq == SimilarityOps.recallCurveKs.map(_.toLong))
    got.foreach { case (k, nHit, recall) =>
      val expHit = exact.take(k.toInt).toSet
        .intersect(ivf.take(k.toInt).toSet).size.toLong
      assert(nHit == expHit, s"k=$k")
      assert(math.abs(recall - r6(nHit.toDouble / k)) < 1e-12)
      assert(recall >= 0.0 && recall <= 1.0)
    }
    // the curve is monotone in hits: hits@k can only grow with k
    val hits = got.map(_._2)
    assert(hits.sliding(2).forall { case Array(a, b) => b >= a; case _ => true })
  }

  test("text_hapax: per-language hash-keyed vocabulary census replays exactly") {
    val byLang = Tables.load(spark, dir, "documents")
      .select(col("lang"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val got = TextOps.queries("text_hapax")(spark, dir).collect()
    assert(got.length == byLang.size)
    got.foreach { r =>
      val lang = r.getString(0)
      val counts = byLang(lang).flatMap(_.split(" ", -1))
        .map(graft.functions.PolyHash.hash)
        .groupBy(identity).view.mapValues(_.length.toLong).toMap
      val nTokens = counts.values.sum
      val vocab = counts.size.toLong
      val hapax = counts.values.count(_ == 1L).toLong
      val dis = counts.values.count(_ == 2L).toLong
      assert(r.getLong(1) == nTokens && r.getLong(2) == vocab, lang)
      assert(r.getLong(3) == hapax && r.getLong(4) == dis, lang)
      assert(math.abs(r.getDouble(5) - r6(hapax.toDouble / vocab)) < 1e-12)
      assert(math.abs(r.getDouble(6) - r6(vocab.toDouble / nTokens)) < 1e-12)
      // counts-of-counts partition the vocabulary
      assert(hapax + dis <= vocab)
    }
  }
}
