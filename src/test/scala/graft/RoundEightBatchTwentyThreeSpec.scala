package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{PipelineOps, SimilarityOps}

import OpsFixture._

/** Round-8 twenty-third batch: leave-one-out kNN label accuracy and the
  * lognormal length model, replayed brute-force. */
class RoundEightBatchTwentyThreeSpec extends AnyFunSuite {
  test("embedding_knn_eval: panel accuracy replays brute-force") {
    val vecs = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(_.toDouble).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.indices.map(i => a(i) * b(i)).sum
      dot / (math.sqrt(a.map(v => v * v).sum) * math.sqrt(b.map(v => v * v).sum))
    }
    val panel = vecs.filter(_._1 % 37 == 0).sortBy(_._1)
      .take(SimilarityOps.knnEvalQueries)
    val preds = panel.map { case (qid, qlabel, qv) =>
      val nn = vecs.filter(_._1 != qid)
        .map { case (id, lab, v) => (id, lab, r6(cos(v, qv))) }
        .sortBy { case (id, _, s) => (-s, id) }
        .take(SimilarityOps.knnEvalK)
      val vote = nn.groupBy(_._2).view.mapValues(_.length).toSeq
        .sortBy { case (lab, n) => (-n, lab) }.head._1
      (qlabel, vote)
    }
    val expected = preds.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (lab, ps) =>
        val correct = ps.count(p => p._2 == p._1).toLong
        (lab, ps.length.toLong, correct, r6(correct.toDouble / ps.length))
    }
    val got = SimilarityOps.queries("embedding_knn_eval")(spark, dir)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == expected)
    // counts are consistent; the fixture's labels are random w.r.t. the
    // embedding geometry, so near-zero accuracy IS the correct verdict —
    // this eval exists exactly to surface that
    got.foreach(r => assert(r._3 <= r._2 && r._4 >= 0.0 && r._4 <= 1.0))
    assert(got.map(_._2).sum == preds.length.toLong)
  }

  test("corpus_length_model: quantized-log moments replay brute-force") {
    val byLang = Tables.load(spark, dir, "documents")
      .select(col("lang"), col("n_chars")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1)
    val expected = byLang.toSeq.sortBy(_._1).map { case (lang, ds) =>
      val xs = ds.map(d => qln(d._2.toDouble))
      val n = xs.length.toLong
      val sx = xs.sum
      val sxx = xs.map(x => x * x).sum
      (lang, n, r6(sx.toDouble / n),
        r6(math.sqrt((n.toDouble * sxx.toDouble - sx.toDouble * sx.toDouble) /
          (n.toDouble * (n - 1).toDouble))))
    }
    val got = PipelineOps.queries("corpus_length_model")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(got.toSeq == expected)
    // the fixture's lengths concentrate: σ of ln is well under 2 nats
    got.foreach(r => assert(r._4 > 0.0 && r._4 < 2.0))
  }
}
