package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.{MultimodalOps, PipelineOps}

import OpsFixture._

/** Round-8 fifteenth batch: real-raster luminance histogram and the
  * deterministic Poisson-bootstrap confidence interval. */
class RoundEightBatchFifteenSpec extends AnyFunSuite {
  test("mm_luma_hist: BT.601 buckets replay from the synthesis arithmetic") {
    val texts = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val imgs = texts.map { case (_, t) =>
      val h = MultimodalOps.contentHash(t.getBytes("UTF-8"))
      val luma = (299L * (h % 256) + 587L * ((h >> 8) % 256) +
        114L * ((h >> 16) % 256)) / 1000L
      val nPix = (8 + h % 24) * (8 + (h >> 5) % 24)
      (luma / 32, luma, nPix)
    }
    val expected = imgs.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (b, is) => (b, is.size.toLong, is.map(_._3).sum,
        is.map(_._2).min, is.map(_._2).max)
    }
    val got = MultimodalOps.queries("mm_luma_hist")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.toSeq == expected)
    // every bucket's luma span sits inside its 32-step octave
    got.foreach { r =>
      assert(r._4 >= r._1 * 32 && r._5 < (r._1 + 1) * 32)
    }
  }

  test("corpus_bootstrap_ci: Poisson replicas replay brute-force") {
    val lens = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def mult(b: Long, id: Long): Long = {
      val u = graft.functions.PolyHash.hashUTF8(
        UTF8String.fromString(s"$b:$id")).toDouble /
        graft.functions.PolyHash.P.toDouble
      if (u < 0.367879441) 0L else if (u < 0.735758882) 1L
      else if (u < 0.919698603) 2L else if (u < 0.981011843) 3L else 4L
    }
    val means = (0L until PipelineOps.bootstrapReplicas).map { b =>
      val ms = lens.map { case (id, len) => (mult(b, id), len) }
      val n = ms.map(_._1).sum
      (b, r6(ms.map(p => p._1 * p._2).sum.toDouble / n.toDouble))
    }
    val sorted = means.sortBy { case (b, m) => (m, b) }.map(_._2)
    val expected = (lens.length.toLong,
      r6(lens.map(_._2).sum.toDouble / lens.length.toDouble),
      sorted(4), sorted(94), PipelineOps.bootstrapReplicas.toLong)
    val got = PipelineOps.queries("corpus_bootstrap_ci")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3),
        r.getLong(4)))
    assert(got.toSeq == Seq(expected))
    // the interval brackets the point estimate
    val row = got.head
    assert(row._3 <= row._2 && row._2 <= row._4)
  }
}
