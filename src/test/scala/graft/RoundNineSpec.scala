package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.GraphOps

import OpsFixture._

/** Round-9 specs: the size-gated broadcast state in the iterative graph
  * sweeps. Below [[Limits.maxBroadcastVertices]] the vertex-sized rank
  * state broadcasts (the sf-scale fast path); above it — the 10⁹-vertex
  * regime where that broadcast is a driver OOM — the sweep flips to a
  * keyed SHUFFLE_HASH join with the state as the build side. Both the plan
  * shape of each branch and the bit-identity of their results are pinned.
  */
class RoundNineSpec extends AnyFunSuite {
  private def sweepPlan(broadcastState: Boolean): String = {
    import spark.implicits._
    val symd = Seq((1L, 1L, Seq(2L)), (2L, 2L, Seq(1L, 3L)), (3L, 1L, Seq(2L)))
      .toDF("src", "degree", "dsts")
    val pr = Seq((1L, 100L), (2L, 100L), (3L, 100L)).toDF("v", "pr")
    GraphOps.pagerankSweep(symd, 100L, pr, broadcastState)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
  }

  test("pagerank sweep below the gate: state broadcasts, no sort-merge") {
    val plan = sweepPlan(broadcastState = true)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("pagerank sweep above the gate: keyed shuffle-hash, no broadcast, no sort-merge") {
    val plan = sweepPlan(broadcastState = false)
    assert(plan.contains("ShuffledHashJoin"),
      s"scale fallback must be a shuffle-hash probe:\n$plan")
    assert(!plan.linesIterator.exists(_.contains("- BroadcastExchange")),
      s"vertex-sized state still broadcasts above the gate:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the edge stream must never sort:\n$plan")
  }

  test("pagerank: shuffle-hash fallback is bit-identical to the broadcast path") {
    val bc = GraphOps.queries("graph_pagerank")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val sh = GraphOps.graphPagerankImpl(spark, dir, maxBcVerts = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(sh.toSeq == bc.toSeq)
  }

  test("eigencentrality: shuffle-hash fallback is bit-identical to the broadcast path") {
    val bc = GraphOps.queries("graph_eigencentrality")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val sh = GraphOps.graphEigencentralityImpl(spark, dir, maxBcVerts = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(sh.toSeq == bc.toSeq)
  }

  // ---- real-codec paths that replaced the last stub arithmetic (round 9)

  test("WavCodec: samples survive a real RIFF encode + AudioSystem decode") {
    import graft.operators.MultimodalOps.WavCodec
    val samples = Array.tabulate(1000)(i => ((i * 37 + 11) % 256).toByte)
    assert(WavCodec.decode(WavCodec.encode(samples)).toSeq == samples.toSeq)
    assert(WavCodec.decode(WavCodec.encode(Array[Byte]())).isEmpty)
    // and it IS a parsed container, not a byte-offset slice: a corrupted
    // header must fail, not yield garbage samples
    val wav = WavCodec.encode(samples)
    wav(0) = 'X'.toByte
    intercept[Exception](WavCodec.decode(wav))
  }

  test("blockhash64 is computed from the pixels: block means and exact bit rule") {
    import graft.operators.MultimodalOps.{BmpCodec, blockhash64}
    // paint known block values, decode, and check the bits against the
    // independent integer rule 64*v_j > sum(v)
    val vals = Array.tabulate(64)(j => (j * 53 + 7) % 256)
    val bytes = BmpCodec.encodeBlocks(19, 23, vals)
    val (w, h, px) = BmpCodec.decodeRaster(bytes)
    assert((w, h) == (19, 23))
    val sig = blockhash64(w, h, px)
    val total = vals.map(_.toLong).sum
    (0 until 64).foreach { j =>
      val expected = if (vals(j) * 64L > total) 1L else 0L
      assert(((sig >> j) & 1L) == expected, s"bit $j")
    }
    // sensitivity: perturbing one block's gray re-derives the signature
    // under the same rule — the hash really reads the raster
    val vals2 = vals.clone(); vals2(5) = 255
    val (w2, h2, px2) = BmpCodec.decodeRaster(BmpCodec.encodeBlocks(19, 23, vals2))
    val sig2 = blockhash64(w2, h2, px2)
    val total2 = vals2.map(_.toLong).sum
    (0 until 64).foreach { j =>
      val expected = if (vals2(j) * 64L > total2) 1L else 0L
      assert(((sig2 >> j) & 1L) == expected, s"perturbed bit $j")
    }
  }
}
