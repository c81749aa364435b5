package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.plans.Checkpoints.SweepSyntax
import GraphOps.{degrees, edges, gatedBc, kcoreK, kcoreRounds, vertexBound}

/** The edge-restriction k-core spelling that delta peeling replaced, kept
  * in the test tree as the reference the production spelling
  * ([[GraphOps.graphKcoreDeltaImpl]]) must reproduce bit for bit, and the
  * loop whose pin release RoundFifteenSpec checks. The DuckDB oracle for
  * `graph_kcore` unrolls these same rounds. */
object KcoreReference {

  /** One peeling round: restrict the edge set to endpoints whose degree
    * survives the cut. Extracted so PlanSpec can pin the round's physical
    * shape (both vertex-set restrictions broadcast; the edge set never
    * shuffles) — the per-round `localCheckpoint` in [[graphKcoreImpl]] hides
    * the round subplan from any outer explain. */
  private[graft] def kcoreRound(e: DataFrame, keep: DataFrame,
      small: Boolean = true): DataFrame =
    e.join(gatedBc(keep.withColumnRenamed("v", "a"), small), Seq("a"), "left_semi")
      .join(gatedBc(keep.withColumnRenamed("v", "b"), small), Seq("b"), "left_semi")

  /** The pre-r14 edge-restriction spelling, the spec reference for
    * [[GraphOps.graphKcoreDeltaImpl]] (bit-identity pinned in
    * RoundFourteenSpec, cost comparison in docs/SCALE.md). */
  private[graft] def graphKcorePeelImpl(s: SparkSession, d: String,
      maxBcVerts: Long): DataFrame =
    graphKcoreImpl(s, d, maxBcVerts)

  private[graft] def graphKcoreImpl(s: SparkSession, d: String,
      maxBcVerts: Long): DataFrame = {
    var e = edges(s, d)
    // the per-round keep-set is vertex-sized — size-gated ([[gatedBc]]);
    // the bound can only tighten as the edge set shrinks, so one gate read
    // before round 1 covers every round
    val small = vertexBound(s, d) <= maxBcVerts
    for (_ <- 1 to kcoreRounds) {
      // pin the vertex-sized keep-set per round: `keep` feeds BOTH semi-
      // joins AND next round's degree aggregate, so left unpinned the edge
      // lineage re-expands ~3× per round (3^R recomputes of the whole
      // chain — measured 11.7 s vs 1.3 s at sf0.1 for R=4). Checkpointing
      // the dimension-bounded keep-set keeps each round's plan a single
      // linear chain over the shrinking edge list.
      val pe = e
      val keep = degrees(e).filter(col("degree") >= kcoreK).select(col("v"))
        .sweepCheckpoint()
      // pin the restricted EDGE set too (not just keep): each round's
      // degrees(e) otherwise re-derives the whole shrinking edge chain from
      // scratch — R rounds of plan re-execution over an unpinned lineage
      // was the residual cost the keep-set pin alone left behind (driver-
      // measured 4.75 s at sf0.1; the per-round chain is cheap, its
      // R-fold re-derivation was not). The edge set only ever shrinks, so
      // each pin is smaller than the last.
      e = kcoreRound(e, keep, small).sweepCheckpoint()
      // keep fed only this round's two semi-joins, and the old edge pin
      // only this round's probe — both dead once the new pin materializes
      graft.plans.Checkpoints.release(keep)
      graft.plans.Checkpoints.release(pe)
    }
    degrees(e)
      .select(col("v"), col("degree").as("core_degree"))
      .orderBy(col("v"))
  }
}
