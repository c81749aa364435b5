package graft


import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{GraphOps, KcoreReference}

import OpsFixture._

/** Round-14 specs: the degenerate (edgeless) graph no longer NPEs any
  * driver-side scalar read — the r13 verdict's #3 closed the class at
  * the two remaining sites:
  *
  *   - `graphEigencentralityImpl`'s per-sweep rescale divisor
  *     (`max(s)` over an EMPTY sums frame is null) now falls back to a
  *     well-formed divisor and returns the correct empty landmark set;
  *   - `graphAssortativityImpl`'s m moment (`sum` over zero degree rows
  *     is null where the pre-r13 count-based spelling gave 0) is
  *     coalesced back to 0, so a consumer's getLong(0) on the single
  *     output row never NPEs.
  *
  * Driven on a real fixture dir whose lineitem is schema-identical to
  * sf0.001 but EMPTY — the whole artifact chain (basket pairs → edges →
  * packed adjacency / degree table) builds on zero rows, which is itself
  * part of the pinned contract.
  */
class RoundFourteenSpec extends AnyFunSuite {
  /** A fixture dir with an empty (zero-row, same-schema) lineitem. */
  private lazy val emptyDir: String = {
    val d = TempDirs.make("graft-empty-fixture-").toFile
    spark.read.parquet(s"${TestSpark.sf0001}/lineitem.parquet")
      .limit(0)
      .write.mode("overwrite")
      .parquet(s"${d.getAbsolutePath}/lineitem.parquet")
    d.getAbsolutePath
  }

  test("graph_eigencentrality: edgeless graph yields the empty landmark " +
      "set, no NPE on the per-sweep max(s) divisor") {
    val out = GraphOps.queries("graph_eigencentrality")(spark, emptyDir)
    assert(out.collect().isEmpty,
      "an edgeless graph has no vertices to rank — result must be empty")
  }

  test("graph_assortativity: edgeless graph keeps the count-spelling " +
      "degenerate (m = 0, not NULL); assortativity is NULL (0/0)") {
    val rows = GraphOps.queries("graph_assortativity")(spark, emptyDir)
      .collect()
    assert(rows.length == 1)
    // the exact read the ADVICE flagged as NPE-prone: getLong on m
    assert(rows(0).getLong(0) == 0L)
    assert(rows(0).isNullAt(1),
      "0/0 Pearson correlation has no value — NULL, matching the oracle")
  }

  // --------------- kcore delta peeling (r13 verdict #4)

  test("graph_kcore: delta peeling is bit-identical to the " +
      "edge-restriction spelling, in both adjacency layouts") {
    // sf0.01: the k=90 cut legitimately empties the sf0.001 graph (the
    // sharp core collapse the operator doc describes) — the
    // RoundTenSpec convention
    val kdir = TestSpark.sf001
    val peel = KcoreReference.graphKcorePeelImpl(spark, kdir, Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val delta = GraphOps.graphKcoreDeltaImpl(spark, kdir, Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val bucketed = GraphOps
      .graphKcoreDeltaImpl(spark, kdir, Long.MaxValue, bucketed = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(delta == peel,
      "delta peeling must reproduce the unrolled edge-restriction rounds")
    assert(bucketed == delta,
      "the bucketed-adjacency layout must not change any result bit")
    assert(delta.nonEmpty, "a real core must survive on the fixture")
  }

  test("graph_kcore: the delta probe fans each removed vertex's " +
      "neighbor list out at most once (amortized-linear contract)") {
    // the removal sets across all rounds must be disjoint — that is the
    // whole amortization argument (each edge's endpoints charged once)
    import org.apache.spark.sql.functions._
    val kdir = TestSpark.sf001
    var deg = spark.read
      .parquet(s"${GraphOps.packedAdjPath(spark, kdir)}/deg")
    var removedTotal = 0L
    var seen = Set.empty[Long]
    for (_ <- 1 to GraphOps.kcoreRounds) {
      val removed = deg.filter(col("degree") < GraphOps.kcoreK)
        .select(col("v")).collect().map(_.getLong(0)).toSet
      assert(removed.intersect(seen).isEmpty,
        "a vertex may be removed (and its neighbors probed) only once")
      seen ++= removed
      removedTotal += removed.size
      val alive = deg.filter(col("degree") >= GraphOps.kcoreK)
      val lost = spark.read
        .parquet(s"${GraphOps.packedAdjPath(spark, kdir)}/adj")
        .join(org.apache.spark.sql.functions.broadcast(
          deg.filter(col("degree") < GraphOps.kcoreK)
            .select(col("v").as("src"))), "src")
        .select(explode(col("dsts")).as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("lost"))
      deg = alive.join(lost, Seq("v"), "left")
        .select(col("v"),
          (col("degree") - coalesce(col("lost"), lit(0L))).as("degree"))
        .localCheckpoint()
    }
    assert(removedTotal == seen.size)
  }

  // --------------- louvain probe reversal (r14)

  test("graph_louvain_move: the chunk-row-degree reversal is " +
      "bit-identical to the per-edge degree-probe spelling") {
    import org.apache.spark.sql.functions._
    val got = GraphOps.queries("graph_louvain_move")(spark, dir)
      .collect().map(_.toSeq).toSeq
    // the pre-r14 vote: explode v's own neighbors, probe ku per edge,
    // carry kv on the chunk row — then feed the same label arithmetic by
    // diffing just the (v, target, ktu, kv) vote frame
    val adjBase = GraphOps.packedAdjPath(spark, dir)
    val deg = spark.read.parquet(s"$adjBase/deg")
    val oldVote = spark.read.parquet(s"$adjBase/adj")
      .select(col("src").as("v"), col("degree").as("kv"),
        explode(col("dsts")).as("u"))
      .join(broadcast(deg.select(col("v").as("u"), col("degree").as("ku"))),
        "u")
      .groupBy(col("v"))
      .agg(min_by(struct(col("u"), col("ku")),
          struct(col("ku"), col("u"))).as("b"),
        first(col("kv")).as("kv"))
      .select(col("v"), col("b.u").as("target"), col("b.ku").as("ktu"),
        col("kv"))
      .collect().map(_.toSeq).toSet
    val newVote = spark.read.parquet(s"$adjBase/adj")
      .select(col("src").as("u"), col("degree").as("ku"),
        explode(col("dsts")).as("v"))
      .groupBy(col("v"))
      .agg(min_by(struct(col("u"), col("ku")),
          struct(col("ku"), col("u"))).as("b"))
      .select(col("v"), col("b.u").as("target"), col("b.ku").as("ktu"))
      .join(broadcast(deg.select(col("v"), col("degree").as("kv"))), "v")
      .collect().map(_.toSeq).toSet
    assert(newVote == oldVote,
      "symmetric adjacency: (v, best-neighbor, ku, kv) must be identical " +
        "whichever endpoint carries its degree on the chunk row")
    assert(got.nonEmpty)
  }

  // --------------- bucketed-layout gates (r13 verdict #4)

  test("kcore / label_prop layout gates: small fixtures stay on the " +
      "gated default; each bound sits between its measured crossover rungs") {
    assert(!GraphOps.kcoreUseBucketed(spark, dir))
    assert(!GraphOps.labelPropUseBucketed(spark, dir))
    // kcore: bucketed lost at the 2.39M rung (sf0.1) and won from 4.78M
    // (sf0.2) up — the components window (r14 A/B, docs/SCALE.md)
    assert(graft.Limits.kcoreBucketedBound > 2390000L)
    assert(graft.Limits.kcoreBucketedBound < 4780000L)
    // label_prop: bucketed lost at the 0.24M rung (sf0.01) and won from
    // 2.39M (sf0.1) up
    assert(graft.Limits.labelPropBucketedBound > 240000L)
    assert(graft.Limits.labelPropBucketedBound < 2390000L)
  }

  // --------------- sweep-pin release (r14: bounded live blocks)

  test("graph_pagerank / eigencentrality: dead sweep pins are released " +
      "eagerly — live pinned RDDs stay O(1) in the round count") {
    val sc = spark.sparkContext
    def pinned(): Int = sc.getPersistentRDDs.size
    // pagerank: 12 sweeps in blocks of 4 → without release the run leaves
    // init + 3 block pins (+ the adjacency pin); with release only the
    // adjacency and the final state may remain
    val before = pinned()
    val pr = GraphOps.queries("graph_pagerank")(spark, dir)
    assert(pr.collect().nonEmpty)
    val afterPr = pinned()
    assert(afterPr - before <= 2,
      s"pagerank left ${afterPr - before} pins (adjacency + final state " +
        "are the only live ones allowed — dead block boundaries must be " +
        "released inside the loop)")
    val eig = GraphOps.queries("graph_eigencentrality")(spark, dir)
    assert(eig.collect().nonEmpty)
    val afterEig = pinned()
    assert(afterEig - afterPr <= 2,
      s"eigen left ${afterEig - afterPr} pins (6 sweeps must not " +
        "accumulate 6 live sums pins)")
  }

  // --------------- random-walk positional-chunk fallback (r13 verdict #5)

  test("graph_random_walk: the positional-chunk layout is bit-identical " +
      "to the whole-array layout — including with a tiny K that forces " +
      "every hub across chunk boundaries") {
    def walk(chunked: Option[Boolean], k: Long = GraphOps.walkChunkK) =
      GraphOps.graphRandomWalkImpl(spark, dir, Long.MaxValue, chunked, k)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val whole = walk(Some(false))
    val prodK = walk(Some(true))
    // K=4: fixture degrees run far past 4, so element_at crosses chunk
    // rows on nearly every hop — the positional indexing under real test
    val tinyK = walk(Some(true), 4L)
    assert(prodK == whole,
      "chunked layout (production K) must reproduce the walk corpus")
    assert(tinyK == whole,
      "cross-chunk indexing (K=4) must reproduce the walk corpus")
    assert(whole.nonEmpty)
  }

  test("graph_random_walk: the layout gate auto-selects whole-array " +
      "below the degree ceiling and the require names the real fallback") {
    assert(GraphOps.maxDegree(spark, dir) <= graft.Limits.maxSortedAdjDegree)
    val e = intercept[IllegalArgumentException] {
      GraphOps.requireSortedAdjDegree(graft.Limits.maxSortedAdjDegree + 1)
    }
    assert(e.getMessage.contains("sortedAdjChunkedPath"), e.getMessage)
  }

  // --------------- label_prop bucketed layout (r13 verdict #4)

  test("graph_label_prop: bucketed adjacency layout is bit-identical to " +
      "the gated default") {
    val base = GraphOps.graphLabelPropImpl(spark, dir, Long.MaxValue)
      .collect().map(_.toSeq).toSeq
    val bucketed = GraphOps
      .graphLabelPropImpl(spark, dir, Long.MaxValue, bucketed = true)
      .collect().map(_.toSeq).toSeq
    assert(bucketed == base,
      "the adjacency layout must not change any result bit")
    assert(base.nonEmpty)
  }
}
