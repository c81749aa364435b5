package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{GraphOps, KcoreReference}

import OpsFixture._

/** Round-10 specs: the vertex-broadcast size gate generalized across the
  * graph family (round-9 verdict directive #1). Every query that joins a
  * vertex- or item-dimension-scaling frame now threads ONE injectable gate
  * ([[GraphOps.gatedBc]]): below [[Limits.maxBroadcastVertices]] the frame
  * broadcasts; above it — the 10⁹-vertex regime where a vertex-sized
  * broadcast is a driver OOM — the join flips to a keyed SHUFFLE_HASH
  * build side. Two proofs per site, the RoundNineSpec pattern:
  *
  *   1. BIT-IDENTITY — each gated query runs down both paths on the same
  *      fixture and must collect exactly the same rows (the repo's
  *      exact-arithmetic conventions make this a hard equality, not an
  *      approximation: float columns are round(·,6) of integer/decimal
  *      aggregates, so partial-order differences cannot perturb a bit);
  *   2. PLAN SHAPE — the extracted per-round helpers plan a
  *      ShuffledHashJoin with NO broadcast of the vertex frame and NO sort
  *      of the big stream when the gate is open.
  *
  * Also pinned here: graph_components rides the packed-adjacency artifact
  * (verdict directive #4) and basket_rules rides the basket-pair artifact
  * (directive #5) — both queries must plan as artifact scans, not as
  * in-query re-derivations.
  */
class RoundTenSpec extends AnyFunSuite {
  // ---------------------------------------- 1. both paths, bit-identical

  private val gated: Seq[(String, (org.apache.spark.sql.SparkSession, String, Long) => DataFrame)] = Seq(
    "graph_components" -> ((s: org.apache.spark.sql.SparkSession, d: String, m: Long) =>
      GraphOps.graphComponentsImpl(s, d, m)),
    "graph_jaccard" -> (GraphOps.graphJaccardImpl _),
    "graph_weak_ties" -> (GraphOps.graphWeakTiesImpl _),
    // the shipped r14 delta-peeling spelling (the old edge-restriction
    // impl keeps its own bit-identity pin in RoundFourteenSpec)
    "graph_kcore" -> ((s: org.apache.spark.sql.SparkSession, d: String, m: Long) =>
      GraphOps.graphKcoreDeltaImpl(s, d, m)),
    "basket_rules" -> (GraphOps.basketRulesImpl _),
    "graph_louvain_move" -> (GraphOps.graphLouvainMoveImpl _),
    "graph_closeness" -> (GraphOps.graphClosenessImpl _),
    "graph_bfs" -> (GraphOps.graphBfsImpl _),
    "graph_assortativity" -> (GraphOps.graphAssortativityImpl _),
    "graph_modularity" -> (GraphOps.graphModularityImpl _),
    "graph_random_walk" -> ((s: org.apache.spark.sql.SparkSession, d: String, m: Long) =>
      GraphOps.graphRandomWalkImpl(s, d, m)),
    "graph_label_prop" -> ((s: org.apache.spark.sql.SparkSession, d: String, m: Long) =>
      GraphOps.graphLabelPropImpl(s, d, m)),
  )

  gated.foreach { case (name, impl) =>
    test(s"$name: shuffle-hash fallback is bit-identical to the broadcast path") {
      // kcore needs the sf0.01 fixture: the k=90 cut legitimately empties
      // the sf0.001 graph (the sharp core collapse the operator doc
      // describes), and an empty-vs-empty identity proves nothing
      val at = if (name == "graph_kcore") TestSpark.sf001 else dir
      val bc = impl(spark, at, Limits.maxBroadcastVertices)
        .collect().map(_.toSeq).toSeq
      val sh = impl(spark, at, 0L).collect().map(_.toSeq).toSeq
      assert(bc.nonEmpty, s"$name returned no rows")
      assert(sh == bc, s"$name diverged between gate paths")
    }
  }

  // ------------------------------------- 2. fallback round plan shapes

  private def roundFrames() = {
    import spark.implicits._
    // packed-adjacency toy (the bfs/closeness/label-prop rounds all probe
    // the chunked artifact frame now, not the flat edge stream)
    val adj = Seq((1L, Seq(2L)), (2L, Seq(1L, 3L)), (3L, Seq(2L)))
      .toDF("src", "dsts")
    val vs = Seq(1L, 2L).toDF("v")
    (adj, vs)
  }

  private def assertShuffleHash(plan: String): Unit = {
    assert(plan.contains("ShuffledHashJoin"),
      s"scale fallback must be a shuffle-hash probe:\n$plan")
    assert(!plan.linesIterator.exists(_.contains("- BroadcastExchange")),
      s"vertex-sized frame still broadcasts above the gate:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the big stream must never sort:\n$plan")
  }

  test("kcore round above the gate: keyed shuffle-hash restrictions, no broadcast") {
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val (_, vs) = roundFrames()
    assertShuffleHash(fmt(KcoreReference.kcoreRound(e, vs, small = false)))
  }

  test("bfs round above the gate: keyed shuffle-hash probe + anti-join, no broadcast") {
    val (adj, vs) = roundFrames()
    val seeds = vs.select(org.apache.spark.sql.functions.col("v"))
    assertShuffleHash(fmt(GraphOps.bfsRound(adj, seeds, seeds, 1, small = false)))
  }

  test("closeness round above the gate: keyed shuffle-hash, no broadcast") {
    import spark.implicits._
    val (adj, _) = roundFrames()
    val seeds = Seq((1L, 1L)).toDF("s0", "v")
    assertShuffleHash(fmt(GraphOps.closenessRound(adj, seeds, seeds, 1, small = false)))
  }

  test("label-prop round above the gate: keyed shuffle-hash, no broadcast") {
    import spark.implicits._
    val (adj, _) = roundFrames()
    val labels = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("v", "lbl")
    assertShuffleHash(fmt(GraphOps.labelPropRound(adj, labels, small = false)))
  }

  test("components propagate above the gate: keyed shuffle-hash, no broadcast") {
    import spark.implicits._
    val adj = Seq((1L, 1L, Seq(2L)), (2L, 2L, Seq(1L, 3L)), (3L, 1L, Seq(2L)))
      .toDF("src", "degree", "dsts")
    val labels = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("v", "lbl")
    assertShuffleHash(fmt(GraphOps.componentsPropagate(adj, labels, small = false)))
  }

  // --------------------------- 3. artifact-riding plan pins (dir. #4/#5)

  test("graph_components propagate: probes the packed-adjacency artifact, broadcast below the gate") {
    // the per-round localCheckpoint hides the round subplan from any outer
    // explain (the kcoreRound convention), so pin the extracted helper on
    // the REAL artifact read
    val adjBase = GraphOps.packedAdjPath(spark, dir)
    val adj = spark.read.parquet(s"$adjBase/adj")
    val labels = spark.read.parquet(s"$adjBase/deg")
      .select(org.apache.spark.sql.functions.col("v"),
        org.apache.spark.sql.functions.col("v").as("lbl"))
    val plan = fmt(GraphOps.componentsPropagate(adj, labels, small = true))
    assert(plan.contains("graph_adj_packed"),
      s"components must ride the packed-adjacency artifact:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("basket_rules: artifact scans only — no in-query pair expansion") {
    val plan = fmt(GraphOps.queries("basket_rules")(spark, dir))
    // the pair counts, item dimension, and order census are all pay-once
    // artifact outputs; the query must not re-run the basket groupBy +
    // pair explode (no Generate, no collect_set) and must rank via
    // TakeOrdered, never a global sort
    assert(plan.contains("graph_basket_pairs"),
      s"basket_rules must ride the basket-pair artifact:\n$plan")
    assert(!plan.contains("Generate"),
      s"pair expansion belongs to the artifact build:\n$plan")
    assert(!plan.contains("collect_set"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  // ------------------------------- 4. bucketed cluster path (dir. #6)

  test("bucketed sweep chain: adjacency scans pre-hashed, zero exchange on the state join") {
    import org.apache.spark.sql.functions.{col, lit}
    // align the session's shuffle width to the bucket count, as a cluster
    // deployment would — that is what lets sweep N+1 consume sweep N's
    // aggregate output with NO exchange on either join side
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", GraphOps.adjBuckets.toString)
    try {
      val adjB = spark.table(GraphOps.bucketedAdjTable(spark, dir))
      val pr0 = spark.read.parquet(s"${GraphOps.packedAdjPath(spark, dir)}/deg")
        .select(col("v"), lit(100L).as("pr"))
      val s2 = GraphOps.pagerankSweepBucketed(adjB, 100L,
        GraphOps.pagerankSweepBucketed(adjB, 100L, pr0))
      val plan = fmt(s2)
      assert(plan.contains("Bucketed: true"),
        s"adjacency must scan as a bucketed table:\n$plan")
      assert(plan.contains("ShuffledHashJoin"), plan)
      assert(!plan.contains("SortMergeJoin"), plan)
      assert(!plan.linesIterator.exists(_.contains("- BroadcastExchange")),
        s"the cluster path must not broadcast at any vertex count:\n$plan")
      // three exchanges TOTAL for two chained sweeps: the initial state
      // alignment + each sweep's aggregate shuffle. Neither bucketed
      // adjacency scan exchanges, and sweep 2's state join consumes sweep
      // 1's aggregate output in place — the zero-exchange state join.
      val nEx = "(?<!Broadcast)(?<!Reused)Exchange \\(".r.findAllIn(plan).length
      assert(nEx == 3, s"expected 3 exchanges (pr0 align + 2 agg), found $nEx:\n$plan")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("pagerank: bucketed cluster path is bit-identical to the broadcast path") {
    val bc = GraphOps.graphPagerankImpl(spark, dir, Limits.maxBroadcastVertices)
      .collect().map(_.toSeq).toSeq
    val bk = GraphOps.graphPagerankImpl(spark, dir, Limits.maxBroadcastVertices,
        bucketed = true)
      .collect().map(_.toSeq).toSeq
    assert(bc.nonEmpty && bk == bc)
  }

  test("gate scalars: edgeCount is exact and vertexBound over-approximates the vertex universe") {
    // the nv ≤ 2m bound must err only in the SAFE direction (flipping a
    // still-broadcastable frame to shuffle-hash early), never the unsafe
    // one (declaring a frame broadcastable that isn't)
    val m = GraphOps.edgeCount(spark, dir)
    val e = spark.read.parquet(s"${GraphOps.edgesPath(spark, dir)}/edges")
    assert(m == e.count())
    val nv = spark.read.parquet(s"${GraphOps.packedAdjPath(spark, dir)}/deg").count()
    assert(nv <= GraphOps.vertexBound(spark, dir))
    assert(GraphOps.vertexBound(spark, dir) == 2 * m)
  }

  // ------------------------------ 5. streaming no-data-batch eligibility

  test("stream_sessionize is NOT skip-eligible: the final watermark advance emits real sessions") {
    // The trailing no-data micro-batch advances the watermark past
    // end-of-stream, firing the event-time timeouts that close every user's
    // final gap-expired session. Disabling it must therefore LOSE rows —
    // the output-equality precondition for skipNoDataBatch (the
    // stream_join opt-in) provably fails here, which is why the query does
    // not set it. Measured at sf0.1: 95405 vs 93965 rows, and the skip
    // would save only ~0.2 s of 1.9 (ProfileStreams).
    val nDefault = graft.streaming.Sessionize.sessions(spark, dir).count()
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val nNoFinal = graft.streaming.Sessionize.sessions(spark, dir).count()
      assert(nNoFinal < nDefault,
        s"expected the no-data batch to carry emissions: $nNoFinal vs $nDefault")
    } finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("edge artifact is the basket artifact's key set (one build shuffle, not two)") {
    // deriving edges as the counted pairs' keys must yield exactly the
    // distinct (a < b) co-occurrence set the oracle derives by self-join
    val e = spark.read.parquet(
      s"${GraphOps.edgesPath(spark, dir)}/edges").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pairs = spark.read.parquet(
      s"${GraphOps.basketPairsPath(spark, dir)}/pairs").collect()
      .map(r => ((r.getLong(0) >> 32), r.getLong(0) & 0xFFFFFFFFL)).toSet
    assert(e == pairs)
    assert(e.forall { case (a, b) => a < b })
  }
}
