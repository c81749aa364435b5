package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DedupOps, GraphOps, KcoreReference}
import graft.plans.Checkpoints

import OpsFixture._

/** Round-15 specs: the sweep-pin release contract is now ENFORCED, not
  * caller-discipline-only (the r14 verdict's #3 and the r14 ADVICE):
  *
  *   - `graft.sweep.paranoidRelease` registers every released RDD id and
  *     a SparkListener flags any later job whose stage lineage scans one
  *     — the exact failure ("re-scan of an unrecomputable pin") that
  *     previously surfaced only under local-mode memory pressure;
  *   - in paranoid mode, releasing a never-pinned / already-released
  *     frame throws AT the call site (storage level NONE);
  *   - every iterative loop in the engine now runs clean under the
  *     paranoid listener, and the loops extended with eager release this
  *     round (closeness, BFS, the dedup-CC fixpoint, the legacy kcore
  *     spelling) hold O(1) live pins instead of O(rounds) — the same
  *     bound RoundFourteenSpec pins for pagerank/eigencentrality.
  */
class RoundFifteenSpec extends AnyFunSuite {
  /** A session with the paranoid-release conf on — newSession shares the
    * SparkContext (and artifact cache) but owns its SQLConf, the
    * RoundThirteenSpec isolation convention. */
  private lazy val paranoid: SparkSession = {
    val s2 = spark.newSession()
    s2.conf.set(Checkpoints.ParanoidKey, "true")
    s2
  }

  /** Listener events post asynchronously; drain the bus before asserting
    * on [[Checkpoints.paranoidViolations]]. Reflects on the bytecode-
    * public `listenerBus()` getter (private[spark] — the
    * setRawCheckpointDir precedent); falls back to a bounded sleep if a
    * Spark upgrade moves it. */
  private def flushListenerBus(): Unit =
    try {
      val bus = spark.sparkContext.getClass
        .getMethod("listenerBus").invoke(spark.sparkContext)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case _: ReflectiveOperationException => Thread.sleep(1000) }

  private def pinned(): Int = spark.sparkContext.getPersistentRDDs.size

  // --------------- 1. the paranoid listener catches the contract breach

  test("paranoidRelease: a job that scans a released pin is flagged " +
      "(re-scan of an unrecomputable localCheckpoint)") {
    Checkpoints.resetParanoid()
    try {
      import Checkpoints.SweepSyntax
      val pin = paranoid.range(1000).toDF("id").sweepCheckpoint()
      assert(pin.count() == 1000L)
      Checkpoints.release(pin)
      // the breach: scan the released frame again. The count may or may
      // not throw (block removal is async); the LISTENER verdict is
      // deterministic either way — the job's DAG names the released id.
      try pin.count() catch { case _: Throwable => () }
      flushListenerBus()
      assert(Checkpoints.paranoidViolations.nonEmpty,
        "a re-scan of a released pin must be recorded as a violation")
    } finally Checkpoints.resetParanoid()
  }

  test("paranoidRelease: releasing an already-released (storage NONE) " +
      "pin fails loudly at the release site") {
    Checkpoints.resetParanoid()
    try {
      import Checkpoints.SweepSyntax
      val pin = paranoid.range(10).toDF("id").sweepCheckpoint()
      Checkpoints.release(pin)
      val e = intercept[IllegalStateException] { Checkpoints.release(pin) }
      assert(e.getMessage.contains("release discipline"), e.getMessage)
      // a frame that is no pin at all (no LogicalRDD root) stays a no-op
      Checkpoints.release(paranoid.range(10).toDF("id"))
    } finally Checkpoints.resetParanoid()
  }

  // --------------- 2. every iterative loop runs clean under the listener

  test("paranoidRelease: the graph sweep family and the dedup-CC " +
      "fixpoint never re-scan a released pin") {
    // this is the enforcement the r14 ADVICE asked for on
    // graphComponentsImpl's full-count convergence check: any refactor
    // that lets a released frame back into a later round's lineage
    // (short-circuit convergence probe, reordered release, a projection
    // kept across rounds) now fails HERE, deterministically, instead of
    // as a missing-block error under memory pressure.
    Checkpoints.resetParanoid()
    try {
      val queries = Seq(
        "graph_components", "graph_pagerank", "graph_eigencentrality",
        "graph_label_prop", "graph_closeness", "graph_bfs")
      queries.foreach { q =>
        val n = GraphOps.queries(q)(paranoid, dir).collect().length
        assert(n > 0, s"$q returned no rows on the fixture")
      }
      // kcore on sf0.01 — the k=90 cut legitimately empties the sf0.001
      // graph (the RoundFourteenSpec convention); both spellings
      val kdir = TestSpark.sf001
      assert(GraphOps.queries("graph_kcore")(paranoid, kdir)
        .collect().nonEmpty)
      KcoreReference.graphKcorePeelImpl(paranoid, kdir, Long.MaxValue).collect()
      // dedup-CC: the 200-hop chain drives ~8 pointer-jump rounds
      val pairs = paranoid.range(200).selectExpr("id AS a", "id + 1 AS b")
      assert(DedupOps.resolveClusters(pairs).collect().length == 201)
      flushListenerBus()
      assert(Checkpoints.paranoidViolations.isEmpty,
        s"released pins re-scanned: ${Checkpoints.paranoidViolations}")
    } finally Checkpoints.resetParanoid()
  }

  // --------------- 3. live pins stay O(1) in the round count

  test("closeness / bfs: one frontier pin per depth round and nothing " +
      "else — live pins stay O(1) in the depth constant") {
    // warm run pays any artifact build; the measured run's delta is pure
    // sweep pins. Round 15 dropped the per-round visited union pin
    // (visited is a lazy union of the frontier pins); round 16 collapses
    // the loop's depth+1 frontier pins into ONE bounded union pin at the
    // end and releases them deterministically — so the allowed residue is
    // exactly that union pin. A regression to leaked per-round frontier
    // pins would read (bfsDepth + 1)× this.
    val cap = 1
    GraphOps.queries("graph_closeness")(spark, dir).collect()
    GraphOps.queries("graph_bfs")(spark, dir).collect()
    val before = pinned()
    GraphOps.queries("graph_closeness")(spark, dir).collect()
    val afterC = pinned()
    assert(afterC - before <= cap,
      s"closeness left ${afterC - before} pins (cap $cap) — each depth " +
        "round may pin its frontier only, never a visited union")
    GraphOps.queries("graph_bfs")(spark, dir).collect()
    val afterB = pinned()
    assert(afterB - afterC <= cap,
      s"bfs left ${afterB - afterC} pins (cap $cap)")
  }

  test("dedup-CC fixpoint: per-round propagate and state pins are " +
      "released — live pins stay O(1) in the round count") {
    val pairs = spark.range(200).selectExpr("id AS a", "id + 1 AS b")
    val before = pinned()
    assert(DedupOps.resolveClusters(pairs).collect().length == 201)
    val after = pinned()
    // ~8 pointer-jump rounds would leave ~17 pins unreleased; allowed
    // residue is the final round's state pin alone (edges are released
    // on convergence)
    assert(after - before <= 1,
      s"resolveClusters left ${after - before} pins")
  }

  test("legacy kcore spellings: per-round edge (and keep) pins are " +
      "released — live pins stay O(1) in the round count") {
    KcoreReference.graphKcorePeelImpl(spark, dir, Long.MaxValue).collect() // warm
    val before = pinned()
    KcoreReference.graphKcorePeelImpl(spark, dir, Long.MaxValue).collect()
    val afterPeel = pinned()
    assert(afterPeel - before <= 1,
      s"kcore peel left ${afterPeel - before} pins (final edge pin only)")
  }

  // --------------- 4. the global-rank gate: both spellings, same ranks

  test("withGlobalRank: the two-phase prefix branch (parts > 1) assigns " +
      "the same 0-based ranks as the single-window branch") {
    import org.apache.spark.sql.functions._
    // 10k rows with heavy ties on the value column; the id tiebreak makes
    // the order total. nRows = 10_000 with the 2M-rows-per-partition gate
    // stays single-window; lying nRows = 10M forces the range spelling —
    // both must produce identical (value, id) → rank assignments.
    val df = spark.range(10000)
      .selectExpr("id", "id % 7 AS value", "CAST(id % 3 AS STRING) AS tag")
      .toDF()
    val cols = Seq(col("value"), col("id"))
    val single = graft.operators.AnalyticsOps
      .withGlobalRank(spark, df, cols, "rk", nRows = 10000L)
      .select(col("id"), col("rk")).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ranged = graft.operators.AnalyticsOps
      .withGlobalRank(spark, df, cols, "rk", nRows = 10L * 1000 * 1000)
      .select(col("id"), col("rk")).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ranged.size == 10000 && single.size == 10000)
    assert(single == ranged, "rank assignment differs between the gated spellings")
    // 0-based and dense: the rank set is exactly 0..n-1
    assert(ranged.values.min == 0L && ranged.values.max == 9999L &&
      ranged.values.toSet.size == 10000)
  }
}
