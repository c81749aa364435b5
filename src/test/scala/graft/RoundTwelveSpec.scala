package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.GraphOps

import OpsFixture._

/** Round-12 specs, closing the round-11 verdict's ranked directives:
  *
  *   1. `graph_label_prop` round 1 rides the algebraic collapse
  *      ([[GraphOps.labelPropFirstRound]]): identity seeding makes every
  *      first-round vote tie at count 1, so the (−cnt, lbl) argmin IS
  *      "adopt the smallest neighbour id" — `min(array_min(dsts))` per
  *      src over the symmetric packed adjacency, one map-side-combinable
  *      aggregate instead of the state join + explode + two-phase vote.
  *      Pinned: bit-identity to the general round on the identity seed,
  *      and a join-free single-exchange physical plan.
  *   2. The whole-array walk adjacency's row-size ceiling is ENFORCED at
  *      the artifact boundary (verdict directive #4):
  *      [[GraphOps.requireSortedAdjDegree]] gates the build on a cheap
  *      count-only max-degree fold, failing with a message that names the
  *      positional-chunk fallback instead of dying deep in a parquet
  *      write.
  */
class RoundTwelveSpec extends AnyFunSuite {
  // --------------- 1. label_prop round 1: the algebraic collapse

  test("labelPropFirstRound: bit-identical to the general round on the " +
      "identity seed") {
    val adjBase = GraphOps.packedAdjPath(spark, dir)
    val adj = spark.read.parquet(s"$adjBase/adj")
    val seed = spark.read.parquet(s"$adjBase/deg")
      .select(col("v"), col("v").as("lbl"))
    val general = GraphOps.labelPropRound(adj, seed).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val collapsed = GraphOps.labelPropFirstRound(adj).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(collapsed == general,
      "round-1 collapse must reproduce the join+vote round exactly")
    assert(collapsed.nonEmpty)
  }

  test("labelPropFirstRound: join-free plan, one aggregate exchange, " +
      "no explode") {
    val adj = spark.read.parquet(
      s"${GraphOps.packedAdjPath(spark, dir)}/adj")
    val plan = fmt(GraphOps.labelPropFirstRound(adj))
    assert(!plan.contains("Join"),
      s"round 1 must not join the label state:\n$plan")
    assert(!plan.contains("Explode") && !plan.contains("Generate"),
      s"round 1 must not fan the adjacency out:\n$plan")
    assert(nonBroadcastExchanges(plan) == 1,
      s"one partial->final aggregate exchange expected:\n$plan")
    assert(plan.contains("array_min"), plan)
  }

  test("graph_label_prop: end-to-end unchanged by the round-1 collapse " +
      "(communities emerge, sizes consistent)") {
    val got = GraphOps.queries("graph_label_prop")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // community sizes must equal the label histogram of the output itself
    val sizes = got.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    got.foreach { case (_, l, cs) => assert(cs == sizes(l)) }
    assert(sizes.size < got.length, "round 2 must merge somebody")
  }

  // --------------- 2. fixture-generation fingerprint (bench rung stamp)

  test("dataFingerprint: Scala and tools/fixture_fp.py agree (lockstep " +
      "pin for the drift/ladder gates)") {
    val scalaFp = graft.plans.ArtifactCache.dataFingerprint(dir)
    val pyFp = scala.sys.process.Process(
      Seq("python3", "tools/fixture_fp.py", dir)).!!.trim
    assert(scalaFp == pyFp,
      s"fingerprint mirrors diverged: scala=$scalaFp python=$pyFp — " +
        "ArtifactCache.dataFingerprint and tools/fixture_fp.py must " +
        "implement the identical hash")
  }

  test("dataFingerprint: invariant under copy/touch, changes on content " +
      "rewrite") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val src = Paths.get(dir)
    val tmp = TempDirs.make("fpspec")
    Files.list(src).forEach { p =>
      if (p.getFileName.toString.endsWith(".parquet"))
        Files.copy(p, tmp.resolve(p.getFileName),
          StandardCopyOption.REPLACE_EXISTING)
    }
    // copied files have fresh mtimes and a different absolute path — the
    // GENERATION stamp must not care
    val orig = graft.plans.ArtifactCache.dataFingerprint(dir)
    assert(graft.plans.ArtifactCache.dataFingerprint(tmp.toString) == orig)
    // flip one byte in a parquet footer → different generation
    val victim = tmp.resolve("region.parquet")
    val bytes = Files.readAllBytes(victim)
    bytes(bytes.length - 10) = (bytes(bytes.length - 10) ^ 0x01).toByte
    Files.write(victim, bytes)
    assert(graft.plans.ArtifactCache.dataFingerprint(tmp.toString) != orig,
      "a content rewrite must change the generation fingerprint")
    graft.FsUtil.deleteRecursive(tmp.toFile)
  }

  // --------------- 3. artifact stamp transitivity

  test("artifact stamp lists: consumers carry a superset of their input " +
      "artifact's logic (transitive-staleness rule)") {
    // basket pairs → edges → {pair counts, wedges, adjacencies} all share
    // edgesLogic BY REFERENCE; this pins the derivation so a future edit
    // can't silently hand-copy a subset again (LongPairsPacked r10,
    // BucketMembersAgg r11, LongPairs-on-wedges r12 were all this hole)
    assert(GraphOps.basketPairsLogic.toSet.subsetOf(GraphOps.edgesLogic.toSet))
    assert(GraphOps.edgesLogic.contains(graft.functions.LongPairs.getClass))
    assert(GraphOps.edgesLogic.contains(
      graft.functions.LongPairsPacked.getClass))
    assert(graft.operators.DedupOps.ngramIdxLogic.contains(
      graft.functions.BucketMembersAgg.getClass))
  }

  // --------------- 4. walk-adjacency row-size fail-fast

  test("requireSortedAdjDegree: passes at the ceiling, fails past it " +
      "with the fallback named") {
    GraphOps.requireSortedAdjDegree(Limits.maxSortedAdjDegree)
    GraphOps.requireSortedAdjDegree(1L)
    val ex = intercept[IllegalArgumentException] {
      GraphOps.requireSortedAdjDegree(Limits.maxSortedAdjDegree + 1)
    }
    assert(ex.getMessage.contains("positional-chunk"),
      s"the failure must name the fallback spelling: ${ex.getMessage}")
    assert(ex.getMessage.contains((Limits.maxSortedAdjDegree + 1).toString))
  }
}
