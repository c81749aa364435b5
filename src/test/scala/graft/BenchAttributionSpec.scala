package graft

import org.scalatest.funsuite.AnyFunSuite
import OpsFixture.spark

/** The bench's artifact-attribution contract: every pay-once artifact the
  * bench warms is genuinely pay-once — a SECOND warm pass over the same
  * fixture must execute zero builds (all cache hits), so per-query bench
  * numbers never silently absorb an ArtifactCache build. This is the spec
  * face of Bench's `artifact_builds` / `stray_builds` reporting. */
class BenchAttributionSpec extends AnyFunSuite {
  private val sf = TestSpark.sf0001

  test("second warmArtifacts invocation builds zero artifacts") {
    Bench.warmArtifacts(spark, sf) // first pass: builds or hits, either fine
    val second = Bench.warmArtifacts(spark, sf)
    val rebuilt = second.filter(_._3 != 0).map(_._1)
    assert(rebuilt.isEmpty, s"artifacts rebuilt on warm second pass: $rebuilt")
  }

  test("warmArtifacts covers every artifact the query set consumes") {
    // run the artifact-backed queries after a warm pass — none may trigger
    // a build (the bench's stray_builds must be structurally empty)
    Bench.warmArtifacts(spark, sf)
    val artifactBacked = Seq("join_bucketed", "dedup_fuzzy", "dedup_clusters",
      "dedup_incremental", "sim_search_ivf_indexed", "dedup_cluster_stats")
    val before = plans.ArtifactCache.builds.get()
    artifactBacked.foreach { q =>
      SparkEntry.queries(q)(spark, sf).count()
    }
    assert(plans.ArtifactCache.builds.get() == before,
      "an artifact-backed query triggered a build after warmArtifacts")
  }
}
