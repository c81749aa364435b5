package graft

import org.scalatest.funsuite.AnyFunSuite
import java.io.File

/** ArtifactCache eviction: published artifacts are immutable but not
  * eternal — without an LRU sweep every fixture regeneration strands its
  * predecessors' directories forever (observed: 79 GB of superseded
  * graph_pair_counts builds). The policy under test: on each publish,
  * same-kind siblings beyond the newest two are deleted once idle past
  * the horizon; cache hits refresh the LRU clock.
  */
class ArtifactEvictionSpec extends AnyFunSuite {
  import graft.plans.ArtifactCache

  private def freshSrc(): String =
    TempDirs.make("evictsrc").toFile.getPath

  test("stale same-kind siblings evict on publish; hits refresh the LRU clock") {
    val kind = s"evicttest${System.nanoTime()}"
    val prev = sys.props.get("graft.artifacts.evictMs")
    sys.props("graft.artifacts.evictMs") = "0"
    try {
      def build(src: String): File = new File(
        ArtifactCache.getOrBuild(kind, src, Seq.empty, Seq(getClass)) { dir =>
          java.nio.file.Files.writeString(new File(dir, "marker").toPath, src)
        })
      val srcs = (1 to 4).map(_ => freshSrc())
      val d1 = build(srcs(0)); val d2 = build(srcs(1)); val d3 = build(srcs(2))
      assert(Seq(d1, d2, d3).distinct.size == 3, "distinct fingerprints expected")
      // age the three so the LRU order is deterministic: d1 oldest
      val now = System.currentTimeMillis
      d1.setLastModified(now - 30000); d2.setLastModified(now - 20000)
      d3.setLastModified(now - 10000)
      val d4 = build(srcs(3)) // publish triggers the sweep
      assert(d4.isDirectory && d3.isDirectory && d2.isDirectory,
        "the newest two siblings plus the new publish must survive")
      assert(!d1.isDirectory, "the oldest idle sibling must be evicted")
      // a cache hit must refresh the clock (protects active readers)
      val before = d2.lastModified
      build(srcs(1))
      assert(d2.lastModified >= before && d2.isDirectory)
      Seq(d2, d3, d4).foreach(FsUtil.deleteRecursive)
    } finally prev match {
      case Some(v) => sys.props("graft.artifacts.evictMs") = v
      case None => sys.props -= "graft.artifacts.evictMs"
    }
  }

  test("idle builds of a retired kind name are swept on any publish") {
    val prev = sys.props.get("graft.artifacts.evictMs")
    sys.props("graft.artifacts.evictMs") = "0"
    try {
      val root = new File(sys.props.getOrElse("java.io.tmpdir", "/tmp"), "graft-artifacts")
      val fp = f"${System.nanoTime()}%016x".takeRight(16)
      // the pre-codec spelling of the pair-count artifact, the retired
      // zstd one, and today's
      val retired = new File(root, s"graph_pair_counts_$fp")
      val zstd = new File(root, s"graph_pair_counts_zstd_$fp")
      val current = new File(root, s"graph_pair_counts_snappy_$fp")
      Seq(retired, zstd, current).foreach { d =>
        d.mkdirs(); d.setLastModified(System.currentTimeMillis - 60000)
      }
      val published = new File(ArtifactCache.getOrBuild(
          s"evictretired${System.nanoTime()}", freshSrc(), Seq.empty, Seq(getClass)) { dir =>
        java.nio.file.Files.writeString(new File(dir, "marker").toPath, "x")
      })
      assert(!retired.exists, "a retired-kind build must be swept")
      assert(!zstd.exists, "a zstd pair-count build must be swept")
      assert(current.isDirectory, "another kind's build is not this publish's to sweep")
      Seq(current, published).foreach(FsUtil.deleteRecursive)
    } finally prev match {
      case Some(v) => sys.props("graft.artifacts.evictMs") = v
      case None => sys.props -= "graft.artifacts.evictMs"
    }
  }
}
