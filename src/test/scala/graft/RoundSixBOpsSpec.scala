package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{DedupOps, GraphOps, PipelineOps}

import OpsFixture._

/** Second round-6 wave: containment dedup, the co-occurrence graph family,
  * and the shard manifest. The DuckDB oracle proves engine agreement on the
  * fixtures; these specs pin the semantics the oracle can't see — that
  * containment catches the pasted-snippet case Jaccard structurally misses,
  * that the triangle census is exact on a planted graph, and that shard
  * assignment is a deterministic partition of the corpus.
  */
class RoundSixBOpsSpec extends AnyFunSuite {
  import spark.implicits._

  /** Docs: a 30-word snippet (0) pasted verbatim at the head of a 230-word
    * page (1), an unrelated doc (2), and two exact copies (3, 4). */
  private lazy val docsDir: String = {
    val d = TempDirs.make("graft-r6b").toString
    val snippet = (0 until 30).map(i => s"w$i").mkString(" ")
    val page = snippet + " " + (0 until 200).map(i => s"p$i").mkString(" ")
    val other = (0 until 50).map(i => s"x$i").mkString(" ")
    val dup = (0 until 40).map(i => s"d$i").mkString(" ")
    Seq(
      (0L, snippet, "en", "s0", snippet.length.toLong),
      (1L, page, "en", "s1", page.length.toLong),
      (2L, other, "en", "s2", other.length.toLong),
      (3L, dup, "en", "s3", dup.length.toLong),
      (4L, dup, "en", "s4", dup.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(2).write.parquet(s"$d/documents.parquet")
    d
  }

  test("dedup_containment finds the pasted snippet whole-doc Jaccard misses") {
    val cont = DedupOps.dedupContainment(spark, docsDir).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")) ->
        r.getAs[Double]("containment")).toMap
    // snippet ⊂ page: every snippet shingle is in the page → containment 1.0
    assert(cont.get((0L, 1L)).contains(1.0), cont.toString)
    // exact copies score 1.0 through the same-content branch
    assert(cont.get((3L, 4L)).contains(1.0), cont.toString)
    // unrelated docs share nothing
    assert(!cont.keySet.exists(p => p._1 == 2L || p._2 == 2L), cont.toString)

    val jac = DedupOps.dedupNgramJaccard(spark, docsDir).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    // the same pasted pair is invisible to whole-doc Jaccard (≈ 0.12 < 0.5)
    assert(!jac.contains((0L, 1L)), jac.toString)
    // while the exact-copy pair passes both scores
    assert(jac.contains((3L, 4L)), jac.toString)
  }

  /** Orders 10:{1,2,3} (a triangle), 20:{3,4} (a pendant edge), 30:{1,2}
    * (re-covers an existing edge — must not double-count). */
  private lazy val graphDir: String = {
    val d = TempDirs.make("graft-r6b-g").toString
    Seq((10L, 1L), (10L, 2L), (10L, 3L), (20L, 3L), (20L, 4L), (30L, 1L), (30L, 2L))
      .toDF("l_orderkey", "l_partkey")
      .repartition(2).write.parquet(s"$d/lineitem.parquet")
    d
  }

  test("graph_triangles: planted census is exact, repeated co-occurrence counts once") {
    val r = GraphOps.graphTriangles(spark, graphDir).collect().head
    assert(r.getAs[Long]("n_vertices") == 4L, r.toString)
    assert(r.getAs[Long]("n_edges") == 4L, r.toString)   // 12 13 23 34, once each
    assert(r.getAs[Long]("n_wedges") == 5L, r.toString)  // deg 2,2,3,1 → 1+1+3+0
    assert(r.getAs[Long]("n_triangles") == 1L, r.toString)
  }

  test("graph_degree: planted degrees, and the census degree sum is 2·edges") {
    val deg = GraphOps.graphDegree(spark, graphDir).collect()
      .map(r => r.getAs[Long]("v") -> r.getAs[Long]("degree")).toMap
    assert(deg == Map(1L -> 2L, 2L -> 2L, 3L -> 3L, 4L -> 1L), deg.toString)
  }

  test("shard_export: a deterministic partition — conserves docs/chars, stable across runs") {
    val a = PipelineOps.shardExport(spark, TestSpark.sf001).collect()
    val docs = Tables.load(spark, TestSpark.sf001, "documents")
    assert(a.map(_.getAs[Long]("n_docs")).sum == docs.count())
    assert(a.map(_.getAs[Long]("n_chars")).sum ==
      docs.agg(org.apache.spark.sql.functions.sum("n_chars")).head.getLong(0))
    assert(a.map(_.getAs[Long]("shard_id")).distinct.length == a.length)
    val b = PipelineOps.shardExport(spark, TestSpark.sf001).collect()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq, "second run differs")
  }
}
