package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.GraphOps

import OpsFixture._

/** Round-11 specs, closing the round-10 verdict's ranked directives:
  *
  *   1. `graph_random_walk` rides the new id-sorted adjacency artifact
  *      ([[GraphOps.sortedAdjPath]]) instead of re-folding its own
  *      `collect_list(sort_array)` adjacency per query — the suite's last
  *      pay-per-query adjacency derivation (verdict directive #1). Pinned:
  *      the extracted hop probes the artifact scan with NO in-query fold;
  *      the artifact's contents equal the fold it replaced.
  *   2. The bucketed cluster path extends to the other iterative sweeps
  *      (directive #4): eigencentrality and components get a `bucketed`
  *      spelling over [[GraphOps.bucketedAdjTable]], bit-identical to the
  *      broadcast path, with the pre-hashed adjacency scan and zero
  *      exchange on the adjacency side pinned.
  *   3. The gate-scalar memo is content-keyed (the ADVICE item): an
  *      in-place rewrite of the part fixture within one JVM must refresh
  *      [[GraphOps.partDimCount]], never serve the stale (possibly
  *      smaller) count that could broadcast an over-sized frame.
  *   4. The exact n-gram scoring family rides a shared pay-once index
  *      artifact ([[graft.operators.DedupOps.ngramIndexStatsPath]]):
  *      `dedup_ngram_jaccard` and `dedup_containment` differ only in the
  *      overlap score, so the content fold → posting lists → pair
  *      intersection counts are one pipeline stage computed once per
  *      corpus, not once per scoring policy. Pinned: both queries scan the
  *      artifact with no in-plan fold, results are bit-identical to the
  *      direct fold spelling, and neither query triggers a build once the
  *      artifact exists.
  */
class RoundElevenSpec extends AnyFunSuite {
  // ------------------------- 1. random_walk rides the sorted-adjacency

  test("walk hop: probes the id-sorted adjacency artifact, no in-query fold") {
    val adj = spark.read.parquet(s"${GraphOps.sortedAdjPath(spark, dir)}/adj")
    val frontier = adj.select(col("w").as("start"), col("w").as("cur"))
    val plan = fmt(GraphOps.walkHop(adj, frontier, 0, small = true))
    assert(plan.contains("graph_adj_sorted"),
      s"the walk must ride the sorted-adjacency artifact:\n$plan")
    assert(!plan.contains("collect_list"),
      s"the adjacency fold belongs to the artifact build:\n$plan")
    assert(!plan.contains("sort_array"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("walk hop above the gate: keyed shuffle-hash, no broadcast") {
    import spark.implicits._
    val adj = Seq((1L, Seq(2L, 3L), 2L), (2L, Seq(1L), 1L), (3L, Seq(1L), 1L))
      .toDF("w", "ns", "deg")
    val frontier = Seq((1L, 1L), (2L, 2L)).toDF("start", "cur")
    val plan = fmt(GraphOps.walkHop(adj, frontier, 0, small = false))
    assert(plan.contains("ShuffledHashJoin"), plan)
    assert(!plan.linesIterator.exists(_.contains("- BroadcastExchange")), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("sorted-adjacency artifact: id-sorted whole arrays with true degrees") {
    import org.apache.spark.sql.functions.{size => asize, explode}
    val adj = spark.read.parquet(s"${GraphOps.sortedAdjPath(spark, dir)}/adj")
    // deg is the array length (the fold's count(1) over grouped neighbors)
    assert(adj.filter(asize(col("ns")) =!= col("deg")).isEmpty)
    // arrays are id-sorted: sort_array over them is the identity
    assert(adj.filter(
      org.apache.spark.sql.functions.sort_array(col("ns")) =!= col("ns")).isEmpty)
    // the exploded (w, n) set is exactly the symmetric edge set
    val sym = adj.select(col("w"), explode(col("ns")).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val e = spark.read.parquet(s"${GraphOps.edgesPath(spark, dir)}/edges")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(sym == (e.map(p => (p._1, p._2)) ++ e.map(p => (p._2, p._1))).toSet)
  }

  // --------------------- 2. bucketed cluster path: eigen + components

  test("eigen: bucketed cluster path is bit-identical to the broadcast path") {
    val bc = GraphOps.graphEigencentralityImpl(spark, dir, Limits.maxBroadcastVertices)
      .collect().map(_.toSeq).toSeq
    val bk = GraphOps.graphEigencentralityImpl(spark, dir,
        Limits.maxBroadcastVertices, bucketed = true)
      .collect().map(_.toSeq).toSeq
    assert(bc.nonEmpty && bk == bc)
  }

  test("components: bucketed cluster path is bit-identical to the broadcast path") {
    val bc = GraphOps.graphComponentsImpl(spark, dir, Limits.maxBroadcastVertices)
      .collect().map(_.toSeq).toSeq
    val bk = GraphOps.graphComponentsImpl(spark, dir,
        Limits.maxBroadcastVertices, bucketed = true)
      .collect().map(_.toSeq).toSeq
    assert(bc.nonEmpty && bk == bc)
  }

  test("bucketed eigen sweep: pre-hashed adjacency scan, zero exchange on the adjacency side") {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", GraphOps.adjBuckets.toString)
    try {
      val adjB = spark.table(GraphOps.bucketedAdjTable(spark, dir))
      val r0 = spark.read.parquet(s"${GraphOps.packedAdjPath(spark, dir)}/deg")
        .select(col("v"), lit(GraphOps.eigenScale).as("r"))
      val plan = fmt(GraphOps.eigenSweepBucketed(adjB, r0))
      assert(plan.contains("Bucketed: true"),
        s"adjacency must scan as a bucketed table:\n$plan")
      assert(plan.contains("ShuffledHashJoin"), plan)
      assert(!plan.contains("SortMergeJoin"), plan)
      assert(!plan.linesIterator.exists(_.contains("- BroadcastExchange")),
        s"the cluster path must not broadcast at any vertex count:\n$plan")
      // two exchanges TOTAL: the state side's alignment + the aggregate's
      // own shuffle — the bucketed adjacency scan never moves
      val nEx = nonBroadcastExchanges(plan)
      assert(nEx == 2, s"expected 2 exchanges (state align + agg), found $nEx:\n$plan")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("bucketed components propagate: pre-hashed adjacency scan, shuffle-hash only") {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", GraphOps.adjBuckets.toString)
    try {
      val adjB = spark.table(GraphOps.bucketedAdjTable(spark, dir))
      val labels = spark.read.parquet(s"${GraphOps.packedAdjPath(spark, dir)}/deg")
        .select(col("v"), col("v").as("lbl"))
      val plan = fmt(GraphOps.componentsPropagate(adjB, labels, small = false))
      assert(plan.contains("Bucketed: true"),
        s"adjacency must scan as a bucketed table:\n$plan")
      assert(plan.contains("ShuffledHashJoin"), plan)
      assert(!plan.contains("SortMergeJoin"), plan)
      assert(!plan.linesIterator.exists(_.contains("- BroadcastExchange")), plan)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  // ------------- 4. ngram scoring family rides the shared index artifact

  test("ngram scoring queries: artifact scan, no in-plan fold") {
    import graft.operators.DedupOps
    DedupOps.ngramIndexStatsPath(spark, dir) // ensure built
    for (q <- Seq(DedupOps.dedupNgramJaccard, DedupOps.dedupContainment)) {
      val plan = fmt(q(spark, dir))
      assert(plan.contains("ngram_idx"),
        s"scoring must ride the shared index artifact:\n$plan")
      assert(!plan.contains("word_shingles"),
        s"the shingle fold belongs to the artifact build:\n$plan")
      assert(!plan.contains("xxhash64"), plan)
      assert(!plan.contains("collect_list"), plan)
    }
  }

  test("ngram scoring: artifact path bit-identical to the direct fold, pay-once") {
    import graft.operators.DedupOps
    DedupOps.ngramIndexStatsPath(spark, dir) // ensure built
    val before = graft.plans.ArtifactCache.builds.get()
    val jA = DedupOps.dedupNgramJaccard(spark, dir).collect().map(_.toSeq).toSeq
    val cA = DedupOps.dedupContainment(spark, dir).collect().map(_.toSeq).toSeq
    assert(graft.plans.ArtifactCache.builds.get() == before,
      "re-scoring over an existing index must not rebuild anything")
    val jD = DedupOps.ngramJaccard(spark, dir, direct = true)
      .collect().map(_.toSeq).toSeq
    val cD = DedupOps.ngramContainment(spark, dir, direct = true)
      .collect().map(_.toSeq).toSeq
    assert(jA.nonEmpty && jA == jD)
    assert(cA.nonEmpty && cA == cD)
  }

  // ---------------- 5. relational dimension legs ride the DimGates gate

  /** The TPC-H dimensions scale linearly with SF (customer ≈ 15 G rows at
    * the SF ≈ 100k that 100 TB implies), so every SF-scaling dimension leg
    * in the relational queries rides [[graft.operators.DimGates]] — the
    * vertex-gate convention generalized. Proofs, the RoundTenSpec pattern:
    * bit-identity down both paths (the conf cap forced to 0 sends every
    * gated site down the keyed shuffle-hash build), and the single-join
    * showcase query plans a ShuffledHashJoin with zero broadcast when the
    * gate is open. */

  private def withDimCap[A](cap: Long)(body: => A): A = {
    spark.conf.set(graft.operators.DimGates.CapKey, cap.toString)
    try body finally spark.conf.unset(graft.operators.DimGates.CapKey)
  }

  private val dimGated = Seq(
    "tpch_q2", "tpch_q3", "tpch_q5", "tpch_q18", "tpch_q20",
    "join_broadcast", "merge_upsert", "dedup_minhash")

  dimGated.foreach { name =>
    test(s"$name: dim-gate shuffle-hash fallback is bit-identical to the broadcast path") {
      val q = SparkEntry.queries(name)
      val bc = q(spark, dir).collect().map(_.toSeq).toSeq
      val sh = withDimCap(0L)(q(spark, dir)).collect().map(_.toSeq).toSeq
      assert(bc.nonEmpty, s"$name returned no rows")
      assert(sh == bc, s"$name diverged between dim-gate paths")
    }
  }

  test("stream_enrich: dim-gate shuffle-hash fallback is bit-identical to the broadcast path") {
    val q = SparkEntry.queries("stream_enrich")
    val bc = q(spark, dir).collect().map(_.toSeq).toSeq
    val sh = withDimCap(0L)(q(spark, dir)).collect().map(_.toSeq).toSeq
    assert(bc.nonEmpty && sh == bc,
      "stream_enrich diverged between dim-gate paths")
  }

  test("join_broadcast above the dim gate: keyed shuffle-hash, no broadcast") {
    val plan = withDimCap(0L)(
      fmt(SparkEntry.queries("join_broadcast")(spark, dir)))
    assert(plan.contains("ShuffledHashJoin"),
      s"the gated dimension leg must build a keyed hash side:\n$plan")
    assert(!plan.linesIterator.exists(_.contains("- BroadcastExchange")),
      s"the dimension leg still broadcasts above the gate:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the fact stream must never sort:\n$plan")
  }

  // ------------------------ 3. gate-scalar memo is content-invalidated

  test("partDimCount refreshes when the part fixture is rewritten in place") {
    val tmp = TempDirs.make("graft_gate_memo").toFile
    try {
      val p = s"${tmp.getPath}/part.parquet"
      spark.range(3).select(col("id").as("p_partkey"))
        .coalesce(1).write.mode("overwrite").parquet(p)
      assert(GraphOps.partDimCount(spark, tmp.getPath) == 3L)
      // in-place rewrite, same path, MORE rows: a path-keyed memo would
      // keep serving 3 — the unsafe direction (broadcasting an over-sized
      // frame); the content-keyed memo must see 7
      spark.range(7).select(col("id").as("p_partkey"))
        .coalesce(1).write.mode("overwrite").parquet(p)
      assert(GraphOps.partDimCount(spark, tmp.getPath) == 7L)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(tmp)
    }
  }
}
