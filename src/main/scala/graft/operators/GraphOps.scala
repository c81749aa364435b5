package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{Limits, Tables}
import graft.plans.Checkpoints.SweepSyntax

/** Graph analytics over a co-occurrence graph derived from the fixtures:
  * two parts are connected when some order contains both (the market-basket
  * projection of the order/part bipartite graph — the same construction
  * recommendation and fraud pipelines run on transaction logs). The
  * reference delegates arbitrary SQL to its backing stores
  * (internal/core/core.go:496) and has no graph operators; this family is
  * part of the beyond-reference analytics surface, next to the dedup
  * cluster resolution ([[DedupOps]]) which is itself a connected-components
  * pass.
  *
  * 100 TB shape, stage by stage:
  *  1. Edge derivation never self-joins the fact table: lineitem groups by
  *     order (one shuffle with map-side partials), each order's distinct
  *     part set expands (a < b) pairs through the native codegen'd
  *     [[graft.functions.LongPairs]] — per-task work is bounded by order
  *     WIDTH (≤ 13 parts here, bounded small in any real basket log), never
  *     by corpus size.
  *  2. `distinct` on the pair stream is the edge shuffle — 16 bytes/row.
  *  3. Triangle counting uses DEGREE ORIENTATION (order each edge from its
  *     lower-(degree, id) endpoint to its higher one): every vertex's
  *     out-degree is O(√m), so the wedge join materializes O(m^1.5) rows
  *     worst case instead of Σ deg² — the standard compact-forward bound,
  *     and the difference between a hub vertex emitting deg² wedge rows and
  *     the same vertex emitting a bounded out-neighborhood square. Skewed
  *     hubs (a part in every order) land on the HIGH side of every one of
  *     their edges and therefore never fan out.
  */
object GraphOps {
  type Q = (SparkSession, String) => DataFrame

  /** Distinct co-occurrence edges (a < b), derived per the class doc.
    * Pay-once via [[graft.plans.ArtifactCache]]: six graph queries (degree,
    * triangles, components, link prediction, pagerank, basket rules) all
    * start from this exact edge set, and re-deriving it per query repeats
    * the basket groupBy + pair explode + distinct shuffle six times. The
    * artifact is the graph analog of the dedup candidate-pair artifacts —
    * built on first use per data version, auto-invalidated when lineitem
    * changes, and attributed separately by the bench.
    *
    * Dimension-key ceiling, inherited from the packed derivation: edges
    * are unpacked from [[graft.functions.LongPairsPacked]] 8-byte keys,
    * which require 0 ≤ id < 2³¹ (the expression `require`s it — a fail
    * fast, never corruption). That is within 2× of the documented
    * 10⁹-vertex regime: past 2³¹ distinct part ids the pair key widens to
    * a two-column (a, b) struct and the basket/edge artifacts re-derive
    * from [[graft.functions.LongPairs]] instead — the pre-round-10
    * spelling, one extra shuffle at build, nothing else changes. Also
    * stated in docs/SCALE.md's graph section. */
  private[graft] def edges(s: SparkSession, d: String): DataFrame =
    graft.plans.ArtifactCache.readParquet(s, s"${edgesPath(s, d)}/edges")

  /** The graph_edges artifact's logic stamp list — and, by the
    * transitive-staleness rule, the MINIMUM stamp list of every artifact
    * that consumes `edges()` (pair counts, closed wedges, both packed
    * adjacencies): a recompile of anything that can change the edge set's
    * content must invalidate every artifact derived from it, so consumers
    * reference THIS list instead of hand-copying it (three rounds in a
    * row shipped a hand-copied list missing one class — LongPairsPacked
    * r10, BucketMembersAgg r11 ADVICE, LongPairs on the wedge artifacts
    * r12). */
  /** graph_basket_pairs' stamp list — the root of the graph artifact
    * chain (basket pairs → edges → pair counts / wedges / adjacencies).
    * Declared before [[edgesLogic]] so the derived list initializes after
    * its input (object vals initialize in declaration order). */
  private[graft] val basketPairsLogic: Seq[Class[_]] =
    Seq(GraphOps.getClass, graft.functions.LongPairsPacked.getClass,
      Tables.getClass)

  private[graft] val edgesLogic: Seq[Class[_]] =
    (basketPairsLogic :+ graft.functions.LongPairs.getClass).distinct

  private[graft] def edgesPath(s: SparkSession, d: String): String =
    graft.plans.ArtifactCache.getOrBuild("graph_edges", d, Seq("lineitem"),
      edgesLogic) { dir =>
      // The distinct co-occurrence pair set IS the key set of the basket
      // pair-count artifact ([[basketPairsPath]]): ride it instead of
      // re-running the basket groupBy + pair explode + distinct shuffle —
      // the two artifacts' only difference is whether the per-pair count
      // survives, so deriving edges as "the counted pairs' keys" removes
      // one full pair-stream shuffle from the combined build.
      graft.plans.ArtifactCache.readParquet(s, s"${basketPairsPath(s, d)}/pairs")
        .select(shiftright(col("p"), 32).as("a"),
          col("p").bitwiseAND(lit(0xFFFFFFFFL)).as("b"))
        .write.parquet(s"$dir/edges")
    }

  /** Per-order co-occurrence pair COUNTS — (packed pair p, n_ab = number
    * of orders containing both parts) for EVERY co-ordered pair, plus the
    * per-part order counts (`items`) and the order census (`meta`) — as a
    * pay-once artifact. This is the market-basket substrate: basket_rules
    * consumes all three sides directly, and the edge artifact is this
    * artifact's key set ([[edgesPath]]). Counting takes the proven
    * pair-count shape ([[pairCountsPath]]): packed 8-byte keys, ONE
    * repartition (a map-side partial over near-unique pair keys hashes the
    * full stream only to shuffle the same cardinality — the 56.6 vs 5 s
    * measurement), then an exact per-partition primitive-map count
    * ([[hashCountAll]]) over reused UnsafeRows. `pairs` is written
    * UNFILTERED so [[minRuleSupport]] stays a query-time knob. */
  private[graft] def basketPairsPath(s: SparkSession, d: String): String =
    graft.plans.ArtifactCache.getOrBuild("graph_basket_pairs", d, Seq("lineitem"),
      basketPairsLogic) { dir =>
      import s.implicits._
      val op = Tables.load(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")).distinct()
        .sweepCheckpoint() // feeds pair counts + item counts + order census
      val packed = op
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
        .select(explode(
          graft.functions.LongPairsPacked.long_pairs_packed(col("ps"))).as("p"))
        .repartition(2 * s.sparkContext.defaultParallelism, col("p"))
      s.createDataset(packed.queryExecution.toRdd.mapPartitions(hashCountAll))
        .toDF("p", "n_ab")
        .write.parquet(s"$dir/pairs")
      op.groupBy(col("l_partkey").as("v")).agg(count(lit(1)).as("n_v"))
        .write.parquet(s"$dir/items")
      op.agg(countDistinct(col("l_orderkey")).as("n_orders"))
        .write.parquet(s"$dir/meta")
    }

  // ------------------------------------------------ broadcast size gates
  /** Memoized bounded gate scalars, keyed by a content-versioned artifact
    * path: the one columnless-count job per (data version, JVM) amortizes
    * across the whole graph registry instead of taxing every gated query
    * with its own driver job. Artifact paths embed the input fingerprint
    * ([[graft.plans.ArtifactCache]]), so a stale memo is impossible —
    * changed data means a changed path means a fresh count. */
  private val countMemo =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def memoCount(key: String)(count: => Long): Long =
    countMemo.computeIfAbsent(key, _ => Long.box(count)).longValue()

  /** Edge count of the co-occurrence graph — a columnless scan of the
    * pay-once edge artifact, memoized on its versioned path. */
  private[graft] def edgeCount(s: SparkSession, d: String): Long = {
    val p = s"${edgesPath(s, d)}/edges"
    memoCount(p)(s.read.parquet(p).count())
  }

  /** Upper bound on the vertex universe: every vertex is an edge endpoint,
    * so nv ≤ 2m. The gate scalar wherever the exact nv isn't already
    * materialized — deriving it exactly would cost the degree shuffle the
    * gate exists to avoid. Conservative in the SAFE direction only: it can
    * flip a still-broadcastable frame to shuffle-hash a little early,
    * never broadcast an over-sized one. */
  private[graft] def vertexBound(s: SparkSession, d: String): Long =
    2L * edgeCount(s, d)

  /** Item-dimension gate scalar for the part-keyed frames (brand table,
    * per-item counts): the part table's row count, memoized on the SAME
    * content fingerprint every artifact keys on
    * ([[graft.plans.ArtifactCache.fingerprint]]: path + length + mtime +
    * head/tail sample per file) — an in-place fixture rewrite within a
    * live JVM therefore invalidates the memo instead of serving a stale
    * (possibly smaller) count, which could otherwise keep small=true and
    * broadcast an over-sized frame — the one unsafe direction the gate
    * invariant forbids. */
  private[graft] def partDimCount(s: SparkSession, d: String): Long =
    DimGates.dimCount(s, d, "part")

  /** The generalized vertex-broadcast size gate — the [[pagerankSweep]]
    * convention extracted to ONE helper and applied at every join whose
    * small side scales with the vertex (or item-dimension) count. Below
    * the cap the frame broadcasts (the sf-scale fast path); past it — the
    * 10⁹-vertex regime where a vertex-sized broadcast is a driver OOM —
    * the join flips to a keyed SHUFFLE_HASH build side: the big stream
    * shuffles once on the join key but the plan stays hash-probe-shaped
    * (never a sort of the edge stream). Results are bit-identical either
    * way — RoundTenSpec drives every gated query down both paths and
    * compares collected rows; only the physical join strategy moves. */
  private[graft] def gatedBc(df: DataFrame, small: Boolean): DataFrame =
    if (small) broadcast(df) else df.hint("shuffle_hash")

  // org.apache.spark.util.CallSite.{SHORT_FORM, LONG_FORM} (private[spark])
  private val CallSiteShort = "callSite.short"
  private val CallSiteLong = "callSite.long"

  /** Run an iterative sweep loop with AQE replanning OFF (restored after).
    *
    * AQE re-optimizes the remaining plan after every exchange
    * materialization; a K-round sweep loop materializes 2–3 exchanges per
    * round, so the driver pays K×(replan + stats collection) for plans
    * whose shape AQE cannot improve here: every join in the loop family is
    * explicitly gated — `broadcast()` under the vertex bound,
    * `hint("shuffle_hash")` past it ([[gatedBc]], the pagerank/eigen state
    * hints) — so join strategy is already decided, and the per-round
    * aggregate shuffles are vertex-bounded with the partition count set by
    * `spark.sql.shuffle.partitions` (cluster-sized by the deployment, not
    * re-derived per round). Measured at sf0.1 local[32], interleaved
    * one-variant-per-JVM: pagerank 2.9–3.4 → 2.56 s; loop-family subset
    * sum 12.8 → 11.0 s. Results are unaffected (AQE never changes
    * results; the hinted hash joins plan identically without it). */
  private[graft] def noSweepAqe[A](s: SparkSession)(body: => A): A = {
    // Name the loop's jobs. Iterative queries materialize DECLARED sweeps
    // at construction; with AQE off their convergence actions would
    // surface raw count()/isEmpty callsites, indistinguishable from the
    // eager-construction bug class RoundFiveOpsSpec rejects (with AQE on
    // they hid under AQE's withThreadLocalCaptured submission thread).
    // The call site lives in two local properties; save the caller's and
    // put it back afterwards (clearCallSite would drop a caller's own).
    val sc = s.sparkContext
    val saved = Seq(CallSiteShort, CallSiteLong).map(k => k -> sc.getLocalProperty(k))
    sc.setCallSite("sweep at GraphOps (declared loop materialization)")
    try {
      val aqe = s.conf.get("spark.sql.adaptive.enabled")
      s.conf.set("spark.sql.adaptive.enabled", "false")
      try body finally s.conf.set("spark.sql.adaptive.enabled", aqe)
    } finally saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }

  /** Per-vertex degree of the undirected edge set: explode both endpoints,
    * one count aggregate. Output is vertex-table-sized (the parts dim), not
    * edge-sized. Used at ARTIFACT BUILDS (pay-once) and on shrinking edge
    * subsets (kcore peeling); whole-graph QUERY paths read the
    * materialized [[degTable]] instead of re-folding the 2m-row stream. */
  private[graft] def degrees(e: DataFrame): DataFrame =
    e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("degree"))

  /** The whole-graph degree table from the pay-once packed-adjacency
    * artifact — (v, degree), exactly `degrees(edges)` parquet-round-tripped
    * (the artifact build writes that very frame), so swapping a query from
    * the fold to this scan is bit-identical by construction. The fold costs
    * a 2m-row explode + exchange per query; the scan is ~nv rows with
    * column stats. */
  private[graft] def degTable(s: SparkSession, d: String): DataFrame =
    graft.plans.ArtifactCache.readParquet(s, s"${packedAdjPath(s, d)}/deg")

  /** Co-occurrence degree per part: how many distinct parts each part was
    * ever ordered together with. */
  val graphDegree: Q = (s, d) =>
    degTable(s, d).orderBy(col("v"))

  /** Degree distribution: the counts-of-counts histogram over
    * [[degrees]] — the first thing read off any graph before trusting a
    * wedge/triangle cost model (a heavy tail says the O(m^1.5)
    * degree-oriented bounds are doing real work; a flat histogram says
    * the graph is near-regular and simpler plans suffice). Output is
    * |distinct degrees| rows; two aggregates, both map-side combined. */
  val graphDegreeDist: Q = (s, d) =>
    degTable(s, d)
      .groupBy(col("degree")).agg(count(lit(1)).as("n_vertices"))
      .orderBy(col("degree"))

  /** The CLOSED-WEDGE stream — one (apex u, packed closing pair p) row per
    * triangle, each triangle counted exactly once at its unique
    * (degree, id)-lowest apex — as a pay-once artifact shared by the
    * global census ([[graphTriangles]]: one count) and the per-vertex
    * coefficient ([[graphClusteringCoeff]]: explode-3 + group), the same
    * sharing argument as the pair-count artifact. The build is the
    * degree-oriented closure: orient each edge low→high by (degree, id)
    * (out-degree bounded O(√m)), expand each apex's ID-sorted
    * out-neighborhood through the native packed-pair expression, and
    * left-semi-probe the UNDIRECTED packed edge set — broadcast within
    * [[graft.Limits.maxBroadcastEdges]] reach so the probe fuses into the
    * expansion stage (one hash lookup per wedge, ZERO wedge shuffle);
    * past it, SHUFFLE_HASH (never the SMJ default — sorting the O(m^1.5)
    * wedge stream was the 20×-fixture cliff, 149 s → stream rate). */
  private[graft] def closedWedgesPre(s: SparkSession, d: String): DataFrame = {
    val e = edges(s, d).sweepPin() // feeds degrees + orientation + probe
    val nEdges = e.count() // materializes the lazy pin; also the size gate
    val deg = degrees(e)
    val da = deg.select(col("v").as("a"), col("degree").as("da"))
    val db = deg.select(col("v").as("b"), col("degree").as("db"))
    val lowFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val o = e.join(da, "a").join(db, "b")
      .select(when(lowFirst, col("a")).otherwise(col("b")).as("u"),
        when(lowFirst, col("b")).otherwise(col("a")).as("v"))
    val wedges = o
      .groupBy(col("u")).agg(sort_array(collect_set(col("v"))).as("ns"))
      .select(col("u"), explode(
        graft.functions.LongPairsPacked.long_pairs_packed(col("ns"))).as("p"))
    val ep = e.select(shiftleft(col("a"), 32).bitwiseOR(col("b")).as("p"))
    if (nEdges <= graft.Limits.maxBroadcastEdges)
      wedges.join(broadcast(ep), Seq("p"), "left_semi")
    else wedges.join(ep.hint("SHUFFLE_HASH"), Seq("p"), "left_semi")
  }

  private[graft] def closedWedgesPath(s: SparkSession, d: String): String =
    graft.plans.ArtifactCache.getOrBuild("graph_closed_wedges", d, Seq("lineitem"),
      // consumes edges() ⇒ stamps [[edgesLogic]] (transitive-staleness rule)
      edgesLogic) { dir =>
      closedWedgesPre(s, d).select(col("u"), col("p"))
        .write.parquet(s"$dir/wedges")
    }

  /** Global triangle census: vertices, edges, wedges (open two-paths,
    * Σ d(d−1)/2 — exact integer), and triangles as ONE count over the
    * pay-once closed-wedge artifact ([[closedWedgesPre]] holds the
    * closure plan). One row out; the wedge/triangle ratio is the global
    * clustering coefficient, left to the reader as exact integers rather
    * than an engine-dependent float. */
  val graphTriangles: Q = (s, d) => {
    val e = edges(s, d)
    val deg = degTable(s, d)
    val tri = graft.plans.ArtifactCache.readParquet(s, s"${closedWedgesPath(s, d)}/wedges")
      .agg(count(lit(1)).as("n_triangles"))
    val nv = deg.agg(count(lit(1)).as("n_vertices"))
    val ne = e.agg(count(lit(1)).as("n_edges"))
    val nw = deg.agg(expr("sum(degree * (degree - 1)) DIV 2")
      .cast(LongType).as("n_wedges")) // DIV keeps it exact integer end-to-end
    // one-row-aggregate stitching (same pattern as corpus_stats et al.)
    nv.crossJoin(ne).crossJoin(nw).crossJoin(tri)
  }

  /** Connected components of the co-occurrence graph: every vertex labeled
    * with its component's smallest vertex id. Same algorithm as the dedup
    * cluster resolver ([[DedupOps.resolveClusters]]) — min-label
    * propagation with pointer jumping, O(log diameter) rounds — but riding
    * the PACKED adjacency artifact the iterative sweeps share
    * ([[packedAdjPath]]): the per-round neighbor-min probe joins the
    * vertex-sized label state against ~nv chunk rows instead of the 2m-row
    * symmetric edge stream, and the adjacency fold is paid once per data
    * version, not once per query (the r9 verdict's "cheapest remaining
    * graph win" — pointer jumping re-derived adjacency from raw edges
    * every round). Vertex set = edge endpoints (parts never co-ordered are
    * isolated and not graph members), matching the degree query's
    * universe. Label state joins are size-gated ([[gatedBc]]). */
  val graphComponents: Q = (s, d) =>
    graphComponentsImpl(s, d, Limits.maxBroadcastVertices,
      bucketed = componentsUseBucketed(s, d))

  /** The round-13 layout gate: big graphs take the bucketed-adjacency
    * sweep (measured crossover at [[Limits.componentsBucketedBound]] —
    * see the scaladoc there and docs/SCALE.md's A/B table); results are
    * bit-identical either way (spec-pinned). One bounded memoized scalar,
    * the [[vertexBound]] the broadcast gate already reads. */
  private[graft] def componentsUseBucketed(s: SparkSession, d: String): Boolean =
    vertexBound(s, d) > Limits.componentsBucketedBound

  /** [[graphComponents]] with the broadcast gate injectable — the
    * RoundTenSpec convention (drive both paths, compare bit-identical) —
    * and the adjacency layout selectable: `bucketed = true` reads the
    * catalog-bucketed copy ([[bucketedAdjTable]]) and forces the keyed
    * SHUFFLE_HASH path, so each round's propagate probes a PRE-HASHED
    * adjacency scan with zero exchange on the adjacency side — the
    * [[graphPagerankImpl]] cluster-path convention (local default stays
    * broadcast; the jump join and convergence count are label-keyed and
    * unaffected by the adjacency layout). */
  private[graft] def graphComponentsImpl(s: SparkSession, d: String,
      maxBcVerts: Long, bucketed: Boolean = false): DataFrame = {
    val adjBase = packedAdjPath(s, d)
    // parquet scan per round: no pin needed; bucketed mode swaps in the
    // pre-hashed catalog table, everything downstream is unchanged
    val adj =
      if (bucketed) s.table(bucketedAdjTable(s, d))
      else graft.plans.ArtifactCache.readParquet(s, s"$adjBase/adj")
    val small = !bucketed && vertexBound(s, d) <= maxBcVerts
    // min-propagation alone needs DIAMETER rounds; the pointer jump
    // (follow your label's label) doubles the reach per round, so
    // convergence is O(log diameter) and 64 rounds covers any component a
    // real corpus can produce. Fail loudly beyond (the resolveClusters
    // posture: wrong clusters are worse than no clusters).
    val maxIters = 64
    var converged = false
    var iter = 0
    var labels: DataFrame = null
    // the pinned frame backing `labels` (labels is a projection over it)
    var labelsBacking: DataFrame = null
    noSweepAqe(s) { while (!converged && iter < maxIters) {
      iter += 1
      // propagate: label ← min over self + neighbors' labels, the probe
      // extracted as [[componentsPropagate]] so PlanSpec can pin its
      // shape. Round 1 rides the identity-seed collapse
      // ([[componentsFirstPropagate]] — the labelPropFirstRound algebra):
      // no seed frame, no state join, no explode.
      // BARRIER-FREE pin: prop is consumed only inside `next`'s plan (the
      // jump join's both legs), so the convergence count's job
      // materializes prop and next together — one job per round instead
      // of two; release() below still sees a materialized pin because the
      // count has run by then (paranoid-release suite covers this loop)
      val propRaw = if (iter == 1) componentsFirstPropagate(adj)
        else componentsPropagate(adj, labels, small)
      val prop = propRaw.sweepPin()
      // jump: label ← label's own label (labels are vertex ids, every one
      // has a row, so the self-join resolves one extra hop — the doubling
      // step); lazily checkpointed, materialized by the convergence count
      val next = prop
        .join(gatedBc(prop.select(col("v").as("j_id"), col("lbl").as("j_lbl")),
          small), col("lbl") === col("j_id"), "left")
        .select(col("v"), col("old"),
          least(col("lbl"), coalesce(col("j_lbl"), col("lbl"))).as("lbl"))
        .sweepCheckpoint(false)
      converged = next.filter(col("lbl") =!= col("old")).count() == 0
      // the count materialized `next`, so this round's propagate pin and
      // the previous round's state pin are both dead — release them
      graft.plans.Checkpoints.release(prop)
      if (labelsBacking != null) graft.plans.Checkpoints.release(labelsBacking)
      labelsBacking = next
      labels = next.select(col("v"), col("lbl"))
    } }
    require(converged, s"graph_components did not converge within $maxIters rounds")
    labels.select(col("v"), col("lbl").as("component")).orderBy(col("v"))
  }

  /** One min-label propagation step over the packed adjacency: the label
    * state joins the chunked adjacency on src (gated broadcast vs
    * shuffle-hash — the [[pagerankSweep]] probe shape), neighbor labels fan
    * out through explode, and each vertex takes min(own, neighbors').
    * Extracted so PlanSpec can pin the artifact scan + probe shape — the
    * per-round `localCheckpoint` hides the subplan from any outer explain. */
  private[graft] def componentsPropagate(adj: DataFrame, labels: DataFrame,
      small: Boolean): DataFrame = {
    val nmin = adj
      .join(gatedBc(labels.withColumnRenamed("v", "src"), small), "src")
      .select(explode(col("dsts")).as("v"), col("lbl"))
      .groupBy(col("v")).agg(min(col("lbl")).as("nmin"))
    labels.join(gatedBc(nmin, small), Seq("v"), "left")
      .select(col("v"), col("lbl").as("old"),
        least(col("lbl"), coalesce(col("nmin"), col("lbl"))).as("lbl"))
  }

  /** Round 1 of identity-seeded min-propagation, algebraically collapsed
    * (the [[labelPropFirstRound]] derivation applied to components): with
    * every vertex carrying its own id, a vertex's neighbour-min IS its
    * smallest neighbour id, which on the SYMMETRIC packed adjacency is
    * `min(array_min(dsts))` per src — one map-side-combinable aggregate
    * over the ~nv chunk rows, no seed frame, no state join, no explode,
    * no vertex-sized shuffle of neighbour labels. `old` is the identity
    * seed itself, so the convergence count downstream is unchanged.
    * Bit-identical to `componentsPropagate(adj, identitySeed)`
    * (spec-pinned, RoundThirteenSpec); the pointer-jump half of round 1
    * cannot collapse (it genuinely chases labels across rows) and runs
    * unchanged. Rounds ≥ 2 carry propagated labels and need the general
    * probe. */
  private[graft] def componentsFirstPropagate(adj: DataFrame): DataFrame =
    adj.groupBy(col("src").as("v"))
      .agg(min(array_min(col("dsts"))).as("nmin"))
      .select(col("v"), col("v").as("old"),
        least(col("v"), col("nmin")).as("lbl"))

  /** Wedge centers with degree above this cut are excluded from
    * common-neighbor evidence: a hub co-occurring with everything carries
    * ~zero link-prediction signal (the stopword argument, the same shape
    * as the dedup inverted-index df-cut) and is exactly the vertex whose
    * deg²/2 wedge fan-out would dominate the expansion. The oracle applies
    * the identical cut, and at median degree 115 on this fixture the cut
    * BINDS — the declared semantics are what the gate tests. */
  val wedgeDegreeCap = 128

  /** Codec for the classified pair-count outputs, MEASURED both ways on
    * the sf2 non-edge side (1.1 B rows): zstd is 1.9x smaller (2.5 vs
    * 4.7 GB) but its decode CPU inverts the low-parallelism rung — warm
    * top-20 at 4 cores 33.9 s (zstd) vs 26.2 s (snappy) vs 28.2 s (the old
    * wide layout), i.e. zstd gave back MORE than the narrow layout won; at
    * 32 cores all three tie (~7.5 s, decode amortized). Snappy wins or ties
    * every locally measurable regime (and the sf0.1 first-touch scan, 1.8
    * vs 5.6 s). The codec is part of the artifact kind name
    * (`graph_pair_counts_snappy`). */
  private val PairsCodec = "snappy"

  /** The wedge-pair COUNT TABLE — (packed pair, shared-small-neighbor
    * count) for every unordered part pair with ≥1 common neighbor of
    * degree ≤ [[wedgeDegreeCap]] — is itself a pay-once
    * [[graft.plans.ArtifactCache]] artifact: it is the irreducible cost of
    * the whole link-analysis family (Σ C(min(deg,cap), 2) wedge instances —
    * 130 M at sf0.1 on the current dense fixture generation, 74 M on the
    * sparser pre-r11 one; generation-dependent by construction), and three
    * queries consume it through opposite edge
    * filters — link prediction wants the counts for NON-edges, tie
    * strength ([[graphJaccard]]) and weak ties want them for edges. The
    * build therefore writes the stream PRE-CLASSIFIED (`pairs_edge` /
    * `pairs_nonedge`, one exact membership join paid once per data
    * version) so each query is a pre-filtered parquet scan with no
    * edge-membership probe at all. The classified outputs are NARROW
    * (int32 `a`, `b`, `c`, partition-sorted — r16): −48 % bytes on the
    * non-edge side at sf0.1 (468 → 242 MB snappy; codec trade measured,
    * see [[PairsCodec]]) with bit-identical results
    * (consumers re-widen to long at the scan edge).
    *
    * Build plan (the one-time cost): each qualifying center's sorted
    * neighbor set expands through the native
    * [[graft.functions.LongPairsPacked]] (one packed bigint per (a < b)
    * pair — part keys are 31-bit dimension ids), the raw 8-byte keys
    * repartition ONCE (map-side partials would hash 74 M near-unique keys
    * only to shuffle the same cardinality — measured 56.6 s vs 5 s), and
    * each post-shuffle partition counts its keys in one pass over reused
    * UnsafeRows ([[hashCountAll]]: primitive open-addressing map, zero
    * per-element allocation). Partition count 2×parallelism bounds the
    * per-task map (~0.9 M keys at sf0.1, presized past it) and scales
    * with the cluster. */
  private[graft] def pairCountsPath(s: SparkSession, d: String): String = {
    graft.plans.ArtifactCache.getOrBuild(s"graph_pair_counts_$PairsCodec", d,
      Seq("lineitem"),
      // consumes edges() ⇒ stamps [[edgesLogic]] (transitive-staleness rule)
      edgesLogic) { dir =>
      import s.implicits._
      s.createDataset(
          pairCountsPre(s, d).queryExecution.toRdd.mapPartitions(hashCountAll))
        .toDF("p", "c")
        .write.parquet(s"$dir/pairs")
      // Classify ONCE at build: the three consumers filter the pair stream
      // by edge membership in OPPOSITE directions (link prediction wants
      // non-edges; tie strength and weak ties want edges), and the exact
      // membership probe of the full stream is the dominant query-time
      // cost — measured 12 s of common_neighbors' 15 s at sf1 (60 M random
      // probes into a 12 M-key hashed relation, DRAM-latency-bound;
      // SHUFFLE_HASH measured no better). Splitting at build turns each
      // query into a pre-classified parquet scan. The edge set is
      // broadcast below Limits.maxBroadcastEdges, hash-shuffled above.
      val counts = s.read.parquet(s"$dir/pairs")
      val e = edges(s, d)
      val ep = e.select(shiftleft(col("a"), 32).bitwiseOR(col("b")).as("p"))
      val small = e.count() <= Limits.maxBroadcastEdges
      def edgeSide = if (small) broadcast(ep) else ep.hint("shuffle_hash")
      // The classified outputs are what queries SCAN, so their layout is
      // the query-time I/O bill (r16, guide §2.3/§6): unpack the 8-byte
      // packed key into two int32 endpoints (part keys are 31-bit by the
      // same invariant the packing relies on; c < 2^31 because a pair
      // cannot share more neighbors than the 31-bit vertex space holds),
      // sort within the hash partitions (no shuffle — dictionary/RLE
      // pages + runs for the codec). Measured at sf0.1 on the 58.9 M-row
      // non-edge side: 468 → 242 MB snappy / 134 MB zstd (codec trade
      // measured at 4/8/32 cores, see [[PairsCodec]]), cold top-20 scan
      // 1.30 → 0.84/0.93 s, top-20 bit-identical ((c desc, p) ≡
      // (c desc, a, b) for packed non-negative fixed-width fields).
      // Consumers re-widen to long at the scan edge so every downstream
      // plan and result is unchanged.
      def unpacked(df: DataFrame): DataFrame = df.select(
        shiftright(col("p"), 32).cast("int").as("a"),
        col("p").bitwiseAND(lit(0xFFFFFFFFL)).cast("int").as("b"),
        col("c").cast("int").as("c"))
      def writeNarrow(df: DataFrame, path: String): Unit =
        df.sortWithinPartitions(col("a"), col("b"))
          .write.option("compression", PairsCodec).parquet(path)
      writeNarrow(unpacked(counts.join(edgeSide, Seq("p"), "left_semi")),
        s"$dir/pairs_edge")
      writeNarrow(unpacked(counts.join(edgeSide, Seq("p"), "left_anti")),
        s"$dir/pairs_nonedge")
      // the complement from the EDGE direction: edges with NO qualifying
      // shared neighbor (weak ties' local bridges) — edge-bounded anti-join
      // of the edge set against the just-written edge-side counts
      val pe = s.read.parquet(s"$dir/pairs_edge")
        .select(shiftleft(col("a").cast("long"), 32)
          .bitwiseOR(col("b").cast("long")).as("p"))
      ep.join(if (small) broadcast(pe) else pe.hint("shuffle_hash"),
          Seq("p"), "left_anti")
        .select(shiftright(col("p"), 32).cast("int").as("a"),
          col("p").bitwiseAND(lit(0xFFFFFFFFL)).cast("int").as("b"))
        .sortWithinPartitions(col("a"), col("b"))
        .write.option("compression", PairsCodec).parquet(s"$dir/edges_unsupported")
      // the raw (p, c) stream was only the classification input — queries
      // never read it; dropping it halves the artifact's disk (477 MB of
      // the 955 MB at sf0.1)
      graft.FsUtil.deleteRecursive(new java.io.File(dir, "pairs"))
    }
  }

  /** The artifact build's input frame — the hash-repartitioned packed wedge
    * stream. Extracted so PlanSpec can pin its plan (the `toRdd` boundary in
    * the counting pass hides this subplan from any outer explain). */
  private[graft] def pairCountsPre(s: SparkSession, d: String): DataFrame = {
    val e = edges(s, d)
    val adj = e.select(col("a").as("w"), col("b").as("n"))
      .unionAll(e.select(col("b").as("w"), col("a").as("n")))
    adj
      .groupBy(col("w")).agg(sort_array(collect_set(col("n"))).as("ns"))
      .filter(size(col("ns")) <= wedgeDegreeCap)
      .select(explode(
        graft.functions.LongPairsPacked.long_pairs_packed(col("ns"))).as("p"))
      .repartition(2 * s.sparkContext.defaultParallelism, col("p"))
  }

  /** Re-widen a narrow (a, b, c int32) pair scan to the long-typed shape
    * every consumer computed on before the r16 layout change — the cast
    * sits at the scan edge so the parquet decode stays int32 (the whole
    * point) while downstream plans, join key types and result schemas are
    * unchanged. */
  private def widenPairs(df: DataFrame): DataFrame = df.select(
    col("a").cast("long").as("a"), col("b").cast("long").as("b"),
    col("c").cast("long").as("c"))

  /** Pair counts restricted to EXISTING edges — pre-classified at artifact
    * build (tie strength / weak ties side of the split). */
  private def pairCountsEdge(s: SparkSession, d: String): DataFrame =
    widenPairs(graft.plans.ArtifactCache.readParquet(s, s"${pairCountsPath(s, d)}/pairs_edge"))

  /** Pair counts restricted to NON-edges — pre-classified at artifact
    * build (link prediction side of the split). */
  private def pairCountsNonEdge(s: SparkSession, d: String): DataFrame =
    widenPairs(graft.plans.ArtifactCache.readParquet(s, s"${pairCountsPath(s, d)}/pairs_nonedge"))

  /** Common-neighbor link prediction: the 20 strongest NOT-yet-connected
    * part pairs by shared-neighbor count. Reads the NON-EDGE side of the
    * pair-count artifact (edge membership pre-classified at build — the
    * exact anti-join that used to run here cost 12 s of the 15 s query at
    * sf1) and takes the global top-20 by (count desc, a, b) — a
    * TakeOrderedAndProject, 20 rows per partition to the driver. No join
    * at query time. */
  val graphCommonNeighbors: Q = (s, d) => {
    // (c desc, a, b) ≡ the old (c desc, packed p) order: p = a<<32 | b
    // with 0 ≤ a, b < 2^31, so fixed-width concatenation preserves the
    // lexicographic order — result bit-identical (oracle-checked)
    pairCountsNonEdge(s, d).withColumnRenamed("c", "common_neighbors")
      .orderBy(col("common_neighbors").desc, col("a"), col("b"))
      .limit(20)
      .select(col("a"), col("b"), col("common_neighbors"))
      .orderBy(col("common_neighbors").desc, col("a"), col("b"))
  }

  /** Tie strength: the 20 EXISTING edges most embedded in shared
    * neighborhood, ranked by the capped Jaccard coefficient
    * |Ns(a) ∩ Ns(b)| / |Ns(a) ∪ Ns(b)| where Ns(v) is v's neighbors of
    * degree ≤ [[wedgeDegreeCap]] (the same hub cut the count stream
    * applies — a hub neighbor carries no tie signal and would otherwise
    * dominate every denominator). The numerator is the EDGE side of the
    * pair-count artifact (membership pre-classified at build — the
    * complement of link prediction's non-edge side); the denominator
    * joins the vertex-sized capped-degree table twice (broadcast). One
    * pre-classified artifact scan, zero wedge work and zero membership
    * join at query time. */
  val graphJaccard: Q = (s, d) =>
    graphJaccardImpl(s, d, Limits.maxBroadcastVertices)

  private[graft] def graphJaccardImpl(s: SparkSession, d: String,
      maxBcVerts: Long): DataFrame = {
    val e = edges(s, d)
    val deg = degTable(s, d)
    // every small side here is vertex-sized — size-gated ([[gatedBc]])
    val small = vertexBound(s, d) <= maxBcVerts
    val adj = e.select(col("a").as("w"), col("b").as("n"))
      .unionAll(e.select(col("b").as("w"), col("a").as("n")))
    // ds(v) = |Ns(v)|: count v's neighbors whose degree ≤ cap
    val ds = adj
      .join(gatedBc(deg.filter(col("degree") <= wedgeDegreeCap)
        .select(col("v").as("n")), small), "n")
      .groupBy(col("w").as("v")).agg(count(lit(1)).as("ds"))
    val j = pairCountsEdge(s, d)
      .join(gatedBc(ds.select(col("v").as("a"), col("ds").as("dsa")), small), "a")
      .join(gatedBc(ds.select(col("v").as("b"), col("ds").as("dsb")), small), "b")
      .select(col("a"), col("b"), col("c").as("common_neighbors"),
        round(col("c").cast("double") / (col("dsa") + col("dsb") - col("c")), 6)
          .as("jaccard"))
    j.orderBy(col("jaccard").desc, col("a"), col("b")).limit(20)
  }

  /** Weak ties / local bridges: the 20 edges with the FEWEST capped
    * common neighbors — Granovetter's weak ties, the links whose removal
    * lengthens paths because no triangle backs them up (common_neighbors
    * = 0 ⇒ a local bridge: span > 2). The evidence is the same
    * hub-capped count table every link-analysis query shares (a common
    * neighbor of degree > [[wedgeDegreeCap]] carries no tie signal), so
    * the declared statistic is "capped common neighbors", matching
    * [[graphJaccard]]. Ordering: count asc, then endpoint-degree sum
    * desc (the BUSIEST endpoints with the least shared context are the
    * most surprising ties), then (a, b); `n_bridges` (total zero-support
    * edges) rides every row as the one-row broadcast census.
    *
    * 100 TB shape: the supported-tie table is the EDGE side of the
    * pay-once pair-count artifact and the zero-support edges are the
    * artifact's precomputed complement (`edges_unsupported`) — BOTH
    * membership joins moved into the build; then two broadcast degree
    * annotations and TakeOrdered top-20 — no wedge work and no
    * membership probe at query time, no global sort. */
  val graphWeakTies: Q = (s, d) =>
    graphWeakTiesImpl(s, d, Limits.maxBroadcastVertices)

  private[graft] def graphWeakTiesImpl(s: SparkSession, d: String,
      maxBcVerts: Long): DataFrame = {
    val e = edges(s, d)
    val deg = degTable(s, d)
    // degree annotations are vertex-sized — size-gated ([[gatedBc]]); the
    // census stays an unconditional broadcast (one row, never scales)
    val small = vertexBound(s, d) <= maxBcVerts
    // both sides pre-classified at artifact build
    val onE = pairCountsEdge(s, d)
    val zero = graft.plans.ArtifactCache.readParquet(s, s"${pairCountsPath(s, d)}/edges_unsupported")
      .select(col("a").cast("long").as("a"), col("b").cast("long").as("b"),
        lit(0L).as("c"))
    // every edge is supported or a bridge — the census is the count of the
    // precomputed bridge set (one-row aggregate over an edge-bounded scan)
    val census = zero.agg(count(lit(1)).as("n_bridges"))
    val ties = onE.unionByName(zero)
      .select(col("a"), col("b"), col("c").as("common_neighbors"))
    ties
      .join(gatedBc(deg.select(col("v").as("a"), col("degree").as("deg_a")), small), "a")
      .join(gatedBc(deg.select(col("v").as("b"), col("degree").as("deg_b")), small), "b")
      .crossJoin(broadcast(census))
      .select(col("a"), col("b"), col("common_neighbors"),
        col("deg_a"), col("deg_b"), col("n_bridges"))
      .orderBy(col("common_neighbors"),
        (col("deg_a") + col("deg_b")).desc, col("a"), col("b"))
      .limit(20)
  }

  /** Exact per-key count of a partition's packed-pair stream, one pass
    * over reused UnsafeRows (no per-element allocation — a Dataset
    * iterator would box every Long). The count lives in two primitive
    * arrays (open addressing, byteswap64 mix, ×2 growth at 0.7 load);
    * keys are non-negative packed ids so −1 is a free empty sentinel.
    * Emits every (key, count) — hash partitioning upstream makes each
    * key's count complete within its partition. */
  private[graft] def hashCountAll(
      rows: Iterator[org.apache.spark.sql.catalyst.InternalRow])
      : Iterator[(Long, Long)] = {
    var cap = 1 << 21; var mask = cap - 1
    var keys = new Array[Long](cap); var vals = new Array[Long](cap)
    java.util.Arrays.fill(keys, -1L)
    var size = 0
    def grow(): Unit = {
      val ok = keys; val ov = vals
      cap <<= 1; mask = cap - 1
      keys = new Array[Long](cap); vals = new Array[Long](cap)
      java.util.Arrays.fill(keys, -1L)
      var i = 0
      while (i < ok.length) {
        if (ok(i) >= 0) {
          var h = (scala.util.hashing.byteswap64(ok(i)) & mask).toInt
          while (keys(h) >= 0) h = (h + 1) & mask
          keys(h) = ok(i); vals(h) = ov(i)
        }
        i += 1
      }
    }
    while (rows.hasNext) {
      val p = rows.next().getLong(0)
      var h = (scala.util.hashing.byteswap64(p) & mask).toInt
      while (keys(h) >= 0 && keys(h) != p) h = (h + 1) & mask
      if (keys(h) < 0) {
        keys(h) = p; vals(h) = 1; size += 1
        if (size * 10 > cap * 7) grow()
      } else vals(h) += 1
    }
    new Iterator[(Long, Long)] {
      private var i = 0
      private def seek(): Unit = while (i < cap && keys(i) < 0) i += 1
      seek()
      def hasNext: Boolean = i < cap
      def next(): (Long, Long) = { val r = (keys(i), vals(i)); i += 1; seek(); r }
    }
  }

  /** k-core peeling parameters: remove vertices of co-occurrence degree
    * < [[kcoreK]], [[kcoreRounds]] rounds. Fixed round count (rather than
    * run-to-fixpoint) keeps the operator's cost bounded and lets the
    * oracle unroll the exact same rounds; at true-core convergence both
    * spellings agree, and the round count is a declared knob exactly like
    * [[pagerankIters]]. This near-ER graph has the classic sharp core
    * collapse (k at the median empties it within 4 rounds; measured: k=95
    * → 0 survivors, k=90 → 527 of 2000 at sf0.01) — k is set just below
    * the transition so the cascade is deep AND a real core survives. */
  val kcoreK = 90
  val kcoreRounds = 4

  /** k-core decomposition (bounded peeling): the maximal-ish subgraph in
    * which every surviving part co-occurs with ≥ k other survivors — the
    * dense-community extraction that precedes motif mining and the graph
    * analog of the dedup df-cut.
    *
    * Round-14 spelling: DELTA peeling over the pay-once packed adjacency
    * ([[graphKcoreDeltaImpl]]) instead of re-materializing the surviving
    * edge set every round. The state is the VERTEX-sized live-degree
    * table; a round removes the vertices that fell under k, probes the
    * adjacency by the NEWLY-removed set only, and subtracts the lost
    * neighbor counts from the survivors. Every edge's endpoints are
    * removed at most once, so the total adjacency traffic across ALL
    * rounds is ≤ 2m rows — amortized linear — where the edge-restriction
    * spelling (kept in the test tree as `KcoreReference`) paid a full
    * edge-stream re-shuffle AND an edge-sized checkpoint per round
    * (O(R·m), the suite's #1 sf1 cost at 17.4 s committed). The
    * per-round pin shrinks from edge-sized to vertex-sized, and the probe
    * rides the same gated broadcast/shuffle-hash convention as the other
    * sweeps — including the bucketed catalog adjacency for the
    * 10⁹-vertex regime (zero adjacency-side exchange per round).
    * Bit-identity between the two spellings is spec-pinned
    * (RoundFourteenSpec); the DuckDB oracle unrolls the edge-restriction
    * rounds and both spellings agree with it. */
  val graphKcore: Q = (s, d) =>
    graphKcoreDeltaImpl(s, d, Limits.maxBroadcastVertices,
      bucketed = kcoreUseBucketed(s, d))

  /** Layout gate for the delta probe — the [[componentsUseBucketed]]
    * convention at the same measured 4M crossover
    * ([[Limits.kcoreBucketedBound]]). */
  private[graft] def kcoreUseBucketed(s: SparkSession, d: String): Boolean =
    vertexBound(s, d) > Limits.kcoreBucketedBound

  /** Delta peeling (the production spelling — see the operator scaladoc
    * above). State: (v, degree) over LIVE vertices only, seeded from the
    * packed-adjacency degree artifact (no isolated vertices by
    * construction, matching the oracle's d0). Per round: the under-k
    * vertices leave the state, their ORIGINAL neighbor lists fan out of
    * the adjacency once (a dead neighbor on the probe output simply finds
    * no state row to decrement — the left join drops it), and survivors
    * subtract the lost counts. Equivalence to the edge-restriction
    * rounds: a survivor's live degree is its original degree minus the
    * neighbors removed so far, each removed exactly once (a vertex is in
    * exactly one removal set), so after round t the state equals
    * degrees(e_t) on the survivor set; vertices at live degree 0 carry a
    * state row the oracle's d_t lacks, but they can never re-enter a
    * keep set (k ≥ 1) and the final deg ≥ 1 filter drops them. */
  private[graft] def graphKcoreDeltaImpl(s: SparkSession, d: String,
      maxBcVerts: Long, bucketed: Boolean = false): DataFrame = {
    val adj =
      if (bucketed) s.table(bucketedAdjTable(s, d))
      else graft.plans.ArtifactCache.readParquet(s, s"${packedAdjPath(s, d)}/adj")
    val small = !bucketed && vertexBound(s, d) <= maxBcVerts
    // vertex-sized pin per round (vs the old spelling's edge-sized one):
    // deg feeds the removal set, the survivor filter AND next round's
    // state, so unpinned the probe lineage re-expands per round
    var deg = degTable(s, d).sweepCheckpoint()
    noSweepAqe(s) { for (_ <- 1 to kcoreRounds) {
      val removed = deg.filter(col("degree") < kcoreK).select(col("v"))
      val alive = deg.filter(col("degree") >= kcoreK)
      // ≤ 2m probe rows TOTAL across all rounds — each vertex fans its
      // neighbor list out exactly once, in the round it is removed
      val lost = adj
        .join(gatedBc(removed.withColumnRenamed("v", "src"), small), "src")
        .select(explode(col("dsts")).as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("lost"))
      val next = alive
        .join(gatedBc(lost, small), Seq("v"), "left")
        .select(col("v"),
          (col("degree") - coalesce(col("lost"), lit(0L))).as("degree"))
        .sweepCheckpoint()
      // previous round's state is dead once the new pin materializes
      graft.plans.Checkpoints.release(deg)
      deg = next
    } }
    deg.filter(col("degree") >= 1)
      .select(col("v"), col("degree").as("core_degree"))
      .orderBy(col("v"))
  }

  /** Association-rule mining over order baskets (the market-basket rules a
    * recommender bootstrap runs): for every directed part pair (a → b)
    * co-ordered at least [[minRuleSupport]] times, support / confidence /
    * lift from exact integer counts, floats computed ONCE at the end.
    *
    * 100 TB shape: pair counts come from the pay-once basket-pair artifact
    * (width-bounded per-order expansion, never a fact self-join —
    * [[basketPairsPath]]); the per-item order counts are a
    * part-dimension-sized artifact table, so both enrichment joins
    * broadcast below the size gate; the final ranking is a TakeOrdered
    * top-20. */
  val minRuleSupport = 3

  val basketRules: Q = (s, d) =>
    basketRulesImpl(s, d, Limits.maxBroadcastVertices)

  private[graft] def basketRulesImpl(s: SparkSession, d: String,
      maxBcVerts: Long): DataFrame = {
    // Every count this query needs is pre-materialized in the pay-once
    // basket-pair artifact ([[basketPairsPath]]): the pair-count stream
    // (the cost that made this the suite's one bench-anomaly-prone query —
    // its first-run GC sensitivity came from the 70 M-row in-query pair
    // expansion), the item dimension, and the one-row order census. The
    // query itself is a pre-filtered artifact scan, two item-dimension
    // joins (size-gated — the item dim scales with the part dimension,
    // [[gatedBc]]), a one-row broadcast, and a TakeOrdered top-20.
    val base = basketPairsPath(s, d)
    val nOrders = graft.plans.ArtifactCache.readParquet(s, s"$base/meta")
    val itemN = graft.plans.ArtifactCache.readParquet(s, s"$base/items")
    val small = partDimCount(s, d) <= maxBcVerts
    val pairN = graft.plans.ArtifactCache.readParquet(s, s"$base/pairs")
      .filter(col("n_ab") >= minRuleSupport)
      .select(shiftright(col("p"), 32).as("a"),
        (col("p").bitwiseAND(lit(0xFFFFFFFFL))).as("b"), col("n_ab"))
    // both rule directions from each undirected pair, then exact-int ratios
    val rules = pairN
      .select(col("a").as("antecedent"), col("b").as("consequent"), col("n_ab"))
      .unionAll(pairN.select(col("b"), col("a"), col("n_ab")))
      .join(gatedBc(itemN.withColumnRenamed("v", "antecedent")
        .withColumnRenamed("n_v", "n_ante"), small), "antecedent")
      .join(gatedBc(itemN.withColumnRenamed("v", "consequent")
        .withColumnRenamed("n_v", "n_cons"), small), "consequent")
      .crossJoin(broadcast(nOrders))
    rules.select(col("antecedent"), col("consequent"), col("n_ab"),
        round(col("n_ab").cast("double") / col("n_orders").cast("double"), 6)
          .as("support"),
        round(col("n_ab").cast("double") / col("n_ante").cast("double"), 6)
          .as("confidence"),
        round((col("n_ab") * col("n_orders")).cast("double") /
          (col("n_ante") * col("n_cons")).cast("double"), 6).as("lift"))
      .orderBy(col("lift").desc, col("antecedent"), col("consequent"))
      .limit(20)
  }

  /** Fixed-point integer PageRank: up to [[pagerankIters]] Jacobi sweeps
    * over the co-occurrence graph with an EXACT-fixpoint early exit. ALL
    * iteration arithmetic is 64-bit integer (ranks scaled by 1e12,
    * contributions by integer division, damping as `(85 · Σ) DIV 100`), so
    * partial-aggregation order cannot perturb a single bit and the DuckDB
    * oracle replays the sweeps exactly — the same trick a distributed
    * engine needs anyway to make PageRank runs reproducible across
    * topologies. The float rank appears once, as one IEEE division per
    * vertex on output.
    *
    * Integer exactness is also what makes the early exit ORACLE-SAFE: the
    * sweep is a deterministic function pr → f(pr), checked at pinned
    * [[prBlock]]-sweep boundaries — boundary equality means f^B(x) = x,
    * and because the cap is a multiple of B, the sweeps an early exit
    * skips apply (f^B) an integer number of times, landing bit-for-bit on
    * the oracle's full unroll even if x sits on a B-cycle rather than a
    * true fixpoint (the `embedding_kmeans` exact-fixpoint argument,
    * strengthened for cycles). The check is one join of two vertex-sized
    * PINNED frames per block.
    *
    * 100 TB shape: each sweep is one broadcast probe of the pinned
    * adjacency by the vertex-sized rank state, then one map-side-combined
    * aggregate keyed by vertex — the edge set never re-shuffles; past
    * broadcast reach the probe becomes a keyed equi-join co-partitioned
    * with a bucketed adjacency. Block-wise `localCheckpoint` (every
    * [[prBlock]] sweeps) bounds the plan depth at one block — the rank
    * state is single-referenced per sweep so unpinned lineage grows
    * LINEARLY (never kcore's 3^R), and pinning each block keeps 20+ sweeps
    * from compounding while spending a third of the per-sweep action
    * overhead. No driver state: the only scalars are the vertex count and
    * the one-bit fixpoint test. */
  val pagerankIters = 12
  val pagerankScale = 1000000000000L
  /** Checkpoint/convergence-check block size — must divide [[pagerankIters]]
    * (the block-cycle oracle-safety argument in [[graphPagerank]] needs the
    * remaining sweeps after an exit to be a multiple of the block). */
  val prBlock = 3

  /** One Jacobi sweep over the DEGREE-ANNOTATED adjacency: the rank state
    * itself broadcasts onto `symd` (src, dst, degree-of-src), each edge row
    * computes its contribution pr DIV degree inside the aggregate's input
    * projection, and the damping applies the precomputed integer literal.
    * This is the minimal sweep — ONE broadcast (the vertex-sized rank
    * state) and one two-phase aggregate per sweep; the earlier spelling
    * re-broadcast the degree table and a one-row nv frame every sweep and
    * spent 2× the wall time in stage/broadcast launches (measured 4.5 →
    * 2.4 s for 12 sweeps at sf0.1). Extracted so the spec can pin the
    * per-sweep physical shape (the block `localCheckpoint` in
    * [[graphPagerank]] hides the sweep subplan from any outer explain).
    * Broadcast is HINTED because the pinned state is an RDD scan with no
    * size statistics — unhinted, Catalyst would SortMergeJoin it. */
  /** Target neighbors per packed-adjacency chunk: vertices are split into
    * ceil(degree / this) rows so a 10⁸-degree hub never materializes one
    * giant array row (straggler/OOM); ordinary vertices stay one row. */
  val adjChunkTarget = 8192L

  /** Chunked adjacency-list packing — the Pregel/GraphX representation:
    * one row per (src, chunk) with the neighbor ids as an array and the
    * src's FULL degree alongside. The iterative sweeps probe THIS frame
    * (~nv + m/chunkTarget rows) instead of the m-row edge stream: the
    * per-sweep join does nv hash probes rather than m, and the per-edge
    * arithmetic that depends only on src (pr DIV degree) is computed once
    * per row and fanned out by `explode`. Build is one groupBy shuffle of
    * the symmetric edge stream — paid ONCE per data version as the
    * `graph_adj_packed` artifact shared by pagerank + eigencentrality
    * ([[packedAdjPath]]), not once per query. The degree-sized join is
    * gated by `bcState` like the rank state itself. */
  private[graft] def packedAdjacency(e: DataFrame, deg: DataFrame,
      bcState: Boolean): DataFrame = {
    val degSrc = deg.withColumnRenamed("v", "src")
    e.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(e.select(col("b").as("src"), col("a").as("dst")))
      .join(if (bcState) broadcast(degSrc) else degSrc.hint("shuffle_hash"),
        "src")
      .withColumn("chunk", pmod(col("dst"),
        greatest(lit(1L), ceil(col("degree") / lit(adjChunkTarget)).cast(LongType))))
      .groupBy(col("src"), col("degree"), col("chunk"))
      .agg(collect_list(col("dst")).as("dsts"))
      .select(col("src"), col("degree"), col("dsts"))
  }

  /** Packed adjacency + degree table as a pay-once artifact (the
    * [[edgesPath]] convention): both iterative-sweep queries start from
    * exactly this frame pair, and the collect_list groupBy that builds it
    * costs more than a whole query's sweeps at sf1. Auto-invalidated when
    * lineitem changes; bench-attributed separately. */
  private[graft] def packedAdjPath(s: SparkSession, d: String): String =
    graft.plans.ArtifactCache.getOrBuild("graph_adj_packed", d, Seq("lineitem"),
      // consumes edges() ⇒ stamps [[edgesLogic]] (transitive-staleness rule)
      edgesLogic) { dir =>
      val e = edges(s, d)
      degrees(e).write.parquet(s"$dir/deg")
      val deg = s.read.parquet(s"$dir/deg")
      val bc = deg.count() <= Limits.maxBroadcastVertices
      packedAdjacency(e, deg, bc).write.parquet(s"$dir/adj")
      // BUCKETED copy — the cluster path for exchange-free sweep joins:
      // localCheckpoint materializes UnknownPartitioning on 4.1.2 (verified;
      // repartition-then-pin does NOT make later joins exchange-free), so
      // the only way to hand the sweeps a pre-hashed adjacency is a bucketed
      // table layout. Written via a throwaway catalog entry (bucket metadata
      // only exists through saveAsTable); the DROP keeps the files — the
      // table is external — and [[bucketedAdjTable]] re-registers the spec
      // over the artifact path in any consuming session. One file per
      // bucket: the pre-repartition matches the bucket hash, so each task
      // owns exactly one bucket.
      val tmpName = s"graft_tmp_adj_b_${System.nanoTime()}"
      s.read.parquet(s"$dir/adj")
        .repartition(adjBuckets, col("src"))
        .write.bucketBy(adjBuckets, "src").sortBy("src")
        .option("path", s"$dir/adj_b").saveAsTable(tmpName)
      s.sql(s"DROP TABLE $tmpName")
    }

  /** Bucket count of the cluster-path adjacency layout. Matches the repo's
    * session shuffle-partition setting so a sweep aggregate's output
    * partitioning (HashPartitioning(v, shuffle.partitions)) aligns with the
    * bucketed scan's (HashPartitioning(src, buckets)) and sweeps 2..B of a
    * block plan with ZERO exchange on the state join — the aggregate's own
    * shuffle is the sweep's only exchange. On a real cluster this is sized
    * to the executor fleet, not 32. */
  val adjBuckets = 32

  /** Register (idempotently, per session) the external bucketed table over
    * the packed-adjacency artifact's bucketed copy and return its name.
    * Bucket metadata lives in the catalog, not in parquet, so each session
    * re-declares the spec over the immutable artifact files; the name embeds
    * the artifact fingerprint, so a data/logic change yields a NEW table
    * over the new artifact rather than a stale binding. */
  private[graft] def bucketedAdjTable(s: SparkSession, d: String): String = {
    val base = packedAdjPath(s, d)
    val hash = base.substring(base.lastIndexOf('_') + 1)
    val name = s"graft_adj_b_$hash"
    s.sql(
      s"""CREATE TABLE IF NOT EXISTS $name (src BIGINT, degree BIGINT, dsts ARRAY<BIGINT>)
         |USING PARQUET
         |CLUSTERED BY (src) SORTED BY (src) INTO $adjBuckets BUCKETS
         |LOCATION '$base/adj_b'""".stripMargin)
    name
  }

  private[graft] def pagerankSweep(adj: DataFrame, init: Long,
      pr: DataFrame, broadcastState: Boolean = true): DataFrame = {
    // Past Limits.maxBroadcastVertices (broadcastState = false) the
    // vertex-sized state becomes the BUILD side of a keyed SHUFFLE_HASH
    // join instead — the scale-safe fallback for 10⁹-vertex graphs where a
    // vertex-sized broadcast is a driver OOM; the plan stays
    // hash-probe-shaped either way (never a sort of the edge stream).
    // `adj` is the packed adjacency ([[packedAdjacency]]): the probe is
    // vertex-chunk-sized, the contribution pr DIV degree is computed once
    // per chunk row (identical per-edge arithmetic — every neighbor in the
    // chunk shares src and degree), and explode fans it to the aggregate.
    val state = pr.withColumnRenamed("v", "src")
    val probe =
      if (broadcastState) adj.join(broadcast(state), "src")
      else adj.join(state.hint("shuffle_hash"), "src")
    probe
      .select(explode(col("dsts")).as("v"), expr("pr DIV degree").as("contrib"))
      .groupBy(col("v"))
      .agg(sum(col("contrib")).as("in_sum"))
      .select(col("v"),
        (lit((15L * init) / 100L) + expr("(85 * in_sum) DIV 100")).as("pr"))
  }

  /** One Jacobi sweep over the BUCKETED adjacency table — the cluster
    * path. The scan arrives pre-hashed on src (HashPartitioning(src,
    * [[adjBuckets]])), so the state join plans with ZERO exchange on the
    * adjacency; and because a sweep's aggregate output is hash-partitioned
    * by vertex with the same partition count, the NEXT sweep's state side
    * needs no exchange either — chained sweeps' only exchange is each
    * aggregate's own shuffle (PlanSpec pins this). Same integer arithmetic
    * as [[pagerankSweep]], bit-identical output (RoundTenSpec); only the
    * physical layout moves. The shuffle-hash hint keeps the join a hash
    * probe with the vertex-sized state as build side — never a broadcast
    * (no driver involvement at any vertex count: this path needs no size
    * gate) and never a sort. */
  private[graft] def pagerankSweepBucketed(adjB: DataFrame, init: Long,
      pr: DataFrame): DataFrame =
    adjB.join(pr.withColumnRenamed("v", "src").hint("shuffle_hash"), "src")
      .select(explode(col("dsts")).as("v"), expr("pr DIV degree").as("contrib"))
      .groupBy(col("v"))
      .agg(sum(col("contrib")).as("in_sum"))
      .select(col("v"),
        (lit((15L * init) / 100L) + expr("(85 * in_sum) DIV 100")).as("pr"))

  val graphPagerank: Q = (s, d) =>
    graphPagerankImpl(s, d, Limits.maxBroadcastVertices)

  /** [[graphPagerank]] with the broadcast-state gate injectable so the spec
    * can drive the shuffle-hash fallback end-to-end on a small fixture, and
    * the sweep layout selectable (broadcast-probe vs bucketed cluster
    * path). */
  private[graft] def graphPagerankImpl(s: SparkSession, d: String,
      maxBcVerts: Long, bucketed: Boolean = false): DataFrame = {
    val adjBase = packedAdjPath(s, d)
    val deg = graft.plans.ArtifactCache.readParquet(s, s"$adjBase/deg") // (v, degree): out-degree = degree
    // ONE bounded driver scalar — the vertex count — gates the integer
    // init/damping literals (the same bounded-scalar posture as
    // graphTriangles' edge-count broadcast gate); the arithmetic is
    // unchanged: init = scale DIV nv exactly as the oracle's pr0 CTE.
    val nv = deg.count()
    val init = pagerankScale / nv
    // the broadcast-vs-shuffle-hash gate: one bounded scalar we already have
    val bcState = nv <= maxBcVerts
    // adjacency with the SOURCE degree attached once (vertex-sized build
    // join, pinned): sweeps stop re-joining/re-broadcasting the degree
    // table — each sweep's only broadcast is the rank state itself.
    // NOT pre-partitioned on the aggregation key: localCheckpoint
    // materializes to a LogicalRDD with UnknownPartitioning (verified on
    // 4.1.2 — the sweep still plans an Exchange after a repartition+pin,
    // so that build shuffle is pure added cost; measured 16.1 → 23.5 s at
    // sf1). On a real cluster a bucketed adjacency table (bucketBy dst) is
    // the way to make sweeps exchange-free, not a checkpoint.
    // bucketed mode reads the catalog table instead: a stable pre-hashed
    // scan with statistics — no checkpoint needed (nothing re-derives), and
    // the bucket partitioning is exactly what a checkpoint would destroy
    val symd =
      if (bucketed) s.table(bucketedAdjTable(s, d))
      else graft.plans.ArtifactCache.readParquet(s, s"$adjBase/adj").sweepCheckpoint()
    var pr = deg.select(col("v"), lit(init).as("pr")).sweepCheckpoint()
    // Sweep in pinned BLOCKS of prBlock sweeps: the rank state is referenced
    // exactly ONCE per sweep (sym/deg/nv are pinned), so unpinned lineage is
    // LINEAR in sweeps — bounded at prBlock, never the 3^R re-expansion the
    // kcore loop had to checkpoint away. Each vertex/edge-cheap sweep
    // otherwise costs more in Spark job launches than in data (measured
    // 0.3 s/sweep of pure scheduling at sf0.1 — 4.8 s for 12 sweeps with
    // per-sweep actions vs ~half batched).
    //
    // The early exit compares PINNED block boundaries (pr_{k·B} vs
    // pr_{(k−1)·B}) — a join of two materialized vertex-sized frames, not a
    // re-computation. Oracle safety is the block-cycle argument: the sweep
    // is a deterministic map f, so boundary equality means f^B(x) = x, and
    // since the cap is a multiple of B, the remaining (cap − k·B) sweeps
    // apply (f^B) an integer number of times — the state at the cap is x
    // again, bit-for-bit the oracle's full unroll, even if x sits on a
    // B-cycle rather than a true fixpoint. Broadcast hint: checkpointed RDD
    // scans carry no size statistics, and unhinted Catalyst would
    // SortMergeJoin two vertex-sized frames.
    var it = 0
    var converged = false
    noSweepAqe(s) { while (it < pagerankIters && !converged) {
      val blockStart = pr
      val steps = math.min(prBlock, pagerankIters - it)
      for (_ <- 1 to steps) pr =
        if (bucketed) pagerankSweepBucketed(symd, init, pr)
        else pagerankSweep(symd, init, pr, bcState)
      it += steps
      pr = pr.sweepCheckpoint()
      if (it < pagerankIters && steps == prBlock) {
        val prev = blockStart.withColumnRenamed("pr", "prev")
        converged = pr.join(
            if (bcState) broadcast(prev) else prev.hint("shuffle_hash"), "v")
          .filter(col("pr") =!= col("prev")).isEmpty
      }
      // the previous block boundary is dead: the new pin is materialized
      // and the convergence check above has read it — release its blocks
      // now instead of waiting out driver GC + the async ContextCleaner
      // ([[graft.plans.Checkpoints.release]]; live pins stay O(1) in the
      // sweep count)
      graft.plans.Checkpoints.release(blockStart)
    } }
    pr.select(col("v"), col("pr").as("pr_scaled"),
        // round to 6 (the repo-wide float-output convention): at 15 places
        // the rounding happens in the double's last ulps, where Spark's
        // BigDecimal HALF_UP and DuckDB's float arithmetic can disagree
        round(col("pr").cast("double") / lit(1.0e12), 6).as("pr"))
      .orderBy(col("v"))
  }

  val eigenIters = 6
  val eigenScale = 1000000L

  /** Eigenvector centrality by integer power iteration: r ← A·r with L∞
    * rescaling (divide by the max, the standard power-method
    * normalization) after every sweep — all arithmetic exact int64, so
    * the DuckDB unroll replays bit-for-bit. The L∞ choice is what keeps
    * it in int64: r ≤ [[eigenScale]] after each rescale, so a sweep's
    * in-sum is ≤ deg·scale and the rescale product in_sum·scale stays
    * under 2^63 up to ~10⁶-vertex neighborhoods (the scale constant is
    * the knob past that). PageRank measures where a random surfer lands;
    * eigenvector centrality measures recursive influence — hubs connected
    * to hubs — the other canonical spectral ranking.
    *
    * 100 TB shape, per sweep: the vertex-sized rank state broadcasts onto
    * the pinned adjacency ([[pagerankSweep]]'s minimal-sweep design), one
    * two-phase aggregate keyed by vertex, and the rescale divisor is a
    * BOUNDED driver scalar (one max over the vertex frame — the same
    * bounded-scalar posture as pagerank's nv gate). State pinned per
    * sweep; plan depth constant in the iteration count. */
  val graphEigencentrality: Q = (s, d) =>
    graphEigencentralityImpl(s, d, Limits.maxBroadcastVertices)

  /** One power-iteration sweep over the BUCKETED adjacency table — the
    * cluster path, the [[pagerankSweepBucketed]] shape minus the degree
    * arithmetic (eigen sums raw neighbor state): the adjacency scan
    * arrives pre-hashed on src so the state join plans with ZERO exchange
    * on the adjacency side, the vertex state builds a keyed SHUFFLE_HASH
    * side (no broadcast at any vertex count, no driver involvement), and
    * the aggregate's own shuffle is the sweep's only data movement.
    * Unlike pagerank's block chaining, eigen's L∞ rescale needs a driver
    * max per sweep, so each sweep materializes — the state side re-aligns
    * (one 32-partition exchange) per sweep; the win the bucketing keeps
    * is the adjacency side never moving. */
  private[graft] def eigenSweepBucketed(adjB: DataFrame,
      r: DataFrame): DataFrame =
    adjB.join(r.withColumnRenamed("v", "src").hint("shuffle_hash"), "src")
      .select(explode(col("dsts")).as("v"), col("r"))
      .groupBy(col("v"))
      .agg(sum(col("r")).as("s"))

  /** [[graphEigencentrality]] with the broadcast-state gate injectable —
    * same scale-safe SHUFFLE_HASH fallback as [[graphPagerankImpl]] — and
    * the sweep layout selectable (broadcast-probe vs bucketed cluster
    * path, the [[graphPagerankImpl]] `bucketed` convention; local default
    * stays broadcast — the parquet re-scan per sweep loses to one pinned
    * frame locally, documented at [[pagerankSweepBucketed]]). */
  private[graft] def graphEigencentralityImpl(s: SparkSession, d: String,
      maxBcVerts: Long, bucketed: Boolean = false): DataFrame = {
    val adjBase = packedAdjPath(s, d)
    val deg = graft.plans.ArtifactCache.readParquet(s, s"$adjBase/deg")
    var r = deg.select(col("v"), lit(eigenScale).as("r"))
      .sweepCheckpoint()
    // one bounded driver scalar gates broadcast vs shuffle-hash, as in
    // pagerank (the count rides the already-pinned vertex frame); the
    // bucketed cluster path never consults it, so don't pay the count job
    // there (graphComponentsImpl's convention)
    val bcState = !bucketed && r.count() <= maxBcVerts
    // packed adjacency, as in pagerank: vertex-chunk-sized probe per sweep;
    // bucketed mode reads the catalog table (stable pre-hashed scan, no pin)
    val sym =
      if (bucketed) s.table(bucketedAdjTable(s, d))
      else graft.plans.ArtifactCache.readParquet(s, s"$adjBase/adj").sweepCheckpoint()
    // the pinned frame backing the current rank state (r is a stateless
    // projection over it); dead as soon as the next sums pin materializes
    var rBacking = r
    noSweepAqe(s) { for (_ <- 1 to eigenIters) {
      val state = r.withColumnRenamed("v", "src")
      // LAZY pin (round 16): the sweep aggregate is materialized by the
      // rescale-divisor max job below — one job per sweep instead of two
      // (the eager pin was a full extra job + barrier per sweep; the
      // aggregate is deterministic, satisfying pin()'s prerequisite).
      // rBacking is released only AFTER that job runs: the sweep's probe
      // scans it, and a lazy pin has nothing materialized before the job.
      val sums = (if (bucketed) eigenSweepBucketed(sym, r)
        else sym.join(
            if (bcState) broadcast(state) else state.hint("shuffle_hash"), "src")
          .select(explode(col("dsts")).as("v"), col("r"))
          .groupBy(col("v"))
          .agg(sum(col("r")).as("s")))
        .sweepPin()
      // max() over zero groups is null (edgeless graph): the sweep frame
      // is empty, so any non-zero divisor keeps the rescale projection
      // well-formed and the final result is the correct empty landmark
      // set — same null-safe convention as the sortedAdj max-degree
      // pre-check. NOTE (r15): a broadcast-scalar spelling of this
      // divisor (crossJoin(broadcast(max-frame)) evaluated inside the
      // next sweep's plan) was A/B-measured STRICTLY WORSE — 2.2 → 3.8 s
      // at sf0.1, interleaved runs with an in-family control — the
      // per-sweep broadcast stage costs more than the bounded head()
      // job it replaces. Keep the driver scalar.
      val mxRow = sums.agg(max(col("s"))).head()
      val mx = if (mxRow.isNullAt(0)) 1L else mxRow.getLong(0)
      // the max job above materialized the lazy sums pin and is the last
      // reader of the previous state — release it now
      graft.plans.Checkpoints.release(rBacking)
      rBacking = sums
      // no second pin: the rescale is a stateless projection over the
      // ALREADY-pinned sums, so lineage depth stays constant without
      // paying a third job per sweep
      r = sums.select(col("v"), expr(s"(s * $eigenScale) DIV $mx").as("r"))
    } }
    r.select(col("v"), col("r").as("centrality_scaled"),
        round(col("r").cast(DoubleType) / lit(eigenScale.toDouble), 6)
          .as("centrality"))
      .orderBy(col("centrality_scaled").desc, col("v"))
      .limit(20)
  }

  /** One synchronous Louvain local-move round from singleton communities —
    * the building block of modularity-ascent community detection, with the
    * arithmetic kept EXACT so the oracle replays it: from singletons,
    * moving v into neighbor u's community changes modularity by
    * ΔQ·4m² = 4m − 2·k_v·k_u (derived from Q = Σ e_c/m − (d_c/2m)²; no
    * self-loops), so each vertex deterministically picks its
    * minimum-degree neighbor (tie-break: smallest id) and moves iff
    * ΔQ > 0. All vertices move simultaneously (the standard parallel
    * round); the report carries exact integer modularity numerators
    * (Q·4m² = 4m·Σe_c − Σd_c²) before and after, float computed once.
    *
    * 100 TB shape: the candidate degrees ride the packed-adjacency chunk
    * rows themselves (the r14 probe reversal — zero degree probes on the
    * edge stream); the per-vertex argmin is a (k_u, u)-ordered min_by
    * aggregate keyed by vertex (map-side partials, never a sort of the
    * edge stream) followed by ONE vertex-sized gated k_v probe; the
    * modularity-after pass is one label join + two bounded aggregates.
    * Everything is vertex- or edge-linear; no pair expansion. */
  val graphLouvainMove: Q = (s, d) =>
    graphLouvainMoveImpl(s, d, Limits.maxBroadcastVertices)

  private[graft] def graphLouvainMoveImpl(s: SparkSession, d: String,
      maxBcVerts: Long): DataFrame = {
    val dec = DecimalType(38, 0)
    // edges feed only the intra pass now — a stable artifact scan, no pin;
    // the census scalar is the memoized edge count, and degrees come from
    // the packed-adjacency artifact instead of a per-query aggregate
    val e = edges(s, d)
    val m = edgeCount(s, d) // bounded driver scalar, the census convention
    // degree and label tables are vertex-sized — size-gated ([[gatedBc]])
    val small = 2L * m <= maxBcVerts
    val adjBase = packedAdjPath(s, d)
    val deg = graft.plans.ArtifactCache.readParquet(s, s"$adjBase/deg")
    // Round-14 probe reversal (the assortativity vertex-moments trick
    // applied to the target vote): the chunk row carries the SOURCE
    // degree, and the adjacency is symmetric, so reading each row as
    // "u (with its ku) is a neighbor of every v in dsts" yields
    // (v, u, ku) with ZERO join — the old spelling probed the
    // vertex-sized degree table once per DIRECTED EDGE (2m hash lookups,
    // the DRAM-latency probe class the r10 common_neighbors attribution
    // measured as the family's dominant cost). kv moves to one
    // vertex-sized gated probe AFTER the argmin, over nv rows instead
    // of 2m. min_by partial-aggregates map-side, so the vote exchange
    // carries ~nv rows either way. Bit-identity spec-pinned
    // (RoundFourteenSpec); oracle untouched.
    val annotated = graft.plans.ArtifactCache.readParquet(s, s"$adjBase/adj")
      .select(col("src").as("u"), col("degree").as("ku"),
        explode(col("dsts")).as("v"))
    // per-vertex best target: min-degree neighbor, smallest id on ties
    val best = annotated
      .groupBy(col("v"))
      .agg(min_by(struct(col("u"), col("ku")),
          struct(col("ku"), col("u"))).as("b"))
      .select(col("v"), col("b.u").as("target"), col("b.ku").as("ktu"))
      .join(gatedBc(deg.select(col("v"), col("degree").as("kv")), small), "v")
    val labels = best
      .select(col("v"),
        when(lit(4L * m) - lit(2L) * col("kv") * col("ktu") > 0,
          col("target")).otherwise(col("v")).as("lbl"))
      .sweepPin() // feeds the move count, intra pass and Σd_c²
    val lblA = labels.select(col("v").as("a"), col("lbl").as("la"))
    val lblB = labels.select(col("v").as("b"), col("lbl").as("lb"))
    val intra = e.join(gatedBc(lblA, small), "a").join(gatedBc(lblB, small), "b")
      .agg(sum(when(col("la") === col("lb"), 1L).otherwise(0L)).as("intra_edges"))
    val comm = labels.join(gatedBc(deg, small), "v")
      .groupBy(col("lbl")).agg(sum(col("degree")).cast(dec).as("dc"))
      .agg(count(lit(1)).as("n_communities"),
        sum(col("dc") * col("dc")).as("sd2"))
    val moved = labels
      .agg(sum(when(col("lbl") =!= col("v"), 1L).otherwise(0L)).as("n_moved"),
        count(lit(1)).as("n_vertices"))
    val q0 = deg.agg(sum((col("degree") * col("degree")).cast(dec)).as("sk2"))
    moved.crossJoin(intra).crossJoin(comm).crossJoin(q0)
      .select(col("n_vertices"), col("n_moved"), col("n_communities"),
        col("intra_edges"),
        round(lit(0.0) - col("sk2").cast(DoubleType) /
          (lit(4.0) * m * m), 6).as("modularity_before"),
        round((lit(4.0) * m * col("intra_edges").cast(DoubleType) -
          col("sd2").cast(DoubleType)) / (lit(4.0) * m * m), 6)
          .as("modularity_after"))
  }

  /** Seed set size for the closeness audit — the [[closenessSeedCount]]
    * smallest vertex ids, the same deterministic seed rule as [[graphBfs]]. */
  val closenessSeedCount = 4

  /** Bounded-radius closeness + harmonic centrality for a deterministic
    * seed set: per-source BFS distances within [[bfsDepth]] hops, then
    * closeness = n_reached / Σdist and harmonic = Σ 1/dist — the two
    * standard "how central is this node" statistics, truncated at the
    * radius that bounds the recursive oracle (on small-world co-occurrence
    * graphs a 3-hop ball already covers most of the component, so the
    * truncated statistic is the one practitioners actually compute).
    *
    * The per-source distances come from ONE multi-source level-synchronous
    * loop keyed by (source, vertex) — k sources ride the same three
    * frontier rounds, not k separate traversals. Each round probes the
    * PACKED adjacency artifact ([[packedAdjPath]] — ~nv chunk rows per
    * probe instead of the 2m-row symmetric edge stream, the
    * [[graphComponentsImpl]] shape); frontier/visited are
    * (seeds × vertex)-bounded and size-gated ([[gatedBc]]): broadcast
    * below the cap, keyed SHUFFLE_HASH past it. Exactness: distances are
    * integers; harmonic quantizes each 1/d to DECIMAL(18,6) BEFORE
    * summing (the repo's quantized-float-sum convention) and closeness
    * computes its one float on the final k-row result. */
  val graphCloseness: Q = (s, d) =>
    graphClosenessImpl(s, d, Limits.maxBroadcastVertices)

  private[graft] def graphClosenessImpl(s: SparkSession, d: String,
      maxBcVerts: Long): DataFrame = {
    val adjBase = packedAdjPath(s, d)
    val adj = graft.plans.ArtifactCache.readParquet(s, s"$adjBase/adj") // stable parquet scan per round
    // frontier/visited are (seeds × vertex)-bounded — size-gated with the
    // seed multiplier folded into the bound ([[gatedBc]])
    val small = closenessSeedCount * vertexBound(s, d) <= maxBcVerts
    // the artifact's degree table IS the vertex universe (edge endpoints)
    val seeds = graft.plans.ArtifactCache.readParquet(s, s"$adjBase/deg")
      .select(col("v")).orderBy(col("v")).limit(closenessSeedCount)
      .select(col("v").as("s0"), col("v"), lit(0L).as("dist"))
    // `visited` is a LAZY union of the per-round frontier pins — every
    // visited row is already materialized in exactly one frontier pin, so
    // re-pinning the union each round was a second full barrier + block
    // rewrite of all previous rounds' rows (O(depth²) block writes across
    // the loop) for data the union spelling reads identically. One eager
    // pin per round instead of two; the depth+1 frontier pins all stay
    // live (the returned plan reads their union), which is O(1) in data
    // size — bfsDepth is an algorithm constant, not a scale variable.
    var frontier: DataFrame = null
    var visited: DataFrame = null
    noSweepAqe(s) {
      frontier = seeds.sweepCheckpoint()
      val pins = scala.collection.mutable.ListBuffer(frontier)
      visited = frontier
      for (k <- 1 to bfsDepth) {
        frontier = closenessRound(adj, frontier, visited, k, small).sweepCheckpoint()
        pins += frontier
        visited = visited.unionAll(frontier)
      }
      // collapse the depth+1 frontier pins into ONE (seeds × reach)-bounded
      // union pin and release them deterministically (round 16, the ADVICE
      // item): the loop otherwise leaks depth+1 pins per invocation until
      // driver GC + ContextCleaner catch up — the exact debt the release
      // contract exists for. One extra bounded job; the union pin scans
      // the frontier pins BEFORE they are released (eager checkpoint).
      visited = visited.sweepCheckpoint()
      pins.foreach(graft.plans.Checkpoints.release)
    }
    visited.filter(col("dist") > 0)
      .groupBy(col("s0"))
      .agg(count(lit(1)).as("n_reached"),
        sum(col("dist")).as("sum_dist"),
        sum(round(lit(1.0) / col("dist"), 6).cast(DecimalType(18, 6)))
          .as("hsum"))
      .select(col("s0").as("source"), col("n_reached"), col("sum_dist"),
        round(col("n_reached").cast(DoubleType) / col("sum_dist"), 6)
          .as("closeness"),
        col("hsum").cast(DoubleType).as("harmonic"))
      .orderBy(col("source"))
  }

  /** One multi-source BFS level over the PACKED adjacency: the
    * (source, vertex) frontier probes the chunked adjacency on src
    * (gated), neighbor ids fan out through explode, minus the per-source
    * visited set. The [[bfsRound]] shape with the source key carried
    * through — extracted so PlanSpec can pin it. */
  private[graft] def closenessRound(adj: DataFrame, frontier: DataFrame,
      visited: DataFrame, k: Int, small: Boolean = true): DataFrame =
    adj.join(gatedBc(frontier.select(col("s0"), col("v").as("src")), small),
        Seq("src"))
      .select(col("s0"), explode(col("dsts")).as("v")).distinct()
      .join(gatedBc(visited.select(col("s0"), col("v")), small),
        Seq("s0", "v"), "left_anti")
      .select(col("s0"), col("v"), lit(k.toLong).as("dist"))

  val walkSteps = 4

  /** Whole-array, id-sorted adjacency — (vertex w, ns = ALL of w's
    * neighbors id-sorted, deg) — the walk-INDEXING sibling of the chunked
    * packed artifact ([[packedAdjPath]]). The chunked layout exists to
    * bound row size, but a walker needs `element_at(ns, i)` over the FULL
    * sorted list (index semantics span chunks), so samplers get their own
    * pay-once fold: one groupBy shuffle of the symmetric edge stream per
    * data version, instead of once per query (re-folding it in-query was
    * the suite's last pay-per-query adjacency derivation — the round-10
    * verdict's one remaining `weak` plan). Shared by any future sampler
    * (node2vec q/p walks, negative samplers) exactly like the packed
    * artifact is shared by the sweeps.
    *
    * Row-size bound, stated honestly AND enforced: one row per vertex
    * means the max row is 8 B × max-degree — fine through ~10⁷-degree
    * hubs, past the 2 GiB single-row ceiling at ~2.5×10⁸
    * ([[Limits.maxSortedAdjDegree]], capped at 2×10⁸ for struct/page
    * headroom). The build `require`s max-degree under the ceiling from a
    * cheap count-only fold BEFORE the collect_list runs, so an
    * over-ceiling hub fails at the artifact boundary with a message
    * naming the fallback — not deep inside a parquet write. Past the
    * ceiling the walk rides the POSITIONAL-chunk spelling
    * ([[sortedAdjChunkedPath]]: chunk c holds positions [c·K, (c+1)·K);
    * the walker joins on (w, idx DIV K) after a degree annotate — two
    * gated joins per hop instead of one), selected automatically by
    * [[graphRandomWalkImpl]]'s [[maxDegree]] gate and bit-identity-pinned
    * against this layout (RoundFourteenSpec). */
  /** The [[sortedAdjPath]] row-size gate, extracted so the spec can drive
    * both sides of the ceiling without a 2×10⁸-degree fixture. The walk
    * query itself can no longer reach this require — [[graphRandomWalkImpl]]
    * gates on the memoized max degree FIRST and routes over-ceiling graphs
    * to the positional-chunk artifact ([[sortedAdjChunkedPath]]) — so this
    * fires only for a direct artifact consumer that skipped the gate. */
  private[graft] def requireSortedAdjDegree(maxDeg: Long): Unit =
    require(maxDeg <= Limits.maxSortedAdjDegree,
      s"graph_adj_sorted: max degree $maxDeg exceeds the whole-array " +
        s"row ceiling ${Limits.maxSortedAdjDegree} (8 B x degree per " +
        "row vs the 2 GiB single-row limit); use the positional-chunk " +
        "adjacency ([[sortedAdjChunkedPath]]) — graphRandomWalkImpl " +
        "selects it automatically past the ceiling")

  private[graft] def sortedAdjPath(s: SparkSession, d: String): String =
    graft.plans.ArtifactCache.getOrBuild("graph_adj_sorted", d, Seq("lineitem"),
      // consumes edges() ⇒ stamps [[edgesLogic]] (transitive-staleness rule)
      edgesLogic) { dir =>
      val e = edges(s, d)
      val sym = e.select(col("a").as("w"), col("b").as("n"))
        .unionAll(e.select(col("b").as("w"), col("a").as("n")))
      // row-size fail-fast: a count-only max-degree fold (map-side
      // combinable, a sliver of the collect_list below) gates the build
      val maxDegRow = sym.groupBy(col("w")).agg(count(lit(1)).as("deg"))
        .agg(max(col("deg"))).head()
      // max() over zero groups is null (empty edge set) — that's a valid
      // degenerate graph, not a ceiling violation; treat as max degree 0
      val maxDeg = if (maxDegRow.isNullAt(0)) 0L else maxDegRow.getLong(0)
      requireSortedAdjDegree(maxDeg)
      sym.groupBy(col("w"))
        .agg(sort_array(collect_list(col("n"))).as("ns"),
          count(lit(1)).as("deg"))
        .write.parquet(s"$dir/adj")
    }

  /** Memoized max co-occurrence degree — the walk-layout gate scalar: one
    * max over the VERTEX-sized degree artifact (never the edge stream),
    * keyed on the versioned artifact path like [[edgeCount]], so the gate
    * costs one bounded job per data version, not per query. */
  private[graft] def maxDegree(s: SparkSession, d: String): Long = {
    val p = s"${packedAdjPath(s, d)}/deg"
    memoCount(s"maxdeg:$p") {
      val r = graft.plans.ArtifactCache.readParquet(s, p).agg(max(col("degree"))).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
  }

  /** Positions per chunk row of the positional-chunk walk adjacency —
    * the [[adjChunkTarget]] sizing convention (a few KB per row). */
  val walkChunkK = 8192L

  /** POSITIONAL-chunk id-sorted adjacency — the past-the-ceiling sibling
    * of [[sortedAdjPath]]: chunk row (w, c, ns) holds positions
    * [c·K, (c+1)·K) of w's id-sorted neighbor list, so
    * `element_at(full_list, i)` becomes "chunk i DIV K, element i MOD K"
    * — index semantics preserved across chunks with every row bounded at
    * K ids regardless of hub degree (no 2 GiB single-row ceiling). The
    * build ranks each neighbor by id within its vertex
    * (`row_number() over (partition by w order by n)`); a 10⁸-degree
    * hub's rank partition is row-shaped, not row-sized — tens of GB of
    * (w, n) pairs SPILL in one sort task where the whole-array
    * collect_list would have to hold them in a single unsplittable 2 GiB+
    * row. K is an artifact parameter (name-keyed) so the spec can pin
    * cross-chunk indexing with a tiny K against the fixture while
    * production uses [[walkChunkK]]. */
  private[graft] def sortedAdjChunkedPath(s: SparkSession, d: String,
      k: Long = walkChunkK): String =
    graft.plans.ArtifactCache.getOrBuild(s"graph_adj_chunked_$k", d,
      Seq("lineitem"), edgesLogic) { dir =>
      val e = edges(s, d)
      val sym = e.select(col("a").as("w"), col("b").as("n"))
        .unionAll(e.select(col("b").as("w"), col("a").as("n")))
      // global position of n in w's id-sorted neighbor list; n ascending
      // IS pos ascending, so sort_array(collect_list(n)) orders each
      // chunk without carrying pos into the row
      sym.withColumn("pos",
          (row_number().over(Window.partitionBy(col("w"))
            .orderBy(col("n"))) - 1).cast(LongType))
        .withColumn("c", expr(s"pos DIV $k"))
        .groupBy(col("w"), col("c"))
        .agg(sort_array(collect_list(col("n"))).as("ns"))
        .write.parquet(s"$dir/adj")
    }

  /** One walk hop over the positional-chunk adjacency: the degree
    * annotate (one gated vertex-sized join against the degree artifact)
    * computes each walker's neighbor index, then the chunk probe joins on
    * (w, idx DIV K) and picks position idx MOD K — the two gated joins
    * per hop the whole-array scaladoc promised as the past-the-ceiling
    * spelling. Same PolyHash index stream as [[walkHop]], so the walk
    * corpus is bit-identical across layouts (spec-pinned,
    * RoundFourteenSpec, including a tiny-K cross-chunk pin). */
  private[graft] def walkHopChunked(adjC: DataFrame, degT: DataFrame,
      frontier: DataFrame, t: Int, k: Long, small: Boolean): DataFrame = {
    import graft.functions.PolyHash.{affine, P}
    val idx = affine(t, (col("start") * 1009L + col("cur")) % lit(P)) %
      col("degree")
    val withIdx = degT.withColumnRenamed("v", "cur")
      .join(gatedBc(frontier, small), "cur")
      .select(col("start"), col("cur"), idx.as("idx"))
    adjC.withColumnRenamed("w", "cur")
      .join(gatedBc(withIdx.withColumn("c", expr(s"idx DIV $k")), small),
        Seq("cur", "c"))
      .select(col("start"),
        element_at(col("ns"), (col("idx") % lit(k) + 1)
          .cast(IntegerType)).as("cur"))
  }

  /** Deterministic random walks — the node2vec/DeepWalk sampling primitive
    * a graph-embedding pipeline runs, with the engine-neutral determinism
    * every sampler in this repo uses: "randomness" is the PolyHash affine
    * family over (step, start, current), so the walk corpus is
    * reproducible across runs, engines, and cluster shapes. One walk
    * starts at every vertex and takes [[walkSteps]] hops; at each hop the
    * walker picks index `affine(step, mix(start, cur)) mod deg(cur)` into
    * the id-sorted neighbor list. Output: the 20 most-visited vertices
    * over all walk positions (starts included) — the landmark set.
    *
    * 100 TB shape: the adjacency is the pay-once id-sorted artifact
    * ([[sortedAdjPath]] — one fold per data version, a stable parquet
    * scan per hop); each hop is ONE equi-join of the |V|-row walker
    * frontier against it — broadcast below the gate, keyed shuffle-hash
    * past it — and the visit census is a two-phase count + TakeOrdered. */
  val graphRandomWalk: Q = (s, d) =>
    graphRandomWalkImpl(s, d, Limits.maxBroadcastVertices)

  /** One walk hop over the id-sorted adjacency artifact: the |V|-row
    * (start, cur) walker frontier joins the artifact on the current
    * vertex (gated — broadcast the THIN side: the frontier is two longs
    * per row, the adjacency carries degree-sized arrays; broadcasting the
    * adjacency instead cost 4 × an |E|-entry broadcast per query,
    * measured 10.3 s at sf1), and each walker indexes its neighbor array
    * with the deterministic PolyHash affine pick. Extracted so the spec
    * can pin the hop's physical shape (artifact scan, no in-query
    * collect_list fold) — the per-hop `localCheckpoint` in
    * [[graphRandomWalkImpl]] hides the subplan from any outer explain. */
  private[graft] def walkHop(adj: DataFrame, frontier: DataFrame, t: Int,
      small: Boolean): DataFrame = {
    import graft.functions.PolyHash.{affine, P}
    val idx = affine(t, (col("start") * 1009L + col("cur")) % lit(P)) % col("deg")
    adj.withColumnRenamed("w", "cur")
      .join(gatedBc(frontier, small), "cur")
      .select(col("start"),
        element_at(col("ns"), (idx + 1).cast(IntegerType)).as("cur"))
  }

  private[graft] def graphRandomWalkImpl(s: SparkSession, d: String,
      maxBcVerts: Long, chunkedOpt: Option[Boolean] = None,
      k: Long = walkChunkK): DataFrame = {
    // the walker frontier is |V| rows — size-gated ([[gatedBc]]; this site
    // wasn't on the verdict's nine but is the same scale-killer class)
    val small = vertexBound(s, d) <= maxBcVerts
    // layout gate: past the whole-array row ceiling the walk rides the
    // positional-chunk artifact (r13 verdict #5 — the fallback the
    // fail-fast message names is now real and auto-selected); the gate
    // scalar is the memoized vertex-table max degree, one bounded job
    // per data version
    val chunked = chunkedOpt.getOrElse(
      maxDegree(s, d) > Limits.maxSortedAdjDegree)
    val visited = collection.mutable.ArrayBuffer.empty[DataFrame]
    if (chunked) {
      val adjC = graft.plans.ArtifactCache.readParquet(s, s"${sortedAdjChunkedPath(s, d, k)}/adj")
      val degT = degTable(s, d)
      // same start universe as the whole-array layout: every vertex with
      // ≥1 neighbor (the degree artifact's row set)
      var frontier = degT.select(col("v").as("start"), col("v").as("cur"))
      visited += frontier
      for (t <- 0 until walkSteps) {
        frontier = walkHopChunked(adjC, degT, frontier, t, k, small)
          .sweepCheckpoint() // constant-depth plan per hop
        visited += frontier
      }
    } else {
      // stable artifact scan per hop (the components convention): no pin —
      // nothing re-derives, and the scan carries parquet statistics
      val adj = graft.plans.ArtifactCache.readParquet(s, s"${sortedAdjPath(s, d)}/adj")
      var frontier = adj.select(col("w").as("start"), col("w").as("cur"))
      visited += frontier
      for (t <- 0 until walkSteps) {
        frontier = walkHop(adj, frontier, t, small)
          .sweepCheckpoint() // constant-depth plan per hop
        visited += frontier
      }
    }
    visited.map(_.select(col("cur").as("v"))).reduce(_ unionAll _)
      .groupBy(col("v")).agg(count(lit(1)).as("n_visits"))
      .orderBy(col("n_visits").desc, col("v"))
      .limit(20)
  }

  /** BFS frontier expansion stops after this many hops: reachability
    * questions on co-occurrence graphs saturate in a few hops (small-world
    * diameter), and the cap is what bounds the recursive oracle too. */
  val bfsDepth = 3
  /** Seed set size — the [[bfsSeedCount]] smallest vertex ids. A fixed
    * deterministic seed rule (not a random draw) keeps the oracle exact. */
  val bfsSeedCount = 3

  /** Multi-source BFS: minimum hop distance from the seed set (the three
    * smallest part ids in the edge set) to every vertex within
    * [[bfsDepth]] hops, reported as a distance histogram — the
    * reachability/diameter audit run before any propagation algorithm
    * (label spread, influence, recall expansion) is trusted on a graph.
    *
    * Level-synchronous frontier expansion, the textbook distributed BFS:
    * each round joins the current frontier against the symmetric adjacency
    * and anti-joins everything already visited, so a vertex is labeled with
    * its FIRST (minimum) hop count and each edge is traversed at most twice
    * overall. The frontier/visited sets are vertex-table-bounded (parts
    * dim), so both sides of every per-round join broadcast — the corpus-
    * sized edge set never re-shuffles; each round is one broadcast-probe
    * scan of the edge artifact. Past broadcast reach (frontiers wider than
    * the driver cap) the same loop plans as keyed equi-joins on `src` —
    * the spelling is join-strategy-agnostic. Per-round `localCheckpoint`
    * (the [[graphPagerank]] convention) keeps the plan linear in depth
    * instead of 2^depth.
    *
    * DuckDB oracle: recursive CTE over the same symmetric edges with the
    * same depth cap, `MIN(dist)` per vertex — BFS as a fixpoint, which is
    * exactly what the recursion computes. */
  val graphBfs: Q = (s, d) =>
    graphBfsImpl(s, d, Limits.maxBroadcastVertices)

  private[graft] def graphBfsImpl(s: SparkSession, d: String,
      maxBcVerts: Long): DataFrame = {
    // rounds probe the packed adjacency artifact (~nv chunk rows per
    // probe, adjacency fold paid once per data version) — the
    // [[graphComponentsImpl]] shape; the artifact's degree table is the
    // vertex universe the seeds draw from
    val adjBase = packedAdjPath(s, d)
    val adj = graft.plans.ArtifactCache.readParquet(s, s"$adjBase/adj")
    // frontier/visited are vertex-bounded — size-gated ([[gatedBc]])
    val small = vertexBound(s, d) <= maxBcVerts
    val seeds = graft.plans.ArtifactCache.readParquet(s, s"$adjBase/deg")
      .select(col("v")).orderBy(col("v")).limit(bfsSeedCount)
      .select(col("v"), lit(0L).as("dist"))
    // visited = lazy union of the per-round frontier pins (the closeness
    // loop's shape — see [[graphClosenessImpl]]): one eager pin per round
    // instead of two, no O(depth²) union re-pin traffic; the depth+1 live
    // pins are an algorithm constant
    var frontier: DataFrame = null
    var visited: DataFrame = null
    noSweepAqe(s) {
      frontier = seeds.sweepCheckpoint()
      val pins = scala.collection.mutable.ListBuffer(frontier)
      visited = frontier
      for (k <- 1 to bfsDepth) {
        frontier = bfsRound(adj, frontier, visited, k, small).sweepCheckpoint()
        pins += frontier
        visited = visited.unionAll(frontier)
      }
      // one vertex-bounded union pin, per-round frontier pins released —
      // the closeness convention (see [[graphClosenessImpl]])
      visited = visited.sweepCheckpoint()
      pins.foreach(graft.plans.Checkpoints.release)
    }
    visited.groupBy(col("dist"))
      .agg(count(lit(1)).as("n_vertices"))
      .orderBy(col("dist"))
  }

  /** Degree assortativity — the Pearson correlation between the degrees at
    * the two ends of every edge (Newman's r): positive means hubs link to
    * hubs (social-graph shape), negative means hubs link to leaves
    * (hub-and-spoke), and the sign decides whether degree-based
    * partitioning heuristics (hub replication, high-degree vertex cuts)
    * will pay off on this graph. Over the SYMMETRIC directed edge list the
    * formula collapses to four moments — M, Σjk, Σj, Σj² (source and
    * target marginals coincide) — all kept EXACT: per-edge products are
    * vertex-degree-bounded ints, the sums run in DECIMAL(38) (Σjk·M
    * overflows int64 somewhere past 10⁶ edges — certainty at scale), and
    * the single float division happens once on the final row with
    * identical formula text in the oracle. Scale shape (round-13 moment
    * re-derivation, see the impl comment): three of the four moments are
    * vertex sums over the nv-row degree artifact (zero edge probes), the
    * cross moment streams the packed adjacency through ONE gated degree
    * probe + a map-side-combined aggregate — no edge-keyed shuffle at
    * all. */
  val graphAssortativity: Q = (s, d) =>
    graphAssortativityImpl(s, d, Limits.maxBroadcastVertices)

  private[graft] def graphAssortativityImpl(s: SparkSession, d: String,
      maxBcVerts: Long): DataFrame = {
    val dec = DecimalType(38, 0)
    // Round-13 moment re-derivation: over the SYMMETRIC edge list the
    // source-marginal moments are VERTEX sums — each vertex v is the
    // source of exactly deg(v) directed edges carrying j = deg(v), so
    //   m  = Σ_v deg(v),   Σj = Σ_v deg(v)²,   Σj² = Σ_v deg(v)³
    // — computed map-side over the nv-row artifact degree table with ZERO
    // probes of the edge stream (the two-endpoint-join spelling paid 2
    // degree-hash probes per directed edge = 4m DRAM-latency-bound
    // lookups; the r10 common_neighbors attribution measured exactly this
    // probe class as the family's dominant cost). Only the cross moment
    // Σjk needs the edges, and the packed-adjacency chunk rows already
    // CARRY the source degree, so it is ONE gated probe (dst degree) per
    // directed edge — a 4× probe reduction overall. Decimal sums are
    // order-insensitive-exact, so the moments (and the one rounded float)
    // are bit-identical to the two-probe spelling (spec-pinned;
    // RoundThirteenSpec). deg³ multiplies in DECIMAL (an int64 cube
    // overflows past deg ≈ 2×10⁶ — hub territory at 10⁹ vertices).
    val small = vertexBound(s, d) <= maxBcVerts
    val deg = degTable(s, d)
    // coalesce keeps the empty-edge-set degenerate identical to the old
    // count-based spelling (m = 0, not NULL), so a consumer reading
    // getLong(0) on the single output row never NPEs
    val vm = deg.agg(
      coalesce(sum(col("degree").cast(dec)), lit(0).cast(dec)).as("m"),
      sum((col("degree") * col("degree")).cast(dec)).as("sj"),
      sum(col("degree").cast(dec) * col("degree") * col("degree")).as("sj2"))
    val sjk = graft.plans.ArtifactCache.readParquet(s, s"${packedAdjPath(s, d)}/adj")
      .select(col("degree").as("j"), explode(col("dsts")).as("dst"))
      .join(gatedBc(deg.select(col("v").as("dst"), col("degree").as("k")), small), "dst")
      .agg(sum((col("j") * col("k")).cast(dec)).as("sjk"))
    vm.crossJoin(sjk)
      .select(col("m").cast(LongType).as("m"),
        round(
          (col("m") * col("sjk") - col("sj") * col("sj")).cast(DoubleType) /
          (col("m") * col("sj2") - col("sj") * col("sj")).cast(DoubleType),
          6).as("assortativity"))
  }

  /** Per-vertex triangle membership + local clustering coefficient for the
    * 20 most triangle-embedded vertices. Consumes the SAME pay-once
    * closed-wedge artifact as the census ([[closedWedgesPre]] holds the
    * degree-orientation + packed-pair expansion + edge-probe plan): each
    * artifact row IS a triangle (apex u, packed id-ordered pair (b, c)),
    * so per-vertex counts fall out of one explode-3 + vertex-sized
    * aggregate over a pre-computed scan. The coefficient
    * 2·tri(v) / (deg(v)·(deg(v)−1)) computes its one float at the end from
    * exact integers.
    *
    * 100 TB shape: the O(m^1.5) wedge work is paid ONCE per data version
    * at artifact build (probed map-side within broadcast reach; past it
    * the SHUFFLE_HASH fallback — never sort the wedge stream); the query
    * scans only closed wedges (triangle count, far smaller), and the
    * aggregate + top-20 are vertex-sized then TakeOrdered. */
  val graphClusteringCoeff: Q = (s, d) => {
    val deg = degTable(s, d)
    val closed = graft.plans.ArtifactCache.readParquet(s, s"${closedWedgesPath(s, d)}/wedges")
    // explode-3 in ONE pass over the closed wedges — the union-of-three
    // spelling re-derived the whole wedge expansion + probe per branch
    // (3× the census cost; measured 14.0 vs 9.7 s for the census at sf1)
    val tri = closed.select(explode(array(col("u"),
        shiftright(col("p"), 32),
        col("p").bitwiseAND(lit(0xFFFFFFFFL)))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("n_triangles"))
    tri.join(deg, "v")
      .select(col("v"), col("degree"), col("n_triangles"),
        round((lit(2.0) * col("n_triangles")) /
          (col("degree") * (col("degree") - 1)), 6).as("clustering_coeff"))
      .orderBy(col("n_triangles").desc, col("v"))
      .limit(20)
  }

  /** Modularity of the brand partition of the co-occurrence graph: do parts
    * of the same brand co-occur more than a degree-preserving random graph
    * predicts? Q = intra/m − Σ_c (d_c / 2m)², communities = `p_brand`.
    * All moments exact (HUGEINT-class decimals for Σd_c²); ONE float
    * expression at the end with identical text in the oracle.
    *
    * 100 TB shape: the part dimension broadcasts to both endpoint probes
    * (the same two-sided vertex annotation as assortativity); the edge set
    * streams through one map-side-combined aggregate; the per-community
    * degree table is |brands|-sized. No edge-keyed shuffle at all. */
  val graphModularity: Q = (s, d) =>
    graphModularityImpl(s, d, Limits.maxBroadcastVertices)

  private[graft] def graphModularityImpl(s: SparkSession, d: String,
      maxBcVerts: Long): DataFrame = {
    val dec = DecimalType(38, 0)
    val e = edges(s, d)
    val brand = Tables.load(s, d, "part")
      .select(col("p_partkey").as("v"), col("p_brand").as("brand"))
    // the brand table scales with the part DIMENSION (the vertex
    // universe's superset) — size-gated on the part count ([[gatedBc]])
    val small = partDimCount(s, d) <= maxBcVerts
    val deg = degTable(s, d)
    val eb = e
      .join(gatedBc(brand.select(col("v").as("a"), col("brand").as("ba")), small), "a")
      .join(gatedBc(brand.select(col("v").as("b"), col("brand").as("bb")), small), "b")
    val mIntra = eb.agg(
      count(lit(1)).as("m"),
      sum(when(col("ba") === col("bb"), 1L).otherwise(0L)).as("intra_edges"))
    val comm = deg.join(gatedBc(brand, small), "v")
      .groupBy(col("brand")).agg(sum(col("degree")).cast(dec).as("dc"))
    val sumd2 = comm.agg(
      count(lit(1)).as("n_communities"),
      sum(col("dc") * col("dc")).as("sd2"))
    mIntra.crossJoin(sumd2)
      .select(col("m"), col("intra_edges"), col("n_communities"),
        round(col("intra_edges").cast(DoubleType) / col("m") -
          col("sd2").cast(DoubleType) / (lit(4.0) * col("m") * col("m")),
          6).as("modularity"))
  }

  /** Synchronous label-propagation rounds — bounded at
    * [[labelPropRounds]] so the DuckDB oracle can replay each round as a
    * chained CTE (the [[graphLouvainMove]] posture: a FIXED number of
    * exactly-specified rounds, not a run-to-convergence heuristic). */
  val labelPropRounds = 2

  /** One synchronous round: every vertex adopts the most frequent label
    * among its neighbours, ties broken by the SMALLEST label — the
    * deterministic variant of Raghavan et al. 2007's LPA (the async,
    * random-order original is irreproducible across engines by design).
    * The neighbour labels arrive by probing the PACKED adjacency with the
    * vertex-sized label state (gated broadcast vs shuffle-hash — the
    * [[componentsPropagate]] shape; ~nv chunk probes instead of a 2m-row
    * edge join per round) and explode-fanning to the vote. The majority
    * vote is `min_by` over (−cnt, lbl) — a second PARTIAL aggregate, not a
    * rank window: no per-vertex sort, and both phases map-side combine
    * (the ladder showed the window spelling paying a per-round sort over
    * the degree-bounded vote frame). Extracted so PlanSpec can pin the
    * round's physical shape. */
  private[graft] def labelPropRound(adj: DataFrame, labels: DataFrame,
      small: Boolean = true): DataFrame =
    adj.join(gatedBc(labels.select(col("v").as("src"), col("lbl")), small),
        Seq("src"))
      .select(explode(col("dsts")).as("v"), col("lbl"))
      .groupBy(col("v"), col("lbl")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("v"))
      .agg(min_by(col("lbl"), struct((-col("cnt")).as("nc"), col("lbl")))
        .as("lbl"))

  /** Round 1 of identity-seeded LPA, algebraically collapsed: with every
    * vertex carrying its own id, a vertex's neighbour labels are exactly
    * its neighbour ids — all distinct, so every vote ties at count 1 and
    * the (−cnt, lbl) argmin degenerates to "adopt the smallest neighbour
    * id". On the SYMMETRIC packed adjacency that is `min(array_min(dsts))`
    * per src — one map-side-combinable aggregate over the ~nv chunk rows,
    * no state join, no explode, no two-phase vote. Bit-identical to
    * `labelPropRound(adj, identitySeed)` (spec-pinned,
    * RoundTwelveSpec) and measured 2× cheaper than it at sf0.1
    * (0.32 vs 0.66 s — ProfileLp); at 10⁹ vertices the saving is a full
    * 2m-row explode+vote exchange per run. Rounds ≥ 2 carry genuine
    * majority votes and cannot collapse this way. */
  private[graft] def labelPropFirstRound(adj: DataFrame): DataFrame =
    adj.groupBy(col("src").as("v"))
      .agg(min(array_min(col("dsts"))).as("lbl"))

  /** Community detection by [[labelPropRounds]] synchronous LPA rounds
    * over the co-occurrence graph, each vertex seeded with its own id.
    * Output: (v, lbl, community_size) per vertex. Round 1 degenerates to
    * "adopt the smallest neighbour id" (all neighbour labels are
    * distinct, so every count ties at 1); round 2 is the first true
    * majority vote — communities emerge where low-id vertices anchor
    * dense neighbourhoods.
    *
    * 100 TB shape, per round: one gated probe of the packed-adjacency
    * artifact by the vertex-sized label state, one (v, lbl) partial
    * count whose width is bounded by degree, and the min_by argmin —
    * never a window over the edge stream. `localCheckpoint` per round
    * keeps the plan constant-depth (the [[graphKcore]] convention), so
    * rounds never compound into a lineage explosion. */
  val graphLabelProp: Q = (s, d) =>
    graphLabelPropImpl(s, d, Limits.maxBroadcastVertices,
      bucketed = labelPropUseBucketed(s, d))

  /** Layout gate for the LPA vote — [[componentsUseBucketed]]'s
    * convention at the lower crossover LPA measures
    * ([[Limits.labelPropBucketedBound]]: both rounds group by the
    * bucketing key, so the pre-hashed scan pays off earlier). */
  private[graft] def labelPropUseBucketed(s: SparkSession, d: String): Boolean =
    vertexBound(s, d) > Limits.labelPropBucketedBound

  private[graft] def graphLabelPropImpl(s: SparkSession, d: String,
      maxBcVerts: Long, bucketed: Boolean = false): DataFrame = {
    val adjBase = packedAdjPath(s, d)
    // bucketed mode reads the pre-hashed catalog adjacency (the
    // graphComponentsImpl convention): the per-round state probe plans
    // with zero exchange on the adjacency side, and round 1's
    // neighbour-min aggregate groups by the bucketing key itself
    val adj =
      if (bucketed) s.table(bucketedAdjTable(s, d))
      else graft.plans.ArtifactCache.readParquet(s, s"$adjBase/adj")
    val small = !bucketed && vertexBound(s, d) <= maxBcVerts
    // round 1 collapses to the neighbour-min aggregate (identity seed ⇒
    // all votes tie — [[labelPropFirstRound]]); the degree table's vertex
    // universe is exactly adj's src set (symmetric adjacency, no isolated
    // vertices), so no seed frame is needed
    var labels: DataFrame = null
    noSweepAqe(s) {
      labels = labelPropFirstRound(adj).sweepCheckpoint()
      for (_ <- 2 to labelPropRounds) {
        val next = labelPropRound(adj, labels, small).sweepCheckpoint()
        graft.plans.Checkpoints.release(labels)
        labels = next
      }
    }
    labels
      .withColumn("community_size",
        count(lit(1)).over(Window.partitionBy(col("lbl"))))
      .orderBy(col("v"))
  }

  /** One BFS level over the PACKED adjacency: frontier probes the chunked
    * adjacency on src (gated broadcast vs shuffle-hash), neighbors fan out
    * through explode, minus everything visited. Extracted so PlanSpec can
    * pin the round's physical shape — the per-round `localCheckpoint` in
    * [[graphBfs]] hides the round subplan from any outer explain. */
  private[graft] def bfsRound(adj: DataFrame, frontier: DataFrame,
      visited: DataFrame, k: Int, small: Boolean = true): DataFrame =
    adj.join(gatedBc(frontier.select(col("v").as("src")), small), Seq("src"))
      .select(explode(col("dsts")).as("v")).distinct()
      .join(gatedBc(visited.select(col("v")), small), Seq("v"), "left_anti")
      .select(col("v"), lit(k.toLong).as("dist"))

  val queries: Map[String, Q] = Map(
    "graph_degree" -> graphDegree,
    "graph_degree_dist" -> graphDegreeDist,
    "graph_triangles" -> graphTriangles,
    "graph_components" -> graphComponents,
    "graph_common_neighbors" -> graphCommonNeighbors,
    "graph_jaccard" -> graphJaccard,
    "graph_weak_ties" -> graphWeakTies,
    "graph_kcore" -> graphKcore,
    "basket_rules" -> basketRules,
    "graph_pagerank" -> graphPagerank,
    "graph_bfs" -> graphBfs,
    "graph_assortativity" -> graphAssortativity,
    "graph_clustering_coeff" -> graphClusteringCoeff,
    "graph_modularity" -> graphModularity,
    "graph_eigencentrality" -> graphEigencentrality,
    "graph_random_walk" -> graphRandomWalk,
    "graph_louvain_move" -> graphLouvainMove,
    "graph_closeness" -> graphCloseness,
    "graph_label_prop" -> graphLabelProp,
  )

  /** Shared edge/degree CTEs: DuckDB derives the same distinct (a < b)
    * co-occurrence edges by per-order self-join (equivalent to the
    * pair-expansion spelling for a DISTINCT result). */
  private val edgeCtes: String =
    """e AS (SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
            FROM lineitem x JOIN lineitem y
              ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
       deg AS (SELECT v, COUNT(*) AS degree
               FROM (SELECT a AS v FROM e UNION ALL SELECT b FROM e)
               GROUP BY v)"""

  val oracle: Map[String, String] = Map(
    "graph_degree" ->
      s"""WITH $edgeCtes
         SELECT v, degree FROM deg ORDER BY v""",
    "graph_degree_dist" ->
      s"""WITH $edgeCtes
         SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_vertices
         FROM deg GROUP BY degree ORDER BY degree""",
    "graph_assortativity" ->
      s"""WITH $edgeCtes,
         sym AS (SELECT a AS src, b AS dst FROM e
                 UNION ALL SELECT b, a FROM e),
         jd AS (SELECT dj.degree AS j, dk.degree AS k
                FROM sym JOIN deg dj ON dj.v = sym.src
                         JOIN deg dk ON dk.v = sym.dst),
         agg AS (SELECT CAST(COUNT(*) AS HUGEINT) AS m,
                        SUM(CAST(j AS HUGEINT) * k) AS sjk,
                        SUM(CAST(j AS HUGEINT)) AS sj,
                        SUM(CAST(j AS HUGEINT) * j) AS sj2
                 FROM jd)
         SELECT CAST(m AS BIGINT) AS m,
           round(CAST(m * sjk - sj * sj AS DOUBLE)
                 / CAST(m * sj2 - sj * sj AS DOUBLE), 6) AS assortativity
         FROM agg""",
    "graph_bfs" ->
      s"""WITH $edgeCtes,
         sym AS (SELECT a AS src, b AS dst FROM e
                 UNION ALL SELECT b, a FROM e),
         seeds AS (SELECT v FROM (SELECT a AS v FROM e UNION ALL SELECT b FROM e)
                   GROUP BY v ORDER BY v LIMIT $bfsSeedCount),
         bfs AS (
           WITH RECURSIVE w(v, dist) AS (
             SELECT v, 0 FROM seeds
             UNION
             SELECT s.dst, w.dist + 1 FROM w JOIN sym s ON w.v = s.src
             WHERE w.dist < $bfsDepth
           )
           SELECT v, MIN(dist) AS dist FROM w GROUP BY v)
         SELECT CAST(dist AS BIGINT) AS dist,
                CAST(COUNT(*) AS BIGINT) AS n_vertices
         FROM bfs GROUP BY dist ORDER BY dist""",
    "graph_triangles" ->
      s"""WITH $edgeCtes,
         o AS (SELECT CASE WHEN (da.degree, e.a) < (db.degree, e.b)
                           THEN e.a ELSE e.b END AS u,
                      CASE WHEN (da.degree, e.a) < (db.degree, e.b)
                           THEN e.b ELSE e.a END AS v
               FROM e JOIN deg da ON da.v = e.a JOIN deg db ON db.v = e.b),
         tri AS (SELECT COUNT(*) AS n_triangles
                 FROM o e1 JOIN o e2 ON e1.v = e2.u
                           JOIN o e3 ON e3.u = e1.u AND e3.v = e2.v)
         SELECT (SELECT COUNT(*) FROM deg) AS n_vertices,
                (SELECT COUNT(*) FROM e)   AS n_edges,
                (SELECT CAST(SUM(degree * (degree - 1)) AS BIGINT) // 2
                   FROM deg)               AS n_wedges,
                (SELECT n_triangles FROM tri) AS n_triangles""",
    "graph_clustering_coeff" ->
      s"""WITH $edgeCtes,
         o AS (SELECT CASE WHEN (da.degree, e.a) < (db.degree, e.b)
                           THEN e.a ELSE e.b END AS u,
                      CASE WHEN (da.degree, e.a) < (db.degree, e.b)
                           THEN e.b ELSE e.a END AS v
               FROM e JOIN deg da ON da.v = e.a JOIN deg db ON db.v = e.b),
         tri3 AS (SELECT w1.u AS u, w1.v AS b, w2.v AS c
                  FROM o w1 JOIN o w2 ON w1.u = w2.u AND w1.v < w2.v
                  WHERE EXISTS (SELECT 1 FROM e
                                WHERE e.a = w1.v AND e.b = w2.v)),
         pv AS (SELECT v, COUNT(*) AS n_triangles FROM (
                  SELECT u AS v FROM tri3
                  UNION ALL SELECT b FROM tri3
                  UNION ALL SELECT c FROM tri3)
                GROUP BY v)
         SELECT pv.v, deg.degree, CAST(pv.n_triangles AS BIGINT) AS n_triangles,
           round((2.0 * pv.n_triangles) / (deg.degree * (deg.degree - 1)), 6)
             AS clustering_coeff
         FROM pv JOIN deg ON deg.v = pv.v
         ORDER BY n_triangles DESC, pv.v LIMIT 20""",
    "graph_modularity" ->
      s"""WITH $edgeCtes,
         eb AS (SELECT e.a, e.b, pa.p_brand AS ba, pb.p_brand AS bb
                FROM e JOIN part pa ON pa.p_partkey = e.a
                       JOIN part pb ON pb.p_partkey = e.b),
         mi AS (SELECT CAST(COUNT(*) AS BIGINT) AS m,
                       CAST(SUM(CASE WHEN ba = bb THEN 1 ELSE 0 END) AS BIGINT)
                         AS intra_edges
                FROM eb),
         comm AS (SELECT p.p_brand, CAST(SUM(deg.degree) AS HUGEINT) AS dc
                  FROM deg JOIN part p ON p.p_partkey = deg.v
                  GROUP BY p.p_brand),
         sd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
                       SUM(dc * dc) AS sd2
                FROM comm)
         SELECT m, intra_edges, n_communities,
           round(CAST(intra_edges AS DOUBLE) / m
                 - CAST(sd2 AS DOUBLE) / (4.0 * m * m), 6) AS modularity
         FROM mi, sd""",
    "graph_components" ->
      s"""WITH $edgeCtes,
         sym AS (SELECT a AS src, b AS dst FROM e
                 UNION ALL SELECT b, a FROM e),
         cc AS (
           WITH RECURSIVE walk(v, lbl) AS (
             SELECT DISTINCT src, src FROM sym
             UNION
             SELECT s.dst, w.lbl FROM walk w JOIN sym s ON w.v = s.src
           )
           SELECT v, MIN(lbl) AS component FROM walk GROUP BY v)
         SELECT v, component FROM cc ORDER BY v""",
    "graph_common_neighbors" ->
      s"""WITH $edgeCtes,
         adj AS (SELECT a AS w, b AS n FROM e UNION ALL SELECT b, a FROM e),
         kept AS (SELECT w FROM adj GROUP BY w
                  HAVING COUNT(*) <= $wedgeDegreeCap),
         cn AS (SELECT x.n AS a, y.n AS b, COUNT(*) AS common_neighbors
                FROM adj x JOIN adj y ON x.w = y.w AND x.n < y.n
                WHERE x.w IN (SELECT w FROM kept)
                GROUP BY x.n, y.n)
         SELECT a, b, common_neighbors FROM cn
         WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = cn.a AND e.b = cn.b)
         ORDER BY common_neighbors DESC, a, b LIMIT 20""",
    "graph_kcore" -> {
      // the engine's rounds, unrolled: same degree + keep-set + restrict
      val rounds = (1 to kcoreRounds).map { i =>
        val p = i - 1
        s"""d$p AS (SELECT v, COUNT(*) AS degree
              FROM (SELECT a AS v FROM e$p UNION ALL SELECT b FROM e$p)
              GROUP BY v),
           kv$p AS (SELECT v FROM d$p WHERE degree >= $kcoreK),
           e$i AS (SELECT a, b FROM e$p
                   WHERE a IN (SELECT v FROM kv$p)
                     AND b IN (SELECT v FROM kv$p))"""
      }.mkString(",\n")
      s"""WITH e0 AS (SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
            FROM lineitem x JOIN lineitem y
              ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
         $rounds
         SELECT v, COUNT(*) AS core_degree
         FROM (SELECT a AS v FROM e$kcoreRounds UNION ALL SELECT b FROM e$kcoreRounds)
         GROUP BY v ORDER BY v"""
    },
    "graph_jaccard" ->
      s"""WITH $edgeCtes,
         adj AS (SELECT a AS w, b AS n FROM e UNION ALL SELECT b, a FROM e),
         kept AS (SELECT w FROM adj GROUP BY w
                  HAVING COUNT(*) <= $wedgeDegreeCap),
         cn AS (SELECT x.n AS a, y.n AS b, COUNT(*) AS c
                FROM adj x JOIN adj y ON x.w = y.w AND x.n < y.n
                WHERE x.w IN (SELECT w FROM kept)
                GROUP BY x.n, y.n),
         ds AS (SELECT w AS v, COUNT(*) AS ds FROM adj
                WHERE n IN (SELECT w FROM kept) GROUP BY w)
         SELECT e.a, e.b, cn.c AS common_neighbors,
           round(CAST(cn.c AS DOUBLE) / (da.ds + db.ds - cn.c), 6) AS jaccard
         FROM e JOIN cn ON cn.a = e.a AND cn.b = e.b
         JOIN ds da ON da.v = e.a JOIN ds db ON db.v = e.b
         ORDER BY jaccard DESC, e.a, e.b LIMIT 20""",
    "graph_weak_ties" ->
      s"""WITH $edgeCtes,
         adj AS (SELECT a AS w, b AS n FROM e UNION ALL SELECT b, a FROM e),
         kept AS (SELECT w FROM adj GROUP BY w
                  HAVING COUNT(*) <= $wedgeDegreeCap),
         cn AS (SELECT x.n AS a, y.n AS b, CAST(COUNT(*) AS BIGINT) AS c
                FROM adj x JOIN adj y ON x.w = y.w AND x.n < y.n
                WHERE x.w IN (SELECT w FROM kept)
                GROUP BY x.n, y.n),
         ties AS (SELECT e.a, e.b, COALESCE(cn.c, 0) AS common_neighbors
                  FROM e LEFT JOIN cn ON cn.a = e.a AND cn.b = e.b),
         census AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_bridges
                    FROM ties WHERE common_neighbors = 0)
         SELECT t.a, t.b, CAST(t.common_neighbors AS BIGINT) AS common_neighbors,
           da.degree AS deg_a, db.degree AS deg_b, census.n_bridges
         FROM ties t
         JOIN deg da ON da.v = t.a JOIN deg db ON db.v = t.b
         CROSS JOIN census
         ORDER BY t.common_neighbors, (da.degree + db.degree) DESC, t.a, t.b
         LIMIT 20""",
    "basket_rules" ->
      s"""WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         n_ord AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM op),
         pairs AS (SELECT x.l_partkey AS a, y.l_partkey AS b,
                          COUNT(*) AS n_ab
                   FROM op x JOIN op y
                     ON x.l_orderkey = y.l_orderkey
                    AND x.l_partkey < y.l_partkey
                   GROUP BY 1, 2 HAVING COUNT(*) >= $minRuleSupport),
         item AS (SELECT l_partkey AS v, COUNT(*) AS n_v FROM op GROUP BY 1),
         dir AS (SELECT a AS antecedent, b AS consequent, n_ab FROM pairs
                 UNION ALL SELECT b, a, n_ab FROM pairs)
         SELECT antecedent, consequent, n_ab,
           round(CAST(n_ab AS DOUBLE) / CAST(n_ord.n AS DOUBLE), 6) AS support,
           round(CAST(n_ab AS DOUBLE) / CAST(ia.n_v AS DOUBLE), 6) AS confidence,
           round(CAST(n_ab * n_ord.n AS DOUBLE) /
                 CAST(ia.n_v * ic.n_v AS DOUBLE), 6) AS lift
         FROM dir
         JOIN item ia ON ia.v = dir.antecedent
         JOIN item ic ON ic.v = dir.consequent
         CROSS JOIN n_ord
         ORDER BY lift DESC, antecedent, consequent LIMIT 20""",
    "graph_louvain_move" ->
      s"""WITH $edgeCtes,
         mm AS (SELECT COUNT(*) AS m FROM e),
         sym AS (SELECT a AS v, b AS u FROM e UNION ALL SELECT b, a FROM e),
         ann AS (SELECT sym.v, sym.u, dv.degree AS kv, du.degree AS ku
                 FROM sym JOIN deg dv ON dv.v = sym.v
                          JOIN deg du ON du.v = sym.u),
         rk AS (SELECT v, u AS target, ku, kv,
                  ROW_NUMBER() OVER (PARTITION BY v ORDER BY ku, u) AS rn
                FROM ann),
         lbl AS (SELECT v,
                   CASE WHEN 4 * (SELECT m FROM mm) - 2 * kv * ku > 0
                        THEN target ELSE v END AS lbl
                 FROM rk WHERE rn = 1),
         intra AS (SELECT CAST(SUM(CASE WHEN la.lbl = lb.lbl THEN 1 ELSE 0 END)
                     AS BIGINT) AS intra_edges
                   FROM e JOIN lbl la ON la.v = e.a
                          JOIN lbl lb ON lb.v = e.b),
         comm AS (SELECT l.lbl, CAST(SUM(deg.degree) AS HUGEINT) AS dc
                  FROM lbl l JOIN deg ON deg.v = l.v GROUP BY l.lbl),
         sd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
                  SUM(dc * dc) AS sd2 FROM comm),
         mv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vertices,
                  CAST(SUM(CASE WHEN lbl != v THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_moved FROM lbl),
         k2 AS (SELECT SUM(CAST(degree AS HUGEINT) * degree) AS sk2 FROM deg)
         SELECT n_vertices, n_moved, n_communities, intra_edges,
           round(0.0 - CAST(sk2 AS DOUBLE)
             / (4.0 * (SELECT m FROM mm) * (SELECT m FROM mm)), 6)
             AS modularity_before,
           round((4.0 * (SELECT m FROM mm) * CAST(intra_edges AS DOUBLE)
                  - CAST(sd2 AS DOUBLE))
             / (4.0 * (SELECT m FROM mm) * (SELECT m FROM mm)), 6)
             AS modularity_after
         FROM mv, intra, sd, k2""",
    "graph_closeness" ->
      s"""WITH $edgeCtes,
         sym AS (SELECT a AS src, b AS dst FROM e
                 UNION ALL SELECT b, a FROM e),
         seeds AS (SELECT v FROM (SELECT a AS v FROM e UNION ALL SELECT b FROM e)
                   GROUP BY v ORDER BY v LIMIT $closenessSeedCount),
         bfs AS (
           WITH RECURSIVE w(s0, v, dist) AS (
             SELECT v, v, 0 FROM seeds
             UNION
             SELECT w.s0, s.dst, w.dist + 1 FROM w JOIN sym s ON w.v = s.src
             WHERE w.dist < $bfsDepth
           )
           SELECT s0, v, MIN(dist) AS dist FROM w GROUP BY s0, v)
         SELECT s0 AS source,
           CAST(COUNT(*) AS BIGINT) AS n_reached,
           CAST(SUM(dist) AS BIGINT) AS sum_dist,
           round(CAST(COUNT(*) AS DOUBLE) / SUM(dist), 6) AS closeness,
           CAST(SUM(CAST(round(1.0 / dist, 6) AS DECIMAL(18,6))) AS DOUBLE)
             AS harmonic
         FROM bfs WHERE dist > 0 GROUP BY s0 ORDER BY source""",
    "graph_label_prop" -> {
      val rounds = (1 to labelPropRounds).map { r =>
        s"""n$r AS (SELECT s.v, l.lbl, COUNT(*) AS cnt
             FROM sym s JOIN l${r - 1} l ON s.u = l.v GROUP BY 1, 2),
           l$r AS (SELECT v, lbl FROM (
             SELECT v, lbl, ROW_NUMBER() OVER (
               PARTITION BY v ORDER BY cnt DESC, lbl) AS rn
             FROM n$r) WHERE rn = 1)"""
      }.mkString(",\n")
      s"""WITH $edgeCtes,
         sym AS (SELECT a AS v, b AS u FROM e
                 UNION ALL SELECT b, a FROM e),
         l0 AS (SELECT DISTINCT v, v AS lbl FROM sym),
         $rounds
         SELECT v, lbl,
           CAST(COUNT(*) OVER (PARTITION BY lbl) AS BIGINT)
             AS community_size
         FROM l$labelPropRounds ORDER BY v"""
    },
    "graph_random_walk" -> {
      import graft.functions.PolyHash.{affineSql, P}
      val steps = (0 until walkSteps).map { t =>
        val hmix = s"((f$t.start * 1009 + f$t.cur) % $P)"
        s"""f${t + 1} AS (SELECT f$t.start,
             a.ns[1 + ((${affineSql(t.toString, hmix)}) % a.deg)] AS cur
           FROM f$t JOIN adj a ON a.w = f$t.cur)"""
      }.mkString(",\n")
      val unions = (1 to walkSteps)
        .map(i => s"UNION ALL SELECT cur FROM f$i").mkString(" ")
      s"""WITH $edgeCtes,
         adj AS (SELECT w, list(n ORDER BY n) AS ns, COUNT(*) AS deg
                 FROM (SELECT a AS w, b AS n FROM e
                       UNION ALL SELECT b, a FROM e)
                 GROUP BY w),
         f0 AS (SELECT w AS start, w AS cur FROM adj),
         $steps,
         allv AS (SELECT cur AS v FROM f0 $unions)
         SELECT v, CAST(COUNT(*) AS BIGINT) AS n_visits
         FROM allv GROUP BY v
         ORDER BY n_visits DESC, v LIMIT 20"""
    },
    "graph_eigencentrality" -> {
      // the engine's L∞-rescaled power sweeps, unrolled (the pagerank
      // convention): exact int arithmetic end-to-end, so early/late engine
      // differences are impossible by construction
      val sweeps = (1 to eigenIters).map { i =>
        val p = i - 1
        s"""s$i AS (SELECT sym.dst AS v, SUM(r.r) AS s
             FROM sym JOIN r$p r ON r.v = sym.src GROUP BY sym.dst),
           r$i AS (SELECT v, (s * $eigenScale) // (SELECT MAX(s) FROM s$i)
                     AS r FROM s$i)"""
      }.mkString(",\n")
      s"""WITH $edgeCtes,
         sym AS (SELECT a AS src, b AS dst FROM e
                 UNION ALL SELECT b, a FROM e),
         r0 AS (SELECT v, $eigenScale AS r FROM deg),
         $sweeps
         SELECT v, CAST(r AS BIGINT) AS centrality_scaled,
           round(CAST(r AS DOUBLE) / $eigenScale.0, 6) AS centrality
         FROM r$eigenIters
         ORDER BY centrality_scaled DESC, v LIMIT 20"""
    },
    "graph_pagerank" -> {
      // the engine's sweeps, unrolled programmatically (the kcore
      // convention): each CTE is one exact-integer Jacobi sweep; the
      // engine's early exit at an exact fixpoint cannot diverge from the
      // full unroll (fixpoint sweeps are the identity)
      val sweeps = (1 to pagerankIters).map { i =>
        val p = i - 1
        s"""pr$i AS (SELECT s.dst AS v,
             (15 * ($pagerankScale // (SELECT n FROM nv))) // 100
             + (85 * SUM(p.pr // d.degree)) // 100 AS pr
           FROM sym s
           JOIN pr$p p ON p.v = s.src JOIN deg d ON d.v = s.src
           GROUP BY s.dst)"""
      }.mkString(",\n")
      s"""WITH $edgeCtes,
         sym AS (SELECT a AS src, b AS dst FROM e
                 UNION ALL SELECT b, a FROM e),
         nv AS (SELECT COUNT(*) AS n FROM deg),
         pr0 AS (SELECT v, $pagerankScale // (SELECT n FROM nv) AS pr
                 FROM deg),
         $sweeps
         SELECT v, CAST(pr AS BIGINT) AS pr_scaled,
           round(CAST(pr AS DOUBLE) / 1.0e12, 6) AS pr
         FROM pr$pagerankIters ORDER BY v"""
    },
  )
}
