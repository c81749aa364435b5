package graft


import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.GraphOps
import graft.plans.Checkpoints

import OpsFixture._

/** Round-13 specs, closing the round-12 verdict's top directives:
  *
  *   1. The reliable-checkpoint switch is ENGINE-WIDE
  *      ([[Checkpoints.sweep]]): every iterative sweep and multi-consumer
  *      truncation routes through one conf key, so a real-cluster
  *      deployment flips ALL lineage truncations to recoverable
  *      `checkpoint()` blocks (executor loss mid-sweep re-reads the
  *      checkpoint instead of killing the job). Pinned: reliable mode
  *      actually writes checkpoint files, results are bit-identical
  *      across modes end-to-end through a real multi-round sweep, the
  *      round-12 dedup-scoped key still works as an alias, and a missing
  *      checkpoint dir fails with the deployment message.
  *   2. `graph_components` round 1 rides the identity-seed collapse
  *      ([[GraphOps.componentsFirstPropagate]] — the labelPropFirstRound
  *      algebra): the first neighbour-min is `min(array_min(dsts))` per
  *      src, no seed frame / state join / explode. Pinned: bit-identity
  *      to the general propagate on the identity seed, a join-free
  *      single-exchange plan, and end-to-end agreement with a driver-side
  *      union-find oracle.
  */
class RoundThirteenSpec extends AnyFunSuite {
  /** A session whose SQLConf flips the sweep mode without touching the
    * suite-shared session (newSession shares the SparkContext — and thus
    * the checkpoint dir — but owns its conf, exactly the isolation the
    * per-DataFrame `df.sparkSession.conf` read in [[Checkpoints]] keys
    * off). */
  private def sessionWith(key: String): SparkSession = {
    val s2 = spark.newSession()
    s2.conf.set(key, "true")
    s2
  }

  // --------------- 1. engine-wide reliable-checkpoint switch

  /** Raw set/clear of the shared context's checkpoint dir (private[spark]
    * var, public at bytecode level). The public API can only SET a dir —
    * never clear one — so without this the no-dir fail-fast test only ran
    * when it happened to execute first, and the alias test NPE'd when run
    * alone (the order coupling the r13 ADVICE flagged). Test-only. */
  private def setRawCheckpointDir(v: Option[String]): Unit = {
    // Spark-version coupling, stated plainly on failure: the lookup
    // targets the bytecode setter of SparkContext's `private[spark] var
    // checkpointDir` (public at bytecode level in Spark 4.1). A Spark
    // upgrade that renames or encapsulates the field lands here, not in
    // an opaque NoSuchMethodException ten frames deep.
    val m = try classOf[org.apache.spark.SparkContext]
      .getMethod("checkpointDir_$eq", classOf[Option[_]])
    catch {
      case e: NoSuchMethodException => fail(
        "SparkContext no longer exposes the bytecode setter " +
          "`checkpointDir_$eq(Option)` this test-only helper reflects on " +
          "(present through Spark 4.1). Update setRawCheckpointDir for " +
          "the new SparkContext internals or drop the clear-dir tests.", e)
    }
    m.invoke(spark.sparkContext, v)
  }

  /** Each checkpoint test ensures its own dir instead of relying on a
    * sibling having set one (order independence). */
  private def ensureCkDir(): String = {
    if (spark.sparkContext.getCheckpointDir.isEmpty)
      spark.sparkContext.setCheckpointDir(
        TempDirs.make("graft-ck-").toFile.getAbsolutePath)
    spark.sparkContext.getCheckpointDir.get
  }

  test("Checkpoints.sweep: reliable mode without a checkpoint dir fails " +
      "with the deployment message") {
    val saved = spark.sparkContext.getCheckpointDir
    setRawCheckpointDir(None)
    try {
      val s2 = sessionWith(Checkpoints.ReliableKey)
      val e = intercept[IllegalArgumentException] {
        Checkpoints.sweep(s2.range(10).toDF("id"))
      }
      assert(e.getMessage.contains("setCheckpointDir"), e.getMessage)
    } finally setRawCheckpointDir(saved)
  }

  test("Checkpoints.sweep: default mode stays executor-local (no files), " +
      "reliable mode writes checkpoint blocks; rows identical") {
    // own a fresh dir for this test (order independence); ensureCkDir is
    // not enough here because the file-count assertions need an empty dir
    val ckDir = TempDirs.make("graft-ck-").toFile
    spark.sparkContext.setCheckpointDir(ckDir.getAbsolutePath)
    def files(): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(walk).sum else 1
      walk(ckDir)
    }
    val before = files()
    val local = Checkpoints.sweep(spark.range(100).toDF("id"))
    assert(local.count() == 100)
    assert(files() == before, "default mode must not touch the reliable dir")
    val s2 = sessionWith(Checkpoints.ReliableKey)
    val reliable = Checkpoints.sweep(s2.range(100).toDF("id"))
    assert(reliable.count() == 100)
    assert(files() > before, "reliable mode must land blocks in the dir")
    assert(reliable.collect().map(_.getLong(0)).sorted.toSeq ==
      local.collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("Checkpoints.sweep: the removed round-12 dedup-scoped key fails " +
      "fast and names its replacement") {
    // a deployment that still sets the old key must hear about it rather
    // than quietly fall back to localCheckpoint
    val s2 = sessionWith("graft.cc.reliableCheckpoint")
    for (truncate <- Seq[org.apache.spark.sql.DataFrame => Any](
        Checkpoints.sweep(_), Checkpoints.pin(_))) {
      val e = intercept[IllegalArgumentException] {
        truncate(s2.range(50).toDF("id"))
      }
      assert(e.getMessage.contains("graft.cc.reliableCheckpoint") &&
        e.getMessage.contains(Checkpoints.ReliableKey), e.getMessage)
    }
  }

  test("graph_components: bit-identical between local and reliable sweep " +
      "modes through the whole multi-round sweep") {
    ensureCkDir() // reliable mode needs a dir regardless of test order
    val base = GraphOps.queries("graph_components")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val s2 = sessionWith(Checkpoints.ReliableKey)
    val rel = GraphOps.queries("graph_components")(s2, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rel == base,
      "flipping the sweep mode must not change any result bit")
    assert(base.nonEmpty)
  }

  // --------------- layout gate: components flips to bucketed past the
  // measured crossover (Limits.componentsBucketedBound; A/B in SCALE.md)

  test("componentsUseBucketed: small fixtures stay on the broadcast gate; " +
      "the bound sits between the measured crossover rungs") {
    assert(!GraphOps.componentsUseBucketed(spark, dir),
      "sf0.001's vertex bound is far below the crossover")
    // measured: broadcast wins at a 2.39M bound (sf0.1), bucketed from
    // 4.78M (sf0.2) up — the gate constant must sit in that window so
    // both measured regimes keep their winning layout
    assert(graft.Limits.componentsBucketedBound > 2390000L)
    assert(graft.Limits.componentsBucketedBound < 4780000L)
  }

  // --------------- 3. re-derivation audit: the resolved-clusters artifact

  test("ngram_clusters artifact: scan is bit-identical to a fresh " +
      "resolveClusters fixpoint over the pair artifact") {
    import graft.operators.DedupOps
    val pairs = spark.read
      .parquet(s"${DedupOps.ngramPairsPath(spark, dir)}/pairs")
    val fresh = DedupOps.resolveClusters(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val art = spark.read
      .parquet(s"${DedupOps.ngramClustersPath(spark, dir)}/clusters")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(art == fresh,
      "the materialized cluster labels must equal the per-query fixpoint " +
        "they replaced (dedup_clusters / cluster_stats / keep_best)")
  }

  // --------------- assortativity: the vertex-moment re-derivation

  test("graph_assortativity: vertex-moment spelling is bit-identical to " +
      "the two-endpoint-probe spelling") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val dec = DecimalType(38, 0)
    val got = GraphOps.queries("graph_assortativity")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // the pre-r13 spelling: symmetric edge list, both endpoints probed
    val e = spark.read.parquet(s"${GraphOps.edgesPath(spark, dir)}/edges")
    val sym = e.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(e.select(col("b").as("src"), col("a").as("dst")))
    val deg = spark.read
      .parquet(s"${GraphOps.packedAdjPath(spark, dir)}/deg")
    val old = sym
      .join(broadcast(deg.select(col("v").as("src"), col("degree").as("j"))), "src")
      .join(broadcast(deg.select(col("v").as("dst"), col("degree").as("k"))), "dst")
      .agg(count(lit(1)).as("m"),
        sum((col("j") * col("k")).cast(dec)).as("sjk"),
        sum(col("j").cast(dec)).as("sj"),
        sum((col("j") * col("j")).cast(dec)).as("sj2"))
      .select(col("m"),
        round((col("m").cast(dec) * col("sjk") - col("sj") * col("sj")).cast(DoubleType) /
          (col("m").cast(dec) * col("sj2") - col("sj") * col("sj")).cast(DoubleType),
          6).as("assortativity"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == old,
      "moment re-derivation must reproduce the probe spelling exactly " +
        "(decimal sums are order-insensitive)")
  }

  // --------------- text_bpe_pairs: the word-histogram fold

  test("text_bpe_pairs: distinct-word fold is bit-identical to the " +
      "per-occurrence spelling (sum(m) == count over occurrences)") {
    import org.apache.spark.sql.functions._
    val got = graft.operators.TextOps.queries("text_bpe_pairs")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // per-occurrence replay, the pre-r13 spelling
    val occ = graft.Tables.load(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .select(graft.functions.BpeTable.bpe_tokens(col("w"),
        graft.functions.BpeTable.charPairRules).as("ss"))
      .filter(size(col("ss")) >= 2)
      .select(explode(expr("transform(sequence(1, size(ss) - 1), " +
        "i -> concat(element_at(ss, i), ' ', element_at(ss, i + 1)))")).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair")).limit(20)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == occ, "the word-histogram fold must reproduce the " +
      "per-occurrence pair counts exactly (same top-20, same order)")
    assert(got.nonEmpty)
  }

  // --------------- fingerprint mirrors on the degenerate input

  test("dataFingerprint: Scala and tools/fixture_fp.py agree on a MISSING " +
      "dir (both hash zero entries — the r12 advice divergence)") {
    val gone = "/tmp/graft-no-such-fixture-dir"
    assert(!new java.io.File(gone).exists())
    val scalaFp = graft.plans.ArtifactCache.dataFingerprint(gone)
    val pyFp = scala.sys.process.Process(
      Seq("python3", "tools/fixture_fp.py", gone)).!!.trim
    assert(scalaFp == pyFp,
      s"mirrors diverged on a missing dir: scala=$scalaFp python=$pyFp")
  }

  // --------------- 2. components round 1: the algebraic collapse

  test("componentsFirstPropagate: bit-identical to the general propagate " +
      "on the identity seed") {
    val adjBase = GraphOps.packedAdjPath(spark, dir)
    val adj = spark.read.parquet(s"$adjBase/adj")
    val seed = spark.read.parquet(s"$adjBase/deg")
      .select(col("v"), col("v").as("lbl"))
    val general = GraphOps.componentsPropagate(adj, seed, small = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val collapsed = GraphOps.componentsFirstPropagate(adj)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(collapsed == general,
      "round-1 collapse must reproduce the join+explode propagate exactly")
    assert(collapsed.nonEmpty)
  }

  test("componentsFirstPropagate: join-free plan, one aggregate exchange, " +
      "no explode") {
    val adj = spark.read.parquet(
      s"${GraphOps.packedAdjPath(spark, dir)}/adj")
    val plan = fmt(GraphOps.componentsFirstPropagate(adj))
    assert(!plan.contains("Join"),
      s"round 1 must not join the seed state:\n$plan")
    assert(!plan.contains("Explode") && !plan.contains("Generate"),
      s"round 1 must not fan the adjacency out:\n$plan")
    assert(nonBroadcastExchanges(plan) == 1,
      s"one partial->final aggregate exchange expected:\n$plan")
    assert(plan.contains("array_min"), plan)
  }

  test("graph_components: end-to-end labels agree with a driver-side " +
      "union-find over the raw edge artifact") {
    val edges = spark.read
      .parquet(s"${GraphOps.edgesPath(spark, dir)}/edges")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra max rb) = ra min rb
    }
    // component id = min vertex id of the component (min-propagation's
    // fixpoint); union-find roots follow min via the ordered union above
    val got = GraphOps.queries("graph_components")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val verts = edges.flatMap(e => Seq(e._1, e._2)).toSet
    assert(got.keySet == verts)
    verts.foreach(v => assert(got(v) == find(v),
      s"vertex $v: engine ${got(v)}, union-find ${find(v)}"))
  }
}
