package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import OpsFixture._

/** Round-5 regression specs: queries must be LAZY plans (constructing one
  * runs no ad-hoc Spark job) and pay-once artifacts must actually be
  * pay-once (re-requesting one triggers no rebuild). Both properties are
  * invisible to the value-level oracle — a query that eagerly scans the
  * corpus at construction time still returns the right rows — but at 100 TB
  * an extra corpus pass per invocation is the difference between a plan and
  * an outage.
  */
class RoundFiveOpsSpec extends AnyFunSuite {
  private val sf = TestSpark.sf001

  /** Stage names of Spark jobs started while `body` runs. Listener delivery
    * is asynchronous, so settle briefly before reading. */
  private def jobsDuring[A](body: => A): (A, Seq[String]) = {
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        names.add(js.stageInfos.map(_.name).mkString(" | "))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val a = body
      Thread.sleep(500) // listener bus settle
      (a, scala.jdk.CollectionConverters.IteratorHasAsScala(names.iterator()).asScala.toSeq)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("text_keywords construction is lazy: building the plan runs no Spark job") {
    Tables.load(spark, sf, "documents") // table plans memoize once per session
    val (df, jobs) = jobsDuring { SparkEntry.queries("text_keywords")(spark, sf) }
    assert(jobs.isEmpty, s"plan construction ran ${jobs.size} Spark job(s): $jobs")
    // and the folded-in scalar is genuinely in the plan: executing it works
    assert(df.limit(1).collect().nonEmpty)
  }

  test("no query runs an ad-hoc job at construction (declared materializations only)") {
    // Constructing a query may only start jobs of these shapes:
    //  - "parquet/csv/json/orc at ...": reader creation (footer listing /
    //    schema-on-read inference; memoized per session by Tables.load)
    //  - "localCheckpoint at ...": a declared pipeline-stage materialization
    //    (candidate sets, signature tables — the materialize-once pattern)
    //  - "start at ...": the stream_* queries — a batch-visible result of a
    //    structured stream IS the stream's execution to a memory sink
    //  - "saveAsTable at ...": the bucketed-layout pay-once artifact build
    //  - "jdbc at SourceFormatOps...": source_jdbc_scan's pay-once-per-JVM
    //    load of the embedded source DB (memory-backed, so it cannot be an
    //    ArtifactCache artifact; the memo makes the second construction
    //    job-free — asserted below)
    //  - ArtifactCache builds surface through the reader/writer shapes above.
    // Anything else — an eager count()/collect()/head() in a query builder —
    // is the text_keywords bug class and fails here.
    //  - "collect at SimilarityOps": embedding_pca_top's moment reduction —
    //    the kmeans-class BOUNDED driver round-trip (#chunks × d²/2 longs,
    //    require()d against Limits.maxDriverCentroids); the d×d power
    //    iteration that follows is driver-side by design.
    //  - "sweep at GraphOps": the loop-family convergence/materialization
    //    actions — iterative queries execute their DECLARED sweeps at
    //    construction; noSweepAqe names those jobs explicitly (before the
    //    r16 AQE change they hid under withThreadLocalCaptured)
    val allowed = Seq("parquet at ", "csv at ", "json at ", "orc at ",
      "localCheckpoint at ", "start at ", "saveAsTable at ",
      "jdbc at SourceFormatOps", "collect at SimilarityOps",
      "sweep at GraphOps", "$anonfun$withThreadLocalCaptured")
    val (_, jobs) = jobsDuring {
      SparkEntry.queries.foreach { case (_, fn) => fn(spark, sf) }
    }
    val adHoc = jobs.filterNot(n => allowed.exists(n.contains))
    assert(adHoc.isEmpty, s"ad-hoc jobs at query construction: $adHoc")
  }

  test("source_jdbc_scan's embedded DB load is pay-once per JVM") {
    SparkEntry.queries("source_jdbc_scan")(spark, sf) // loads or reuses
    val (_, jobs) = jobsDuring { SparkEntry.queries("source_jdbc_scan")(spark, sf) }
    assert(!jobs.exists(_.contains("jdbc at ")),
      s"second construction re-ran the JDBC load: $jobs")
  }

  test("corpus band index is pay-once: second request triggers no rebuild and no job") {
    val first = operators.DedupOps.corpusIndexPath(spark, sf) // builds or reuses
    val before = plans.ArtifactCache.builds.get()
    val (second, jobs) = jobsDuring { operators.DedupOps.corpusIndexPath(spark, sf) }
    assert(second == first)
    assert(plans.ArtifactCache.builds.get() == before, "cached corpus index was rebuilt")
    assert(jobs.isEmpty, s"cached corpus index ran Spark job(s): $jobs")
  }

  test("driver-collect caps fail fast on oversized k/nlist/nprobe") {
    val emb = Tables.load(spark, sf, "embeddings")
    intercept[IllegalArgumentException] {
      plans.IvfIndex.build(emb, graft.Limits.maxDriverCentroids + 1, "/tmp/never-written")
    }
    intercept[IllegalArgumentException] {
      plans.IvfIndex.search(spark, operators.SimilarityOps.ivfIndexPath(spark, sf),
        emb.limit(1).select(col("embedding").as("qv")),
        nprobe = graft.Limits.maxDriverCentroids + 1, k = 5)
    }
  }

  test("dedup_incremental reuses the persisted corpus index (no rebuild per run)") {
    SparkEntry.queries("dedup_incremental")(spark, sf) // warm: builds the index
    val before = plans.ArtifactCache.builds.get()
    val df = SparkEntry.queries("dedup_incremental")(spark, sf)
    assert(plans.ArtifactCache.builds.get() == before,
      "steady-state incremental run rebuilt the corpus band index")
    // semantic smoke on top of the oracle: output pairs batch docs (src0)
    // against corpus docs only
    val srcs = Tables.load(spark, sf, "documents").select(col("doc_id"), col("source"))
    val bad = df.join(srcs.withColumnRenamed("doc_id", "batch_id"), "batch_id")
      .filter(col("source") =!= "src0").count()
    assert(bad == 0, s"$bad result rows whose batch_id is not from src0")
  }
}
