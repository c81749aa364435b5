package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import OpsFixture.spark

/** Custom expressions must be callable from *task SQL* — the job layer's
  * user surface — like built-ins. */
class FunctionRegistrySpec extends AnyFunSuite {
  test("task SQL can call word_shingles and cosine_similarity end-to-end") {
    val tasksDir = TempDirs.make("fn-tasks")
    Files.writeString(tasksDir.resolve("t.sql"),
      """-- name: shingle_stats
        |SELECT CAST(SUM(size(word_shingles(text, 3))) AS BIGINT) AS total_shingles
        |FROM documents;
        |
        |-- name: self_similarity
        |SELECT vec_id, ROUND(cosine_similarity(embedding, embedding), 6) AS self_cos
        |FROM embeddings WHERE vec_id < 3 ORDER BY vec_id;
        |""".stripMargin)
    val out = TempDirs.make("fn-out").toString
    val core = GraftCore(spark, Seq(tasksDir.toString),
      Map("db" -> TestSpark.sf0001), Map("res" -> out))

    def run(task: String): org.apache.spark.sql.DataFrame = {
      val job = core.postJob(JobReq(task))
      val deadline = System.currentTimeMillis + 60000
      while (core.store.get(job.id).exists(s => s.state != JobState.Success &&
               s.state != JobState.Failure) && System.currentTimeMillis < deadline)
        Thread.sleep(25)
      assert(core.getJobStatus(job.id).state == JobState.Success,
        core.getJobStatus(job.id).toString)
      core.results(job.id)
    }

    assert(run("shingle_stats").head.getLong(0) > 0)
    val cos = run("self_similarity").collect()
    assert(cos.length == 3 && cos.forall(_.getDouble(1) == 1.0),
      "cosine(v, v) must be 1.0")
    core.shutdown()
  }

  test("task functions are registered once per session, not once per Scheduler") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val session = spark.newSession()
    // a registration is its (info, builder) entry; word_shingles's builder
    // captures nothing, so the JVM hands out one instance of it and only
    // the info tells a replaced registration from the first
    def registration = session.sessionState.functionRegistry
      .lookupFunction(FunctionIdentifier("word_shingles"))
    val schedulers = (1 to 3).map { i =>
      val s = new Scheduler(session, new StatusStore)
      if (i == 1) assert(registration.isDefined, "the first Scheduler registers the set")
      s -> registration.get
    }
    try assert(schedulers.forall(_._2 eq schedulers.head._2),
      "a later Scheduler replaced word_shingles on a session that already had it")
    finally schedulers.foreach(_._1.shutdown())
  }
}
