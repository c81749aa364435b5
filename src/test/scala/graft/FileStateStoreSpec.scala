package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** [[FileJobStateStore]] (the shared-directory control plane) under the
  * [[StateStoreContract]]: two independent store instances over the same
  * directory stand in for two server processes sharing state, the
  * reference's N-instances-one-Redis topology. */
class FileStateStoreSpec extends AnyFunSuite with StateStoreContract {

  protected def withStores[A](f: (JobStateStore, JobStateStore) => A): A = {
    val dir = TempDirs.make("graft-fss").toFile
    f(new FileJobStateStore(dir), new FileJobStateStore(dir))
  }

  override protected def storeNames: Map[String, String] = Map(
    "shared" -> "admission in one process is visible — and exclusive — in another",
    "epoch" -> "cancel in one process + re-admit in another keeps epochs monotonic",
    "absent" -> "setIfPresent is a no-op after cancel (no resurrection)",
    "unaccounted" -> "rollback frees the ID without marking it canceled (group stays PENDING)",
    "race" -> "concurrent admission across instances: exactly one winner per round")

  test("a GraftCore on a file store runs a job end-to-end; a second core sees it") {
    val spark = TestSpark.spark
    val stateDir = TempDirs.make("graft-fss-e2e").toFile
    val tasksDir = TempDirs.make("graft-fss-tasks")
    Files.writeString(tasksDir.resolve("t.sql"),
      """-- name: count_events
        |SELECT COUNT(*) AS n FROM events;
        |""".stripMargin)
    val results = TempDirs.make("graft-fss-results").toString
    val src = SourcePool(Map("db" -> TestSpark.sf0001))
    val bk = SourcePool(Map("res" -> results))
    val tasks = TaskRegistry.load(spark, Seq(tasksDir.toString), src, bk)
    val core = new GraftCore(spark, tasks, src, bk,
      mkStore = () => new FileJobStateStore(stateDir))
    val observer = new FileJobStateStore(stateDir) // "another process"
    val job = core.postJob(JobReq("count_events", jobId = "fss-e2e"))
    val deadline = System.currentTimeMillis + 60000
    while (System.currentTimeMillis < deadline &&
      !observer.get(job.id).exists(_.state == JobState.Success)) Thread.sleep(30)
    val seen = observer.get(job.id)
    assert(seen.exists(_.state == JobState.Success), s"observer saw: $seen")
    assert(seen.exists(_.count > 0))
    core.scheduler.shutdown()
  }
}
