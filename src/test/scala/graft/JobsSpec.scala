package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[JobFactory]], and the in-memory [[StatusStore]] under the
  * [[StateStoreContract]]. */
class JobsSpec extends AnyFunSuite with StateStoreContract {
  protected def withStores[A](f: (JobStateStore, JobStateStore) => A): A = {
    val st = new StatusStore
    f(st, st)
  }

  override protected def storeNames: Map[String, String] = Map(
    "admit" -> "same-ID admission gate is atomic and state-aware (core.go:332-339)",
    "epoch" -> "admission epoch bumps per tryAdmit so stale retry timers can detect re-admission",
    "lattice" -> "group state reduction lattice (core.go:230-241)",
    "canceled" -> "canceled members don't pin a group below SUCCESS (ADVICE r1)",
    "unaccounted" -> "a not-yet-admitted member holds the group at PENDING (no false SUCCESS)")

  private val task = Task("t", "q1", 2, "SELECT 1",
    SourcePool(Map("db" -> "/tmp")), SourcePool(Map("res" -> "/tmp")), isRaw = false)

  test("generates job_<uuid> IDs when none supplied (core.go:345-352)") {
    val j = JobFactory.make(JobReq("t"), task)
    assert(j.id.startsWith("job_") && j.id.length > 10)
  }

  test("enforces the job-ID alphabet ^[a-z0-9-_:]+$ (http.go:14)") {
    assert(JobFactory.make(JobReq("t", jobId = "My-Job:1_2"), task).id == "My-Job:1_2")
    intercept[IllegalArgumentException](JobFactory.make(JobReq("t", jobId = "bad id!"), task))
  }

  test("queue resolution: request → task tag (core.go:369-373)") {
    assert(JobFactory.make(JobReq("t"), task).queue == "q1")
    assert(JobFactory.make(JobReq("t", queue = "prio"), task).queue == "prio")
  }

  test("ETA parses the reference format (core.go:359-367)") {
    val j = JobFactory.make(JobReq("t", eta = Some("2031-05-06 07:08:09")), task)
    assert(j.eta.get.getYear == 2031)
    intercept[IllegalArgumentException](
      JobFactory.make(JobReq("t", eta = Some("tomorrow")), task))
  }

  test("TTL defaults to 60s (config.toml.sample:3)") {
    assert(JobFactory.make(JobReq("t"), task).ttlSec == 60)
    assert(JobFactory.make(JobReq("t", ttlSec = 5), task).ttlSec == 5)
  }
}
