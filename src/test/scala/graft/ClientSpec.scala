package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import OpsFixture.spark

/** e2e for the remote client SDK (the port of the reference's client test
  * suite driven through `client/client.go`'s typed verbs rather than raw
  * HTTP): the [[Client]] drives a live [[HttpApi]] server through
  * post → poll → group → pending → cancel/purge, and server-side errors
  * surface as [[ClientException]] with the envelope's message.
  */
class ClientSpec extends AnyFunSuite {
  private lazy val (api, client) = {
    val tasksDir = TempDirs.make("client-tasks")
    Files.writeString(tasksDir.resolve("t.sql"),
      """-- name: summary
        |-- queue: client_test
        |SELECT CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total FROM events WHERE user_id = $1;
        |
        |-- name: slow_scan
        |-- queue: client_slow
        |-- conc: 1
        |SELECT n, graft_sleep(1500) AS slept
        |FROM (SELECT COUNT(*) AS n FROM events e1, events e2 WHERE e1.user_id = $1);
        |""".stripMargin)
    val out = TempDirs.make("client-out").toString
    val core = GraftCore(spark, Seq(tasksDir.toString),
      Map("db" -> TestSpark.sf0001), Map("res" -> out))
    val a = new HttpApi(core).start()
    (a, new Client(s"http://127.0.0.1:${a.boundPort}"))
  }

  private def await(poll: () => JobState.Value): JobState.Value = {
    val deadline = System.currentTimeMillis + 60000
    var st = poll()
    while (st != JobState.Success && st != JobState.Failure &&
           System.currentTimeMillis < deadline) { Thread.sleep(50); st = poll() }
    st
  }

  test("listTasks returns names; listTasksWithSql returns the SQL") {
    assert(client.listTasks().toSet == Set("summary", "slow_scan"))
    assert(client.listTasksWithSql()("summary").contains("SELECT"))
  }

  test("postJob → getJobStatus lifecycle through the typed verbs") {
    val resp = client.postJob(JobReq(taskName = "summary", jobId = "cli-1", args = Seq("1")))
    assert(resp.jobId == "cli-1")
    assert(resp.task == "summary")
    assert(resp.queue == "client_test")
    assert(await(() => client.getJobStatus("cli-1").state) == JobState.Success)
    val st = client.getJobStatus("cli-1")
    assert(st.count == 1L)
    assert(st.error.isEmpty)
  }

  test("postJobGroup → getGroupStatus reduces over member states") {
    val g = client.postJobGroup("cli-g1", Seq(
      JobReq(taskName = "summary", args = Seq("2")),
      JobReq(taskName = "summary", args = Seq("3"))))
    assert(g.groupId == "cli-g1")
    assert(g.jobs.size == 2)
    assert(await(() => client.getGroupStatus("cli-g1").state) == JobState.Success)
    assert(client.getGroupStatus("cli-g1").jobs.forall(_.state == JobState.Success))
  }

  test("server errors surface as ClientException with the envelope message") {
    val e404 = intercept[ClientException] {
      client.postJob(JobReq(taskName = "no_such_task"))
    }
    assert(e404.statusCode == 404)
    val e400 = intercept[ClientException] {
      client.postJob(JobReq(taskName = "summary", jobId = "bad id!"))
    }
    assert(e400.statusCode == 400)
    val eMissing = intercept[ClientException] { client.getJobStatus("never-posted") }
    assert(eMissing.statusCode == 404)
  }

  test("deleteJob honors purge semantics end to end") {
    client.postJob(JobReq(taskName = "summary", jobId = "cli-del", args = Seq("4")))
    assert(await(() => client.getJobStatus("cli-del").state) == JobState.Success)
    // completed job: cancel without purge is a 409 conflict
    val e = intercept[ClientException] { client.deleteJob("cli-del") }
    assert(e.statusCode == 409)
    client.deleteJob("cli-del", purge = true)
    assert(intercept[ClientException] { client.getJobStatus("cli-del") }.statusCode == 404)
  }

  test("getPendingJobs sees a queued job; deleteJob cancels it") {
    // a deliberately slow conc=1 task holds the queue so the next job stays PENDING
    client.postJob(JobReq(taskName = "slow_scan", jobId = "cli-slow-1", args = Seq("1")))
    Thread.sleep(200) // let the first job leave the backlog and start
    client.postJob(JobReq(taskName = "slow_scan", jobId = "cli-slow-2", args = Seq("1")))
    val deadline = System.currentTimeMillis + 30000
    var pending = client.getPendingJobs("client_slow")
    while (!pending.contains("cli-slow-2") && System.currentTimeMillis < deadline) {
      Thread.sleep(50); pending = client.getPendingJobs("client_slow")
    }
    assert(pending.contains("cli-slow-2"), s"pending=$pending")
    client.deleteJob("cli-slow-2") // pending cancel needs no purge
    assert(await(() => client.getJobStatus("cli-slow-1").state) == JobState.Success)
  }
}
