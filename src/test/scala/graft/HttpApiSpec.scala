package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files
import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import OpsFixture.spark

/** e2e over the wire — the port of the reference's client test suite
  * (`client/client_test.go`): post jobs/groups over HTTP, poll status, list
  * pending, delete; envelope and field names per models.go.
  */
class HttpApiSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()
  private val client = HttpClient.newHttpClient()

  private lazy val core = {
    val tasksDir = TempDirs.make("http-tasks")
    Files.writeString(tasksDir.resolve("t.sql"),
      """-- name: summary
        |-- queue: http_test
        |SELECT CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total FROM events WHERE user_id = $1;
        |""".stripMargin)
    val out = TempDirs.make("http-out").toString
    GraftCore(spark, Seq(tasksDir.toString),
      Map("db" -> TestSpark.sf0001), Map("res" -> out))
  }

  private lazy val (api, base) = {
    val a = new HttpApi(core).start()
    (a, s"http://127.0.0.1:${a.boundPort}")
  }

  private def get(path: String): (Int, String) = {
    val r = client.send(HttpRequest.newBuilder(URI.create(base + path)).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }
  private def post(path: String, body: String): (Int, String) = {
    val r = client.send(HttpRequest.newBuilder(URI.create(base + path))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }
  private def delete(path: String): (Int, String) = {
    val r = client.send(HttpRequest.newBuilder(URI.create(base + path)).DELETE().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  test("GET / returns the version banner in the success envelope") {
    // reference root route: "dungbeetle <buildString>" (cmd/init.go:131-133)
    val (c, b) = get("/")
    assert(c == 200)
    val j = mapper.readTree(b)
    assert(j.get("status").asText == "success")
    assert(j.get("data").asText == s"graft ${HttpApi.buildString}")
  }

  test("GET /tasks lists names; ?sql=1 returns SQL (documented deviation)") {
    val (c1, b1) = get("/tasks")
    assert(c1 == 200 && mapper.readTree(b1).get("status").asText == "success")
    assert(mapper.readTree(b1).get("data").get(0).asText == "summary")
    val (_, b2) = get("/tasks?sql=1")
    assert(mapper.readTree(b2).get("data").get("summary").asText.contains("SELECT"))
  }

  test("job lifecycle over the wire: POST → poll → SUCCESS with count") {
    val (c, b) = post("/tasks/summary/jobs", """{"job_id":"http-1","args":["1"]}""")
    assert(c == 200, b)
    val resp = mapper.readTree(b).get("data")
    assert(resp.get("job_id").asText == "http-1")
    assert(resp.get("queue").asText == "http_test")
    var state = ""
    val deadline = System.currentTimeMillis + 60000
    while (state != "SUCCESS" && state != "FAILURE" && System.currentTimeMillis < deadline) {
      Thread.sleep(50)
      state = mapper.readTree(get("/jobs/http-1")._2).get("data").get("state").asText
    }
    val st = mapper.readTree(get("/jobs/http-1")._2).get("data")
    assert(st.get("state").asText == "SUCCESS")
    assert(st.get("count").asLong == 1L)
  }

  test("group lifecycle over the wire") {
    val (c, b) = post("/groups",
      """{"group_id":"http-g1","jobs":[
        {"task":"summary","args":["2"]},
        {"task":"summary","args":["3"]}]}""")
    assert(c == 200, b)
    assert(mapper.readTree(b).get("data").get("jobs").size == 2)
    var state = ""
    val deadline = System.currentTimeMillis + 60000
    while (state != "SUCCESS" && state != "FAILURE" && System.currentTimeMillis < deadline) {
      Thread.sleep(50)
      state = mapper.readTree(get("/groups/http-g1")._2).get("data").get("state").asText
    }
    assert(state == "SUCCESS")
  }

  test("error envelope: unknown task 404, invalid job id 400, dup 409") {
    val (c1, b1) = post("/tasks/nope/jobs", "{}")
    assert(c1 == 404 && mapper.readTree(b1).get("status").asText == "error")
    val (c2, _) = post("/tasks/summary/jobs", """{"job_id":"bad id!"}""")
    assert(c2 == 400)
  }

  test("client errors are 400 in the error envelope: malformed JSON, group job without a task") {
    def isClientError(r: (Int, String)): Unit = {
      assert(r._1 == 400, r._2)
      assert(mapper.readTree(r._2).get("status").asText == "error", r._2)
    }
    isClientError(post("/tasks/summary/jobs", """{"job_id":"""))
    isClientError(post("/groups", "not json"))
    isClientError(post("/groups", """{"group_id":"http-g2","jobs":[{"args":["1"]}]}"""))
    assert(get("/groups/http-g2")._1 == 404, "a refused group must not be admitted")
  }

  test("DELETE completed job without purge is 409; purge succeeds") {
    val (c1, _) = delete("/jobs/http-1")
    assert(c1 == 409)
    // purge is a real boolean (strconv.ParseBool semantics, cmd/http.go:142):
    // false-y values and unrelated params merely containing "purge" must NOT purge
    assert(delete("/jobs/http-1?purge=false")._1 == 409)
    assert(delete("/jobs/http-1?purge=0")._1 == 409)
    assert(delete("/jobs/http-1?reason=purged")._1 == 409)
    assert(delete("/jobs/http-1?purge=bogus")._1 == 400)
    val (c2, _) = delete("/jobs/http-1?purge=1")
    assert(c2 == 200)
    assert(get("/jobs/http-1")._1 == 404)
  }

  test("stop() releases the request threads that start() created") {
    import scala.jdk.CollectionConverters._
    val a = new HttpApi(core).start()
    val prefix = s"graft-http-${a.boundPort}-"
    def live = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.getName.startsWith(prefix) && t.isAlive)
    val r = client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${a.boundPort}/")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() == 200)
    assert(live.nonEmpty, "serving a request must have started a pool thread")
    a.stop()
    val deadline = System.currentTimeMillis + 5000
    while (live.nonEmpty && System.currentTimeMillis < deadline) Thread.sleep(20)
    assert(live.isEmpty, s"request threads outlived stop(): ${live.map(_.getName)}")
  }

  test("a status poll on a fresh HttpApi answers in milliseconds, not a Nagle delay") {
    // each response leaves as headers then body; without TCP_NODELAY the
    // body waits for the client's delayed ACK, about 40 ms per request
    val a = new HttpApi(core).start()
    try {
      val url = s"http://127.0.0.1:${a.boundPort}"
      val id = "http-nodelay-1"
      val posted = client.send(HttpRequest.newBuilder(URI.create(s"$url/tasks/summary/jobs"))
        .POST(HttpRequest.BodyPublishers.ofString(s"""{"job_id":"$id","args":["1"]}""")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(posted.statusCode() == 200, posted.body())
      val status = HttpRequest.newBuilder(URI.create(s"$url/jobs/$id")).GET().build()
      val ms = (1 to 20).map { _ =>
        val t0 = System.nanoTime()
        assert(client.send(status, HttpResponse.BodyHandlers.ofString()).statusCode() == 200)
        (System.nanoTime() - t0) / 1e6
      }.sorted
      val median = (ms(9) + ms(10)) / 2
      assert(median < 10, s"median GET /jobs/{id} took $median ms: ${ms.map(m => f"$m%.1f")}")
    } finally a.stop()
  }
}
