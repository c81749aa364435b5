package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The reference's HTTP API (routes `cmd/init.go:131-141`, handlers
  * `cmd/http.go:18-169`) over the library facade, on the JDK's built-in
  * HttpServer — zero extra dependencies (Jackson ships with Spark).
  *
  * Envelope: `{"status":"success","data":…}` / `{"status":"error",
  * "message":…}` (`models/models.go:59-63`). Responses mirror JobResp /
  * JobStatusResp / GroupResp / GroupStatusResp field names (`models.go:22-55`).
  *
  * Documented deviation (SURVEY §2A quirk): `GET /tasks` returns names by
  * default and full SQL with `?sql=1` — the reference inverts this.
  */
final class HttpApi(core: GraftCore, port: Int = 0) {
  private val mapper = new ObjectMapper()
  private val log = org.slf4j.LoggerFactory.getLogger(classOf[HttpApi])
  // TCP_NODELAY on every connection: a response leaves as headers then body,
  // and under Nagle the body waits ~40 ms for the client's delayed ACK. The
  // JDK reads the property once, when the first server loads its config.
  System.getProperties.putIfAbsent("sun.net.httpserver.nodelay", "true")
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)

  def boundPort: Int = server.getAddress.getPort

  /** Request threads, named `graft-http-<port>-<n>`; [[stop]] releases
    * them (they are non-daemon, so a leaked pool keeps the JVM alive). */
  private val executor = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    java.util.concurrent.Executors.newFixedThreadPool(4,
      (r: Runnable) => new Thread(r, s"graft-http-$boundPort-${n.incrementAndGet()}"))
  }

  def start(): HttpApi = {
    server.createContext("/", (ex: HttpExchange) => route(ex))
    server.setExecutor(executor)
    server.start()
    this
  }

  def stop(): Unit = { server.stop(0); executor.shutdown() }

  // ------------------------------------------------------------ routing
  private def route(ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath.stripSuffix("/")
    val method = ex.getRequestMethod
    val segs = path.split("/").filter(_.nonEmpty).toList
    // request-logging middleware (`cmd/init.go:115-128` logs method/header/
    // uri/remote/content-length at debug); guarded so the format string is
    // never built on the hot path when debug is off
    if (log.isDebugEnabled) {
      val len = Option(ex.getRequestHeaders.getFirst("Content-Length")).getOrElse("0")
      log.debug("server received request method={} uri={} remote={} content-length={}",
        method, ex.getRequestURI, ex.getRemoteAddress, len)
    }
    try {
      (method, segs) match {
        // root banner (`cmd/init.go:131-133`: "dungbeetle <buildString>")
        case ("GET", Nil) =>
          ok(ex, mapper.valueToTree[JsonNode](s"graft ${HttpApi.buildString}"))
        case ("GET", List("tasks")) => handleGetTasks(ex)
        case ("POST", List("tasks", task, "jobs")) => handlePostJob(ex, task)
        case ("GET", List("jobs", "queue", q)) => ok(ex, strArray(core.getPendingJobs(q)))
        case ("GET", List("jobs", id)) => handleGetJob(ex, id)
        case ("DELETE", List("jobs", id)) =>
          core.deleteJob(id, purge = hasPurge(ex)); ok(ex, mapper.valueToTree[JsonNode]("cancelled"))
        case ("POST", List("groups")) => handlePostGroup(ex)
        case ("GET", List("groups", id)) => handleGetGroup(ex, id)
        case ("DELETE", List("groups", id)) =>
          core.deleteGroup(id, purge = hasPurge(ex)); ok(ex, mapper.valueToTree[JsonNode]("cancelled"))
        case _ => error(ex, 404, s"unknown route: $method $path")
      }
    } catch {
      case e: NoSuchElementException => error(ex, 404, e.getMessage)
      case e: IllegalArgumentException => error(ex, 400, e.getMessage)
      case e: IllegalStateException => error(ex, 409, e.getMessage)
      case NonFatal(e) => error(ex, 500, String.valueOf(e.getMessage))
    }
  }

  // ----------------------------------------------------------- handlers
  private def handleGetTasks(ex: HttpExchange): Unit = {
    val withSql = boolParam(ex, "sql")
    core.listTasks(withSql) match {
      case Left(names) => ok(ex, strArray(names))
      case Right(full) =>
        val o = mapper.createObjectNode()
        full.toSeq.sortBy(_._1).foreach { case (k, v) => o.put(k, v) }
        ok(ex, o)
    }
  }

  private def handlePostJob(ex: HttpExchange, task: String): Unit = {
    val req = parseJobReq(readJson(ex), task)
    val job = core.postJob(req)
    ok(ex, jobResp(job))
  }

  private def handleGetJob(ex: HttpExchange, id: String): Unit = {
    val st = core.getJobStatus(id)
    ok(ex, statusNode(st))
  }

  private def handlePostGroup(ex: HttpExchange): Unit = {
    val body = readJson(ex)
    val gid = Option(body.get("group_id")).map(_.asText).getOrElse("")
    val jobs = Option(body.get("jobs")).map(_.elements().asScala.toSeq).getOrElse(Nil)
      .map(j => parseJobReq(j, Option(j.get("task")).map(_.asText).filter(_.nonEmpty)
        .getOrElse(throw new IllegalArgumentException("group job without a \"task\""))))
    val (groupId, made) = core.postJobGroup(gid, jobs)
    val o = mapper.createObjectNode()
    o.put("group_id", groupId)
    val arr = o.putArray("jobs")
    made.foreach(j => arr.add(jobResp(j)))
    ok(ex, o)
  }

  private def handleGetGroup(ex: HttpExchange, id: String): Unit = {
    val g = core.getGroupStatus(id)
    val o = mapper.createObjectNode()
    o.put("group_id", g.groupId)
    o.put("state", JobState.label(g.state))
    val arr = o.putArray("jobs")
    g.jobs.foreach(s => arr.add(statusNode(s)))
    ok(ex, o)
  }

  // ------------------------------------------------------------ helpers
  private def parseJobReq(j: JsonNode, task: String): JobReq = {
    def s(k: String): String = Option(j.get(k)).map(_.asText).getOrElse("")
    def i(k: String): Int = Option(j.get(k)).map(_.asInt).getOrElse(0)
    JobReq(
      taskName = task,
      jobId = s("job_id"),
      queue = s("queue"),
      eta = Option(j.get("eta")).map(_.asText).filter(_.nonEmpty),
      retries = i("retries"),
      ttlSec = i("ttl"),
      args = Option(j.get("args")).map(_.elements().asScala.map(_.asText).toSeq).getOrElse(Nil),
      db = Option(j.get("db")).map(_.asText).filter(_.nonEmpty))
  }

  private def jobResp(job: Job): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("job_id", job.id)
    o.put("task", job.taskName)
    o.put("queue", job.queue)
    o.put("eta", job.eta.map(_.toString).orNull)
    o.put("retries", job.retries)
    o
  }

  private def statusNode(st: JobStatus): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("job_id", st.jobId)
    o.put("state", JobState.label(st.state))
    o.put("count", st.count)
    o.put("error", st.error)
    o
  }

  private def strArray(xs: Seq[String]): ArrayNode = {
    val a = mapper.createArrayNode()
    xs.foreach(a.add)
    a
  }

  /** Parse the raw query string into key→value (last occurrence wins),
    * URL-decoding both sides. A bare key (`?purge`) maps to "". */
  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&").filter(_.nonEmpty).map { kv =>
      val (k, v) = kv.indexOf('=') match {
        case -1 => (kv, "")
        case i  => (kv.substring(0, i), kv.substring(i + 1))
      }
      java.net.URLDecoder.decode(k, StandardCharsets.UTF_8) ->
        java.net.URLDecoder.decode(v, StandardCharsets.UTF_8)
    }.toMap

  /** Boolean query param with Go strconv.ParseBool semantics (cmd/http.go:142):
    * 1/t/T/true/TRUE/True → true; 0/f/F/false/… → false; absent → false;
    * a bare `?purge` is treated as true. Malformed values are a 400. */
  private def boolParam(ex: HttpExchange, key: String): Boolean =
    queryParams(ex).get(key) match {
      case None     => false
      case Some("") => true
      case Some(v) => v match {
        case "1" | "t" | "T" | "true" | "TRUE" | "True"    => true
        case "0" | "f" | "F" | "false" | "FALSE" | "False" => false
        case other => throw new IllegalArgumentException(s"invalid boolean for '$key': $other")
      }
    }

  private def hasPurge(ex: HttpExchange): Boolean = boolParam(ex, "purge")

  private def readJson(ex: HttpExchange): JsonNode = {
    val bytes = ex.getRequestBody.readAllBytes()
    if (bytes.isEmpty) mapper.createObjectNode()
    else try mapper.readTree(bytes) catch {
      case e: com.fasterxml.jackson.core.JsonProcessingException =>
        throw new IllegalArgumentException(s"malformed JSON body: ${e.getOriginalMessage}")
    }
  }

  private def ok(ex: HttpExchange, data: JsonNode): Unit = {
    val o = mapper.createObjectNode()
    o.put("status", "success")
    o.set[JsonNode]("data", data)
    write(ex, 200, o)
  }

  private def error(ex: HttpExchange, code: Int, msg: String): Unit = {
    val o = mapper.createObjectNode()
    o.put("status", "error")
    o.put("message", msg)
    write(ex, code, o)
  }

  private def write(ex: HttpExchange, code: Int, body: JsonNode): Unit = {
    val bytes = mapper.writeValueAsBytes(body)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    os.write(bytes); os.close()
  }
}

object HttpApi {
  /** The root banner's version string (the reference interpolates its Go
    * buildString into "dungbeetle %s", `cmd/init.go:131-133`). */
  val buildString = "0.1.0"
}
