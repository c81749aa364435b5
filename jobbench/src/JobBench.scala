package jobbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import graft._
import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** One job as the client saw it. Times are [[Clock]] epoch nanoseconds. */
final class JobRec(val client: Int, val seq: Int, val task: String, val args: Seq[String]) {
  var id = ""
  var sendNs = 0L     // POST sent
  var postNs = 0L     // POST answered
  var doneNs = 0L     // the poll that read a terminal state (or gave up)
  var polls = 0
  var state = ""      // SUCCESS / FAILURE / REFUSED / DEADLINE
  var count = -1L
  var error = ""
}

/** The job-path benchmark's load generator.
  *
  * Starts the server in-process the way `graft.Main` configures it
  * (`local[4]`, FAIR, shuffle partitions = cores, UTC), on either the
  * in-process control plane or the Redis one (`RespServer` +
  * `RedisJobStateStore` + `RedisQueueBroker` + one `RedisQueueWorker`), and
  * drives it only through `graft.Client` over HTTP. Set-up runs once, cold:
  * from the session build start until the API answers and one job of each
  * task has completed. An untimed ramp of a few jobs per client follows,
  * then the timed window, in which each client runs a closed loop: post a
  * job, poll `GET /jobs/{id}` every `--poll-ms` until it is terminal, post
  * the next.
  *
  * Writes `summary.json` and `jobs.jsonl` (and `spans.jsonl` with
  * `--trace 1`) to `--out`; the metrics are computed from those files by
  * `jobbench/run.py`. Usage: see run.py, which builds the argument list.
  */
object JobBench {
  private val mapper = new ObjectMapper()

  final case class Req(task: String, args: Seq[String])

  def main(argv: Array[String]): Unit = {
    val code =
      try { run(argv.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    // HttpApi.start installs a non-daemon pool that HttpApi.stop never shuts
    // down, so a JVM that started the API does not exit on its own
    System.exit(code)
  }

  /** A started server. It runs until the JVM exits. */
  final class Server(val spark: SparkSession, val url: String)

  def startServer(o: Map[String, String], tracer: Option[Tracer]): Server = {
    val work = o("work")
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.files.maxPartitionBytes", "256m")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    tracer.foreach(t => spark.sparkContext.addSparkListener(new SparkSpans(t)))
    val src = SourcePool(Map("bench_db" -> o("data")))
    val bk = SourcePool(Map("bench_results" -> o("results")))
    val tasks = TaskRegistry.load(spark, Seq(o("tasks")), src, bk)
    def store(s: JobStateStore): JobStateStore = tracer.fold(s)(new TracedStore(s, _))
    def broker(b: JobBroker): JobBroker = tracer.fold(b)(new TracedBroker(b, _))
    o("plane") match {
      case "inproc" =>
        val core = new GraftCore(spark, tasks, src, bk,
          mkStore = () => store(new StatusStore),
          mkBroker = (s, st) => broker(new Scheduler(s, st)))
        val api = new HttpApi(core, 0).start()
        new Server(spark, s"http://127.0.0.1:${api.boundPort}")
      case "redis" =>
        val resp = new RespServer(0).start()
        val (host, port) = ("127.0.0.1", resp.boundPort)
        val core = new GraftCore(spark, tasks, src, bk,
          mkStore = () => store(new RedisJobStateStore(host, port)),
          mkBroker = (_, st) => broker(new RedisQueueBroker(host, port, st)))
        val workerStore = store(new RedisJobStateStore(host, port))
        startWorker(() => new RedisQueueWorker(spark, tasks, workerStore, host, port))
        val api = new HttpApi(core, 0).start()
        new Server(spark, s"http://127.0.0.1:${api.boundPort}")
      case other => throw new IllegalArgumentException(s"unknown control plane: $other")
    }
  }

  /** Worker starts that had to be repeated (see [[startWorker]]). */
  @volatile var workerRestarts = 0

  private def workerThreads(): Set[Thread] = Thread.getAllStackTraces.keySet.asScala
    .filter(_.getName == "graft-redis-queue-worker").toSet

  /** `RedisQueueWorker` starts its poll thread inside its constructor, before
    * the constructor assigns `processingKey` and `handedOff`
    * (RedisControlPlane.scala:491 vs :498/:507). When the thread wins that
    * race its first poll dies with a NullPointerException and the worker
    * never claims a job. Start it again until its thread has survived the
    * first poll (it then sleeps in its poll interval); each repeat is
    * counted in `worker_restarts`. */
  private def startWorker(mk: () => RedisQueueWorker): RedisQueueWorker = {
    for (_ <- 1 to 5) {
      val before = workerThreads()
      val w = mk()
      val deadline = System.nanoTime() + 5000000000L
      def fresh = (workerThreads() -- before).filter(_.isAlive)
      while (fresh.exists(_.getState != Thread.State.TIMED_WAITING) && System.nanoTime() < deadline)
        Thread.sleep(1)
      if (fresh.nonEmpty) return w
      workerRestarts += 1
      w.stop()
    }
    throw new IllegalStateException("the Redis queue worker's poll thread died on every start")
  }

  /** Post one job and poll it to a terminal state on a fixed cadence. */
  def runJob(client: Client, rec: JobRec, pollNs: Long, deadlineNs: Long,
      tracer: Option[Tracer]): JobRec = {
    rec.sendNs = Clock.now()
    val posted =
      try Some(client.postJob(JobReq(rec.task, args = rec.args)))
      catch { case e: ClientException => rec.state = "REFUSED"; rec.error = e.getMessage; None }
    rec.postNs = Clock.now()
    rec.doneNs = rec.postNs
    posted.foreach { resp =>
      rec.id = resp.jobId
      var next = rec.sendNs + pollNs
      while (rec.state.isEmpty) {
        val wait = next - Clock.now()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        while (next <= Clock.now()) next += pollNs // fixed ticks; a slow poll skips ticks
        val s0 = Clock.now()
        val st = try Some(client.getJobStatus(rec.id)) catch { case _: ClientException => None }
        val s1 = Clock.now()
        rec.polls += 1
        tracer.foreach(_.add(Span(rec.id, "HttpApi.status", s0, s1)))
        st.filter(s => s.state == JobState.Success || s.state == JobState.Failure) match {
          case Some(s) =>
            rec.state = JobState.label(s.state); rec.count = s.count; rec.error = s.error
            rec.doneNs = s1
          case None if s1 - rec.sendNs > deadlineNs =>
            rec.state = "DEADLINE"; rec.doneNs = s1
          case None => ()
        }
      }
    }
    rec
  }

  private def log(msg: String): Unit = System.err.println(s"[jobbench] ${System.currentTimeMillis()} $msg")

  private def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Heap in use after full GCs. Spark's ContextCleaner frees broadcast and
    * shuffle blocks on its own thread once a GC has enqueued their
    * references; a pause lets it do so before the second GC. */
  private def heapAfterGcMb(): Double = {
    System.gc(); Thread.sleep(300); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def reqsOf(n: JsonNode): Seq[Req] = n.elements().asScala.map { r =>
    Req(r.get("task").asText, r.get("args").elements().asScala.map(_.asText).toSeq)
  }.toSeq

  def run(o: Map[String, String]): Unit = {
    val out = new File(o("out"))
    val requests = mapper.readTree(new File(o("requests")))
    val warmup = reqsOf(requests.get("warmup"))
    val ramp = requests.get("ramp").elements().asScala.map(reqsOf).toSeq
    val clients = requests.get("clients").elements().asScala.map(reqsOf).toSeq
    val trace = o("trace") == "1"
    val pollNs = o("poll-ms").toLong * 1000000L
    val deadlineNs = o("deadline-s").toLong * 1000000000L
    val windowNs = (o("seconds").toDouble * 1e9).toLong

    // set-up, cold: session build start to one completed job of each task
    log("setup")
    val t0 = Clock.now()
    val tracer = if (trace) Some(new Tracer) else None
    val server = startServer(o, tracer)
    log("server up")
    val warmClient = new Client(server.url)
    warmup.zipWithIndex.foreach { case (r, k) =>
      val rec = runJob(warmClient, new JobRec(-1, k, r.task, r.args), pollNs, deadlineNs, None)
      if (rec.state != "SUCCESS")
        throw new IllegalStateException(s"warm-up job ${r.task} ended ${rec.state}: ${rec.error}")
      log(s"warm-up ${r.task} done")
    }
    val setupS = (Clock.now() - t0) / 1e9

    /** One closed-loop thread per client, each taking its requests in order
      * while the clock is before `end`; returns every job, once all are
      * terminal. */
    def closedLoop(streams: Seq[Seq[Req]], end: Long, tracer: Option[Tracer]): Seq[JobRec] = {
      val recs = new ConcurrentLinkedQueue[JobRec]()
      val threads = streams.zipWithIndex.map { case (reqs, c) =>
        val client = new Client(server.url)
        val th = new Thread(() => {
          val it = reqs.iterator.zipWithIndex
          while (Clock.now() < end && it.hasNext) {
            val (r, k) = it.next()
            recs.add(runJob(client, new JobRec(c, k, r.task, r.args), pollNs, deadlineNs, tracer))
          }
        }, s"jobbench-client-$c")
        th.start(); th
      }
      threads.foreach(_.join())
      recs.asScala.toSeq.sortBy(r => (r.client, r.seq))
    }

    // untimed ramp: a few jobs per client under full load, so that the
    // window measures a JVM whose hot paths are compiled
    log("ramp")
    closedLoop(ramp, Long.MaxValue, None).find(_.state != "SUCCESS").foreach { r =>
      throw new IllegalStateException(s"ramp job ${r.task} ended ${r.state}: ${r.error}")
    }
    val heapWarmMb = heapAfterGcMb()
    log("window")

    // timed window
    val cpu0 = processCpuNs()
    val gc0 = gcMs()
    val start = Clock.now()
    val end = start + windowNs
    val jobs = closedLoop(clients, end, tracer)
    val drained = Clock.now()
    val cpuS = (processCpuNs() - cpu0) / 1e9
    val gcS = (gcMs() - gc0) / 1000.0
    val heapLiveMb = heapAfterGcMb()
    log("drained")

    out.mkdirs()
    tracer.foreach { t =>
      org.apache.spark.sql.JobBenchAccess.drainListenerBus(server.spark.sparkContext)
      writeLines(new File(out, "spans.jsonl"), SpanWriter.spansOf(t, jobs).map(spanJson))
    }
    writeLines(new File(out, "jobs.jsonl"), jobs.map { r =>
      val n = mapper.createObjectNode()
      n.put("client", r.client); n.put("seq", r.seq); n.put("task", r.task)
      val a = n.putArray("args"); r.args.foreach(a.add)
      n.put("id", r.id); n.put("send_ns", r.sendNs); n.put("post_ns", r.postNs)
      n.put("done_ns", r.doneNs); n.put("polls", r.polls); n.put("state", r.state)
      n.put("count", r.count); n.put("error", r.error)
      n
    })
    val s = mapper.createObjectNode()
    s.put("setup_s", setupS)
    s.put("window_start_ns", start); s.put("window_end_ns", end); s.put("drained_ns", drained)
    s.put("cpu_s", cpuS); s.put("gc_s", gcS)
    s.put("heap_warm_mb", heapWarmMb); s.put("heap_live_mb", heapLiveMb)
    s.put("worker_restarts", workerRestarts)
    writeLines(new File(out, "summary.json"), Seq(s))
    log("written")
  }

  private def spanJson(sp: Span): ObjectNode = {
    val n = mapper.createObjectNode()
    n.put("trace", sp.trace); n.put("name", sp.name)
    n.put("id", if (sp.id.nonEmpty) sp.id else sp.name); n.put("parent", sp.parent)
    n.put("start", sp.start); n.put("end", sp.end)
    sp.attrs.foreach {
      case (k, v: Int)    => n.put(k, v)
      case (k, v: Long)   => n.put(k, v)
      case (k, v: Double) => n.put(k, v)
      case (k, v)         => n.put(k, String.valueOf(v))
    }
    n
  }

  private def writeLines(f: File, nodes: Seq[JsonNode]): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try nodes.foreach(n => w.println(mapper.writeValueAsString(n))) finally w.close()
  }
}
