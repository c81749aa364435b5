package graft

import scala.jdk.CollectionConverters._

/** The Redis-protocol control plane over the embedded RESP server under
  * the [[ControlPlaneContract]] and the [[StateStoreContract]], plus its
  * backend-only cases: separate
  * client connections per role stand in for the reference's API nodes +
  * worker fleet sharing one Redis (`cmd/init.go:200-229`), here over a
  * real TCP round-trip. */
class RedisControlPlaneSpec extends ControlPlaneContract(Map(
    "run" -> "API core enqueues; a separate Redis worker claims, executes, API sees SUCCESS",
    "dup" -> "duplicate ID refused across brokers; cancel drops the queued payload",
    "retry" -> "redis broker: a failed attempt is re-published and another worker finishes it",
    "orphan" -> "reliable queue: a parked claim whose reply was lost is reaped back and executed"))
    with StateStoreContract {

  protected def newPlane(): Plane = new Plane {
    private val srv = new RespServer().start()
    private val (h, p) = ("127.0.0.1", srv.boundPort)
    private val probe = new RedisControlPlane.RespClient(h, p)
    def store(): JobStateStore = new RedisJobStateStore(h, p)
    def queue(): SharedQueue = new RedisQueue(h, p)

    /** The lost-reply claim: the payload moved into worker `w0`'s
      * processing list, but no worker ever saw the reply. A worker with
      * the same ID restarting must recover it. */
    def strandClaim(job: Job): Unit =
      assert(probe.cmd("LMOVE", s"graft:queue:${job.queue}", "graft:processing:w0",
        "RIGHT", "LEFT") != null)

    def claimsHeld(): Long = probe.cmdSeq("KEYS", "graft:processing:*")
      .map(k => probe.cmdLong("LLEN", k.toString)).sum

    def queuedAttempt(job: Job): Option[Int] =
      probe.cmdSeq("LRANGE", s"graft:queue:${job.queue}", "0", "-1")
        .flatMap(e => JobWire.decode(e.toString))
        .collectFirst { case (j, _, attempt) if j.id == job.id => attempt }

    override def close(): Unit = { probe.close(); srv.stop() }
  }

  private def withServer[A](f: (String, Int) => A): A = {
    val srv = new RespServer().start()
    try f("127.0.0.1", srv.boundPort) finally srv.stop()
  }

  protected def withStores[A](f: (JobStateStore, JobStateStore) => A): A =
    withServer { (h, p) =>
      val (a, b) = (new RedisJobStateStore(h, p), new RedisJobStateStore(h, p))
      try f(a, b) finally { a.close(); b.close() }
    }

  test("RESP wire basics: strings w/ NX+PX, hashes, lists, INCR, KEYS") {
    withServer { (h, p) =>
      val c = new RedisControlPlane.RespClient(h, p)
      try {
        assert(c.cmd("PING") == "PONG")
        assert(c.cmd("SET", "k", "v1") == "OK")
        assert(c.cmd("GET", "k") == "v1")
        // NX refuses while present, wins after DEL
        assert(c.cmd("SET", "k", "v2", "NX") == null)
        assert(c.cmdLong("DEL", "k") == 1)
        assert(c.cmd("SET", "k", "v2", "NX") == "OK")
        // PX expiry: key vanishes after the TTL
        assert(c.cmd("SET", "ttl", "x", "PX", "60") == "OK")
        assert(c.cmd("GET", "ttl") == "x")
        Thread.sleep(90)
        assert(c.cmd("GET", "ttl") == null)
        // INCR is the epoch counter
        assert(c.cmdLong("INCR", "n") == 1 && c.cmdLong("INCR", "n") == 2)
        // hashes
        assert(c.cmdLong("HSET", "h", "a", "1", "b", "2") == 2)
        assert(c.cmdSeq("HGETALL", "h").map(_.toString) == Seq("a", "1", "b", "2"))
        // lists: LPUSH head, RPOP tail = FIFO; LRANGE walks newest-first
        c.cmd("LPUSH", "q", "first")
        c.cmd("LPUSH", "q", "second")
        assert(c.cmdSeq("LRANGE", "q", "0", "-1").map(_.toString) ==
          Seq("second", "first"))
        assert(c.cmd("RPOP", "q") == "first")
        assert(c.cmdLong("LREM", "q", "0", "second") == 1)
        assert(c.cmd("RPOP", "q") == null)
        // KEYS glob
        c.cmd("SET", "graft:job:a", "1"); c.cmd("SET", "other", "1")
        assert(c.cmdSeq("KEYS", "graft:job:*").map(_.toString) == Seq("graft:job:a"))
      } finally c.close()
    }
  }

  test("worker survives a broker outage and resumes claiming after restart") {
    val srv1 = new RespServer().start()
    val h = "127.0.0.1"; val p = srv1.boundPort
    val fx = fixture()
    val worker = new RedisQueueWorker(spark, fx.tasks,
      new RedisJobStateStore(h, p), h, p)
    try {
      srv1.stop()
      Thread.sleep(300) // several poll ticks hit the dead socket
      // the poll thread must still be alive — transient socket errors are
      // caught like the JDBC worker's SQLException, not thread-fatal
      val pollThread = Thread.getAllStackTraces.keySet().stream()
        .filter(_.getName == "graft-redis-queue-worker").findFirst()
      assert(pollThread.isPresent && pollThread.get().isAlive,
        "broker outage killed the worker poll thread")
      // broker comes back on the same port; worker must resume claiming
      val srv2 = new RespServer(p).start()
      try {
        val apiStore = new RedisJobStateStore(h, p)
        val api = new GraftCore(spark, fx.tasks, fx.src, fx.bk,
          mkStore = () => apiStore,
          mkBroker = (_, st) => new RedisQueueBroker(h, p, st))
        try {
          val job = api.postJob(JobReq("count_events", jobId = "redis-revive"))
          val ok = await(60000)(apiStore.get(job.id).exists(_.state == JobState.Success))
          assert(ok,
            s"worker never resumed after restart; state=${apiStore.get(job.id)}")
        } finally { api.scheduler.shutdown(); apiStore.close() }
      } finally srv2.stop()
    } finally worker.stop()
  }

  test("client disconnect mid-command frees the server thread; server stays up") {
    withServer { (h, p) =>
      def connThreads = Thread.getAllStackTraces.keySet().stream()
        .filter(t => t.getName == "graft-resp-conn" && t.isAlive).count()
      val before = connThreads
      val raw = new java.net.Socket(h, p)
      raw.getOutputStream.write("*1\r\n$4".getBytes) // EOF mid length-line
      raw.getOutputStream.flush()
      raw.close()
      // the handler must see EOF and exit, not busy-loop on read()== -1
      assert(await(5000)(connThreads <= before),
        s"handler thread pinned after mid-command disconnect ($connThreads live)")
      val c = new RedisControlPlane.RespClient(h, p)
      try assert(c.cmd("PING") == "PONG") finally c.close()
    }
  }

  test("LMOVE/RPOPLPUSH/LPOP/LINDEX wire semantics (the reliable-queue primitives)") {
    withServer { (h, p) =>
      val c = new RedisControlPlane.RespClient(h, p)
      try {
        c.cmd("LPUSH", "src", "a") // src = [c, b, a] after three LPUSHes
        c.cmd("LPUSH", "src", "b")
        c.cmd("LPUSH", "src", "c")
        assert(c.cmd("LINDEX", "src", "0") == "c")
        assert(c.cmd("LINDEX", "src", "-1") == "a")
        assert(c.cmd("LINDEX", "src", "7") == null)
        // the claim: atomic pop-from-tail, park-at-head
        assert(c.cmd("LMOVE", "src", "park", "RIGHT", "LEFT") == "a")
        assert(c.cmdSeq("LRANGE", "park", "0", "-1").map(_.toString) == Seq("a"))
        // legacy spelling ≡ LMOVE RIGHT LEFT
        assert(c.cmd("RPOPLPUSH", "src", "park") == "b")
        assert(c.cmdSeq("LRANGE", "park", "0", "-1").map(_.toString) == Seq("b", "a"))
        // the reaper's re-queue: head of park to tail of src
        assert(c.cmd("LMOVE", "park", "src", "LEFT", "RIGHT") == "b")
        assert(c.cmdSeq("LRANGE", "src", "0", "-1").map(_.toString) == Seq("c", "b"))
        assert(c.cmd("LPOP", "park") == "a")
        assert(c.cmd("LPOP", "park") == null)
        // single-element self-rotate must not lose the element
        c.cmd("LPUSH", "one", "x")
        assert(c.cmd("LMOVE", "one", "one", "LEFT", "RIGHT") == "x")
        assert(c.cmdSeq("LRANGE", "one", "0", "-1").map(_.toString) == Seq("x"))
        assert(c.cmd("LMOVE", "empty", "park", "RIGHT", "LEFT") == null)
      } finally c.close()
    }
  }

  test("reliable queue: a terminal orphan is dropped, never re-run") {
    withServer { (h, p) =>
      // empty source: ANY (re-)run of the task fails, so a wrongly
      // re-queued orphan would flip the store to Retry/Failure — the state
      // staying Success is the proof the reaper dropped instead of re-ran
      val tasks = fixture(emptySource = true).tasks
      val apiStore = new RedisJobStateStore(h, p)
      val probe = new RedisControlPlane.RespClient(h, p)
      try {
        val job = JobFactory.make(JobReq("count_events", jobId = "redis-reap-2"),
          tasks("count_events"))
        val epoch = apiStore.tryAdmit(job.id)
        assert(epoch > 0)
        // the job completed long ago; a stale parked payload survived (ack
        // reply lost, then the worker crashed before its reaper retried)
        apiStore.set(job.id, JobState.Success, 42, "")
        probe.cmd("LPUSH", "graft:processing:w0",
          JobWire.encode(job, epoch, 1))
        val worker = new RedisQueueWorker(spark, tasks,
          new RedisJobStateStore(h, p), h, p, workerId = "w0")
        try {
          assert(await(10000)(probe.cmdLong("LLEN", "graft:processing:w0") == 0),
            "terminal orphan must be dropped from the processing list")
          Thread.sleep(200) // a wrong re-queue would be claiming about now
          assert(apiStore.get(job.id).contains(JobStatus(job.id, JobState.Success, 42, "")),
            s"terminal state must be untouched; got ${apiStore.get(job.id)}")
          assert(probe.cmdLong("LLEN", s"graft:queue:${job.queue}") == 0,
            "terminal orphan must not be re-queued")
        } finally worker.stop()
      } finally { apiStore.close(); probe.close() }
    }
  }

  test("dead-socket RPOP rethrows (no blind retry); idempotent GET silently reconnects") {
    withServer { (h, p) =>
      val c = new RedisControlPlane.RespClient(h, p)
      try {
        c.cmd("LPUSH", "dq", "p1", "p2")
        // idempotent read: a severed connection is invisible to the caller
        c.dropConnection()
        assert(c.cmd("LLEN", "dq") == 2L)
        // destructive read: severed connection must SURFACE, because the
        // broker may have executed the pop and the reply is unrecoverable —
        // a blind retry here would discard a second claimed payload
        c.dropConnection()
        intercept[java.io.IOException](c.cmd("RPOP", "dq"))
        // but the client reconnected behind the failure: the NEXT command
        // works, and both payloads are still claimable (nothing was popped
        // by a hidden retry — the send itself never reached the broker)
        assert(c.cmd("LLEN", "dq") == 2L)
        assert(c.cmd("RPOP", "dq") == "p1")
        assert(c.cmd("RPOP", "dq") == "p2")
      } finally c.close()
    }
  }

  test("30 workers started in a row each survive their first poll and claim a job") {
    withServer { (h, p) =>
      val fx = fixture()
      val apiStore = new RedisJobStateStore(h, p)
      val broker = new RedisQueueBroker(h, p, apiStore)
      def pollThreads = Thread.getAllStackTraces.keySet.asScala
        .filter(_.getName == "graft-redis-queue-worker").toSet
      val workers = scala.collection.mutable.Buffer.empty[RedisQueueWorker]
      try {
        // each worker has a queue of its own, so the job it claims is known;
        // earlier workers' jobs keep running while the later ones start
        val jobs = (1 to 30).map { i =>
          val job = JobFactory.make(
            JobReq("count_events", jobId = s"redis-start-$i", queue = s"start-$i"), fx.task)
          assert(broker.submit(job, fx.task))
          val before = pollThreads
          workers += new RedisQueueWorker(spark, fx.tasks, new RedisJobStateStore(h, p), h, p,
            queues = Some(Seq(job.queue)), workerId = s"start-$i")
          // a poll thread sleeps in its poll interval once its first poll
          // is done; one that died in it may already be gone from the set
          val fresh = pollThreads -- before
          await(10000)(fresh.forall(t => !t.isAlive || t.getState == Thread.State.TIMED_WAITING))
          assert(fresh.exists(_.isAlive), s"worker $i's poll thread died in its first poll")
          job
        }
        jobs.foreach { job =>
          assert(awaitDone(apiStore, job.id).exists(_.state == JobState.Success),
            s"${job.id} was never claimed; state=${apiStore.get(job.id)}")
        }
      } finally { workers.foreach(_.stop()); broker.shutdown(); apiStore.close() }
    }
  }

  // The job-path benchmark's start-up (`JobBench.startWorker`) finds the
  // worker by this thread name and waits for it to sleep between ticks.
  // Delete this case together with that restart loop when the benchmark
  // next changes.
  test("a RedisQueueWorker's poll thread is graft-redis-queue-worker and sleeps after its first tick") {
    withServer { (h, p) =>
      def pollThreads = Thread.getAllStackTraces.keySet.asScala
        .filter(_.getName == "graft-redis-queue-worker").toSet
      val before = pollThreads
      val worker = new RedisQueueWorker(spark, Map.empty, new RedisJobStateStore(h, p), h, p)
      try {
        val fresh = pollThreads -- before
        assert(fresh.size == 1, s"expected one new poll thread, found ${fresh.size}")
        assert(await(5000)(fresh.head.getState == Thread.State.TIMED_WAITING),
          s"the poll thread never slept; state=${fresh.head.getState}")
      } finally worker.stop()
    }
  }
}
