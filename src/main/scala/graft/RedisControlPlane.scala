package graft

import java.io.{BufferedInputStream, BufferedOutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets

/** Redis-protocol control plane — the THIRD [[JobStateStore]]/[[SharedQueue]]
  * pair, speaking RESP2 on the wire.
  *
  * This is the reference's actual deployment topology: its only supported
  * broker/state store is Redis (`cmd/init.go:200-229` hard-rejects any
  * `job_queue.*.type` but "redis"), with tasqueue pushing job payloads
  * through Redis lists and states through Redis hashes. The port's file and
  * JDBC planes prove the SPI; this one closes the deployment-parity gap —
  * an operator who already runs Redis points `graft` at the same address.
  *
  * Key layout (all under a configurable prefix, default `graft:`):
  *   - `job:<id>`    hash {state, count, error} — present ⇔ admitted entry
  *   - `meta:<id>`   admission epoch counter (INCR; survives cancel, which
  *                   is what keeps epochs monotonic across cancel+re-admit)
  *   - `cancel:<id>` canceled marker (group reduction needs canceled vs
  *                   never-admitted)
  *   - `lock:<id>`   per-ID write lock: `SET … NX PX <ttl>` — the standard
  *                   single-instance Redis lock; the TTL bounds the damage
  *                   of a lock-holder crash
  *   - `queue:<q>`   [[JobWire]] payload list — LPUSH at head, claim from tail
  *                   (FIFO); a retry re-publish LPUSHes the next attempt so
  *                   ANY worker claims it (the cross-worker retry hop)
  *   - `processing:<worker>` the reliable-queue parking list: a claim is
  *                   `LMOVE queue:<q> processing:<w> RIGHT LEFT` (atomic
  *                   pop-and-park), acked with LREM once handed to the
  *                   local scheduler; [[RedisQueue]]'s reaper
  *                   recovers orphans (see there)
  *   - `group:<gid>` member-ID list
  *
  * Atomicity: every single Redis command is atomic (the server is
  * single-threaded over its keyspace — [[RespServer]] reproduces this with
  * one command mutex), and the store's writes run under the `lock:<id>` NX
  * lock, the per-ID lock of the [[LockedStore]] skeleton. The claim is an atomic LMOVE into the worker's processing list:
  * exactly one worker moves each payload, and a reply lost with the socket
  * leaves the payload parked there (recoverable) instead of gone — the
  * Redis reliable-queue pattern (RPOPLPUSH in pre-6.2 spellings). Snapshot
  * uses KEYS under the prefix (SCAN in a production deployment — same
  * contract, cursor-paged).
  *
  * Honest limitation: a worker crashing AFTER the hand-off ack (payload
  * LREMed, job running in its local scheduler) still strands the job's
  * store entry until a re-admission — the processing list covers the claim
  * window, not mid-execution crashes.
  */
object RedisControlPlane {

  /** Minimal RESP2 client: commands go out as arrays of bulk strings,
    * replies parse the five RESP types. One socket; callers are serialized
    * per client (the scheduler's per-queue pools hold separate clients or
    * share one — both safe). */
  final class RespClient(host: String, port: Int) extends AutoCloseable {
    private var socket = connect()
    private var in = new BufferedInputStream(socket.getInputStream)
    private var out = new BufferedOutputStream(socket.getOutputStream)

    private def connect(): Socket = {
      val s = new Socket(host, port)
      s.setTcpNoDelay(true)
      s
    }

    /** Drop the (possibly half-dead) connection and dial a fresh one —
      * the queue worker's transient-error recovery after a broker restart.
      * Throws if the broker is still down; the caller retries next tick. */
    def reconnect(): Unit = synchronized {
      try socket.close() catch { case _: Exception => () }
      socket = connect()
      in = new BufferedInputStream(socket.getInputStream)
      out = new BufferedOutputStream(socket.getOutputStream)
    }

    /** Commands whose REPLY carries otherwise-unrecoverable state. RPOP is
      * a destructive read: if the broker executes it but the connection
      * dies before the reply is read, the popped payload is gone with the
      * socket — a blind retry would pop (and process) a SECOND payload
      * while the first job is stranded non-terminal forever. The
      * at-least-once argument that justifies retrying everything else
      * (epochs absorb a duplicate LPUSH/INCR; GET/SET/DEL/HSET/EXISTS/
      * KEYS/LRANGE/LLEN are idempotent; an LREM replay removes nothing
      * new) does NOT hold for a lost destructive read, so these commands
      * surface the IOException to the caller instead — the queue worker's
      * poll loop already treats that as a skipped tick.
      *
      * LMOVE/RPOPLPUSH are in the set for the same no-blind-retry reason
      * (a replay would claim a SECOND payload), but their lost reply is
      * no longer lost DATA: the atomic move parks the payload in the
      * worker's processing list, where [[RedisQueue]]'s reaper
      * recovers it — the standard Redis reliable-queue pattern. */
    private val noRetry =
      Set("RPOP", "LPOP", "BRPOP", "BLPOP", "LMOVE", "RPOPLPUSH", "BLMOVE")

    /** Send one command, return its reply: String (+simple/$bulk), Long
      * (:int), null ($-1), Seq[Any] (*array). -error throws.
      *
      * On a socket-level failure (broker restarted, connection dropped) the
      * client reconnects and retries the command ONCE — the standard
      * real-Redis client behavior — EXCEPT for [[noRetry]] destructive
      * reads, where a lost reply is lost data, not a harmless duplicate:
      * those reconnect (so the next command starts clean) and rethrow. A
      * broker that is still down rethrows to the caller either way. */
    def cmd(args: String*): Any = synchronized {
      try sendAndRead(args)
      catch {
        case e: java.io.IOException if noRetry(args.head.toUpperCase) =>
          try reconnect() catch { case _: Exception => () }
          throw e
        case _: java.io.IOException =>
          reconnect()
          sendAndRead(args)
      }
    }

    /** Test seam: sever the live socket (as a broker restart would) without
      * touching client state, so specs can drive the retry-vs-rethrow split
      * in [[cmd]] deterministically. */
    private[graft] def dropConnection(): Unit =
      try socket.close() catch { case _: Exception => () }

    private def sendAndRead(args: Seq[String]): Any = {
      val sb = new java.lang.StringBuilder()
      sb.append('*').append(args.length).append("\r\n")
      args.foreach { a =>
        val b = a.getBytes(StandardCharsets.UTF_8)
        sb.append('$').append(b.length).append("\r\n").append(a).append("\r\n")
      }
      out.write(sb.toString.getBytes(StandardCharsets.UTF_8))
      out.flush()
      readReply()
    }

    def cmdLong(args: String*): Long = cmd(args: _*) match {
      case l: Long => l
      case other => throw new IllegalStateException(s"expected :int, got $other")
    }

    def cmdSeq(args: String*): Seq[Any] = cmd(args: _*) match {
      case s: Seq[_] => s
      case null => Nil
      case other => throw new IllegalStateException(s"expected *array, got $other")
    }

    private def readLine(): String = {
      val sb = new java.lang.StringBuilder()
      var c = in.read()
      while (c != '\r') {
        if (c < 0) throw new java.io.EOFException("connection closed")
        sb.append(c.toChar)
        c = in.read()
      }
      in.read() // \n
      sb.toString
    }

    private def readReply(): Any = in.read() match {
      case '+' => readLine()
      case '-' => throw new IllegalStateException(s"redis error: ${readLine()}")
      case ':' => readLine().toLong
      case '$' =>
        val n = readLine().toInt
        if (n < 0) null
        else {
          val buf = new Array[Byte](n)
          var off = 0
          while (off < n) {
            val r = in.read(buf, off, n - off)
            if (r < 0) throw new java.io.EOFException("connection closed")
            off += r
          }
          in.read(); in.read() // \r\n
          new String(buf, StandardCharsets.UTF_8)
        }
      case '*' =>
        val n = readLine().toInt
        if (n < 0) null else Seq.fill(n)(readReply())
      case -1 =>
        // EOF is a socket-level condition (broker closed the connection),
        // not a protocol error — surface it as IOException so cmd()'s
        // reconnect-and-retry-once path handles it.
        throw new java.io.EOFException("connection closed")
      case c => throw new IllegalStateException(s"bad RESP type byte: $c")
    }

    override def close(): Unit = {
      try cmd("QUIT") catch { case _: Exception => () }
      socket.close()
    }
  }
}

/** [[JobStateStore]] over Redis: the [[LockedStore]] skeleton
  * (ControlPlane.scala, which states the contracts) over the key layout in
  * [[RedisControlPlane]]. The per-ID lock is `SET … NX PX` with
  * compare-and-delete; every other primitive is one command. */
final class RedisJobStateStore(host: String, port: Int, prefix: String = "graft:")
    extends LockedStore with AutoCloseable {
  import RedisControlPlane.RespClient
  private val c = new RespClient(host, port)

  private def jobKey(id: String) = s"${prefix}job:$id"
  private def metaKey(id: String) = s"${prefix}meta:$id"
  private def cancelKey(id: String) = s"${prefix}cancel:$id"
  private def lockKey(id: String) = s"${prefix}lock:$id"
  private def groupKey(id: String) = s"${prefix}group:$id"

  /** Run `f` under the per-ID NX lock (5 s TTL bounds a holder crash;
    * admission's critical section is a handful of commands). */
  protected def locked[A](id: String)(f: => A): A = {
    val key = lockKey(id)
    val token = s"${ProcessHandle.current().pid()}-${Thread.currentThread().getId}"
    val deadline = System.currentTimeMillis + 10000
    var held = false
    while (!held) {
      if (c.cmd("SET", key, token, "NX", "PX", "5000") != null) held = true
      else if (System.currentTimeMillis > deadline)
        throw new IllegalStateException(s"lock timeout on $key")
      else Thread.sleep(2)
    }
    // Compare-and-delete: if the critical section outlived the TTL (GC
    // pause, slow broker) another holder now owns the key — an
    // unconditional DEL would release THEIR lock and cascade mutual-
    // exclusion loss. GET+compare is atomic enough against the embedded
    // single-command-at-a-time server; real Redis would use the standard
    // Lua compare-and-delete script.
    try f finally {
      val cur = c.cmd("GET", key)
      if (cur != null && cur.toString == token) c.cmd("DEL", key): Unit
    }
  }

  override def get(id: String): Option[JobStatus] = {
    val kv = c.cmdSeq("HGETALL", jobKey(id)).map(_.toString)
    if (kv.isEmpty) None
    else {
      val m = kv.grouped(2).map(p => p.head -> p(1)).toMap
      Some(JobStatus(id, JobState.withName(m("state")),
        m.getOrElse("count", "-1").toLong, m.getOrElse("error", "")))
    }
  }

  /** Rewrites all three fields, so no field of the previous run survives. */
  protected def write(s: JobStatus): Unit =
    c.cmd("HSET", jobKey(s.jobId), "state", s.state.toString,
      "count", s.count.toString, "error", s.error): Unit

  protected def delete(id: String): Unit = c.cmd("DEL", jobKey(id)): Unit
  protected def nextEpoch(id: String): Long = c.cmdLong("INCR", metaKey(id))
  protected def markCanceled(id: String): Unit = c.cmd("SET", cancelKey(id), "1"): Unit
  protected def clearCanceled(id: String): Unit = c.cmd("DEL", cancelKey(id)): Unit
  protected def isCanceled(id: String): Boolean = c.cmdLong("EXISTS", cancelKey(id)) == 1

  override def epoch(id: String): Long =
    Option(c.cmd("GET", metaKey(id))).map(_.toString.toLong).getOrElse(0L)

  override def putGroup(groupId: String, jobIds: Seq[String]): Unit = {
    c.cmd("DEL", groupKey(groupId))
    if (jobIds.nonEmpty) c.cmd(("RPUSH" +: groupKey(groupId) +: jobIds): _*): Unit
  }

  override def groupJobIds(groupId: String): Option[Seq[String]] = {
    val ids = c.cmdSeq("LRANGE", groupKey(groupId), "0", "-1").map(_.toString)
    if (ids.isEmpty) None else Some(ids)
  }

  override def removeGroup(groupId: String): Unit =
    c.cmd("DEL", groupKey(groupId)): Unit

  override def snapshot: Map[String, JobStatus] = {
    val pat = s"${prefix}job:*"
    c.cmdSeq("KEYS", pat).map(_.toString).flatMap { k =>
      val id = k.stripPrefix(s"${prefix}job:")
      get(id).map(id -> _)
    }.toMap
  }

  override def close(): Unit = c.close()
}

/** The API node's broker over the Redis queue. */
class RedisQueueBroker(host: String, port: Int, store: JobStateStore, prefix: String = "graft:")
  extends QueueBroker(new RedisQueue(host, port, prefix), store)

/** A queue worker over the Redis queue, with `workerId`'s processing list. */
class RedisQueueWorker(
    spark: org.apache.spark.sql.SparkSession,
    tasks: Map[String, Task],
    store: JobStateStore,
    host: String, port: Int,
    queues: Option[Seq[String]] = None,
    prefix: String = "graft:",
    pollMs: Long = ClaimLoop.DefaultPollMs,
    workerId: String = "w0")
  extends ClaimLoop(spark, tasks, store, new RedisQueue(host, port, prefix, workerId), queues,
    pollMs, "graft-redis-queue-worker")

/** The Redis plane's [[SharedQueue]] over lists. Publish LPUSHes the
  * payload at the head of `queue:<q>`. A worker claims with an atomic
  * `LMOVE queue:<q> processing:<workerId> RIGHT LEFT` (exactly one worker
  * wins each, and a reply lost with the socket parks the payload in the
  * processing list instead of losing it — the Redis reliable-queue
  * pattern); the receipt is the payload string, which LREM removes
  * exactly. A claim is acked (LREM from the processing list) as soon as it
  * is handed to the scheduler; [[recoverOrphans]] recovers everything
  * else. `queues = None` claims from every `queue:*` key (the reference's
  * worker consumes its configured queues).
  *
  * `workerId` must be UNIQUE per live worker and STABLE across restarts
  * of the same worker slot (the standard reliable-queue deployment
  * contract): unique because a reaper may only judge ITS OWN processing
  * list (another live worker's entries are in-flight, not orphans);
  * stable so a restarted worker inherits — and recovers — its
  * predecessor's parked claims. The API node's queue never claims, so its
  * `workerId` names nothing. */
final class RedisQueue(host: String, port: Int, prefix: String = "graft:",
    workerId: String = "w0") extends SharedQueue {
  import RedisControlPlane.RespClient
  type Receipt = String
  private val c = new RespClient(host, port)
  private val processingKey = s"${prefix}processing:$workerId"
  /** The current sweep's queue keys; the head is drained before the next. */
  private var sweep: List[String] = Nil

  private def queueKey(q: String) = s"${prefix}queue:$q"
  private def allQueueKeys(): Seq[String] = c.cmdSeq("KEYS", queueKey("*")).map(_.toString)

  def publish(job: Job, epoch: Long, attempt: Int): Unit =
    c.cmd("LPUSH", queueKey(job.queue), JobWire.encode(job, epoch, attempt)): Unit

  /** Newest-first: LPUSH puts the newest at the head, LRANGE walks
    * head→tail — the reference's reversed pending listing for free. */
  def pending(queue: String): Seq[String] =
    c.cmdSeq("LRANGE", queueKey(queue), "0", "-1")
      .flatMap(p => JobWire.decode(p.toString).map(_._1.id))

  /** Drop unclaimed payloads: LREM the exact strings LRANGE returned
    * (payloads round-trip bytes-exactly). */
  def drop(jobId: String): Unit =
    allQueueKeys().foreach { qk =>
      c.cmdSeq("LRANGE", qk, "0", "-1").map(_.toString).foreach { p =>
        if (JobWire.decode(p).exists(_._1.id == jobId))
          c.cmd("LREM", qk, "0", p): Unit
      }
    }

  def isEmpty: Boolean = !allQueueKeys().exists(qk => c.cmdLong("LLEN", qk) > 0)

  /** Payloads handed to the local scheduler whose ack (LREM) has not been
    * confirmed yet — the reaper's disambiguator between "hand-off done,
    * only the ack reply was lost" (just retry the ack) and "claim reply
    * was lost before hand-off" (re-queue). In-memory on purpose: after a
    * crash/restart the set is empty and every parked payload falls
    * through to the store-gated decision, which is the correct recovery
    * for a dead predecessor (its hand-offs died with its scheduler). */
  private val handedOff = java.util.Collections.newSetFromMap(
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]())

  /** The reliable-queue reaper: anything in this worker's processing list
    * at tick start is an orphan (the claim/ack cycle within a tick is
    * synchronous, so nothing of THIS tick's is mid-flight). Three cases:
    *
    *   - acked-but-ack-lost (in [[handedOff]]): retry the LREM;
    *   - claim-reply-lost with the SAME admission still live in the store
    *     (non-terminal state, matching epoch): atomically LMOVE the
    *     payload back to its queue's claim end — the payload the old RPOP
    *     spelling lost for good;
    *   - everything else (terminal, canceled, re-admitted under a newer
    *     epoch, torn): drop — a re-queue would double-run.
    *
    * Every step removes the head, so the LLEN-bounded loop terminates. */
  def recoverOrphans(store: JobStateStore): Unit = {
    var remaining = c.cmdLong("LLEN", processingKey)
    while (remaining > 0) {
      remaining -= 1
      val head = c.cmd("LINDEX", processingKey, "0")
      if (head == null) return
      val p = head.toString
      // retry the ack FIRST, un-mark only once it succeeded: removing the
      // mark before a confirmed LREM converts a still-down broker into a
      // later re-queue of a job that is already running (the mark is the
      // only thing distinguishing "ran, ack lost" from "never ran")
      if (handedOff.contains(p)) {
        c.cmd("LREM", processingKey, "1", p)
        handedOff.remove(p)
      }
      else JobWire.decode(p) match {
        case Some((job, epoch, _)) if
            store.get(job.id).exists(s => JobState.isLive(s.state)) &&
            store.epoch(job.id) == epoch =>
          c.cmd("LMOVE", processingKey, queueKey(job.queue), "LEFT", "RIGHT")
        case _ => c.cmd("LPOP", processingKey)
      }
    }
  }

  def claim(queues: Option[Seq[String]]): Option[Claimed[String]] = {
    if (sweep.isEmpty) sweep = queues.fold(allQueueKeys())(_.map(queueKey)).toList
    while (sweep.nonEmpty) {
      val payload = c.cmd("LMOVE", sweep.head, processingKey, "RIGHT", "LEFT")
      if (payload == null) sweep = sweep.tail
      else JobWire.decode(payload.toString) match {
        case Some((job, epoch, attempt)) =>
          return Some(Claimed(job, epoch, attempt, payload.toString))
        case None => c.cmd("LREM", processingKey, "1", payload.toString) // torn/foreign: drop
      }
    }
    None
  }

  /** Mark, ack, un-mark. The loop acks right after the hand-off (nothing
    * between does I/O): if the LREM dies with the socket, the mark tells
    * the reaper this payload already runs. A hand-off that THROWS never
    * reaches here, so its payload stays parked UN-marked and the reaper
    * re-queues it through the store gate instead of dropping a job that
    * never started. */
  def ack(cl: Claimed[String]): Unit = {
    handedOff.add(cl.receipt)
    c.cmd("LREM", processingKey, "1", cl.receipt)
    handedOff.remove(cl.receipt): Unit
  }

  /** Socket/protocol errors (broker restart, dropped connection) are
    * transient: dial a fresh connection (throws while the broker is still
    * down; the loop retries next tick). */
  override def reset(): Unit = { sweep = Nil; c.reconnect() }

  override def close(): Unit = c.close()
}
