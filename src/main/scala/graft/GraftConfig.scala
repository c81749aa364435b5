package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** TOML-lite config bootstrap — the port of the reference's config surface
  * (`config.toml.sample`, loader `cmd/init.go:53-90`, env overlay
  * `cmd/main.go:45-50`).
  *
  * Port dialect (sources are parquet directories, not DSNs; no Redis):
  * {{{
  * [app]
  * default_job_ttl = "60s"
  * default_queue = "default"
  * task_dirs = ["sql"]
  *
  * [db.my_db]
  * dir = "/data/sf0.01"
  *
  * [results.my_results]
  * dir = "/data/results"
  * }}}
  *
  * Environment overlay: `GRAFT_APP__DEFAULT_QUEUE=x` overrides
  * `[app] default_queue` — same `PREFIX_SECTION__KEY` scheme as the
  * reference's `DUNGBEETLE_*` overlay.
  */
final case class GraftConfig(
    defaultTtlSec: Int,
    defaultQueue: String,
    resultRetentionSec: Int,
    taskDirs: Seq[String],
    sources: Map[String, String],
    resultBackends: Map[String, String],
    /** `[control] dir` — shared directory for the cross-process control
      * plane (state + queue). Empty = in-process defaults. */
    controlDir: String = "",
    /** `[control] jdbc_url` — database-backed control plane for topologies
      * with no shared filesystem (the reference's Redis role over any SQL
      * database). Mutually exclusive with `dir`: setting both is an error. */
    controlJdbcUrl: String = "",
    /** `[control] worker_only` — consume the shared queue without serving
      * the HTTP API (the reference's `--worker-only`). Requires `dir` or
      * `jdbc_url`. */
    workerOnly: Boolean = false,
    /** `[control] queues` — optional queue filter for worker processes. */
    workerQueues: Seq[String] = Nil) {

  /** True when a cross-process control plane is configured. */
  def hasControlPlane: Boolean = plane.isDefined

  /** The shared control plane's state store, queue and worker thread name;
    * None for the in-process default. */
  private def plane: Option[(() => JobStateStore, () => SharedQueue, String)] =
    if (controlDir.nonEmpty) Some((
      () => new FileJobStateStore(new java.io.File(controlDir, "state")),
      () => new FileQueue(new java.io.File(controlDir, "queue")), "graft-file-queue-worker"))
    else if (controlJdbcUrl.nonEmpty) Some((() => new JdbcJobStateStore(controlJdbcUrl),
      () => new JdbcQueue(controlJdbcUrl), "graft-jdbc-queue-worker"))
    else None

  /** The task registry, each task parsed once, for a worker-only process.
    * A process that also serves the API loads it once, in [[boot]], and
    * hands `core.tasks` to [[bootWorker]]. */
  def loadTasks(spark: org.apache.spark.sql.SparkSession): Map[String, Task] =
    TaskRegistry.load(spark, taskDirs, SourcePool(sources), SourcePool(resultBackends), defaultQueue)

  /** The API core: in-process, or the shared plane's store and a
    * [[QueueBroker]] over its queue (a queue worker, started by Main when
    * not API-only, executes the claims). */
  def boot(spark: org.apache.spark.sql.SparkSession): GraftCore = plane match {
    case None => GraftCore(spark, taskDirs, sources, resultBackends, defaultQueue, defaultTtlSec)
    case Some((mkStore, mkQueue, _)) =>
      val src = SourcePool(sources)
      val bk = SourcePool(resultBackends)
      new GraftCore(spark, TaskRegistry.load(spark, taskDirs, src, bk, defaultQueue), src, bk,
        mkStore = mkStore, mkBroker = (_, st) => new QueueBroker(mkQueue(), st),
        defaultTtlSec = defaultTtlSec)
  }

  /** Start a queue worker over the shared control plane (no-op handle when
    * no control plane is configured) running `tasks`. Returns the worker's
    * stop handle. */
  def bootWorker(spark: org.apache.spark.sql.SparkSession, tasks: Map[String, Task]): Option[() => Unit] =
    plane.map { case (mkStore, mkQueue, threadName) =>
      val w = new ClaimLoop(spark, tasks, mkStore(), mkQueue(),
        Some(workerQueues).filter(_.nonEmpty), ClaimLoop.DefaultPollMs, threadName)
      () => w.stop()
    }
}

object GraftConfig {
  private val Section = """^\s*\[([A-Za-z0-9_.]+)\]\s*$""".r
  private val KeyVal = """^\s*([A-Za-z0-9_]+)\s*=\s*(.+?)\s*$""".r

  def fromFile(path: String, env: Map[String, String] = sys.env): GraftConfig =
    fromString(Files.readString(Paths.get(path)), env)

  def fromString(toml: String, env: Map[String, String] = sys.env): GraftConfig = {
    var section = ""
    var kv = Map.empty[String, String] // "section.key" -> raw value
    toml.linesIterator.foreach {
      case Section(s) => section = s
      case KeyVal(k, v) if !v.startsWith("#") =>
        kv += s"$section.$k" -> stripComment(v)
      case _ => ()
    }
    // env overlay: GRAFT_DB__MY_DB__DIR=... → db.my_db.dir (main.go:45-50)
    env.foreach { case (k, v) =>
      if (k.startsWith("GRAFT_")) {
        val key = k.stripPrefix("GRAFT_").toLowerCase.replace("__", ".")
        kv += key -> v
      }
    }
    def str(key: String, default: String): String =
      kv.get(key).map(unquote).getOrElse(default)
    def sub(prefix: String, leaf: String): Map[String, String] =
      kv.collect { case (k, v) if k.startsWith(prefix + ".") && k.endsWith("." + leaf) =>
        k.stripPrefix(prefix + ".").stripSuffix("." + leaf) -> unquote(v)
      }
    if (str("control.dir", "").nonEmpty && str("control.jdbc_url", "").nonEmpty)
      throw new IllegalArgumentException(
        "[control] sets both dir and jdbc_url: choose one shared control plane")
    GraftConfig(
      defaultTtlSec = parseDuration(str("app.default_job_ttl", "60s")),
      defaultQueue = str("app.default_queue", TaskRegistry.DefaultQueue),
      // result lifetime is its own knob (the reference's [job_queue.state]
      // expiry class), NOT a multiple of the job-runtime TTL
      resultRetentionSec = parseDuration(str("app.result_retention", "1h")),
      taskDirs = parseArray(kv.getOrElse("app.task_dirs", "[]")),
      sources = sub("db", "dir"),
      resultBackends = sub("results", "dir"),
      controlDir = str("control.dir", ""),
      controlJdbcUrl = str("control.jdbc_url", ""),
      workerOnly = str("control.worker_only", "false").toBoolean,
      workerQueues = parseArray(kv.getOrElse("control.queues", "[]")))
  }

  private def stripComment(v: String): String = {
    // naive but sufficient: strip an unquoted trailing comment
    var inQ = false
    val sb = new StringBuilder
    for (c <- v) {
      if (c == '"') inQ = !inQ
      if (c == '#' && !inQ) return sb.toString.trim
      sb.append(c)
    }
    sb.toString.trim
  }

  private def unquote(v: String): String = {
    val t = v.trim
    if (t.length >= 2 && t.startsWith("\"") && t.endsWith("\"")) t.substring(1, t.length - 1)
    else t
  }

  /** "60s" / "5m" / "1h" / bare seconds → seconds (init.go uses Go durations). */
  def parseDuration(s: String): Int = {
    val t = unquote(s)
    if (t.endsWith("ms")) math.max(t.dropRight(2).trim.toInt / 1000, 1)
    else if (t.endsWith("s")) t.dropRight(1).trim.toInt
    else if (t.endsWith("m")) t.dropRight(1).trim.toInt * 60
    else if (t.endsWith("h")) t.dropRight(1).trim.toInt * 3600
    else t.toInt
  }

  private def parseArray(v: String): Seq[String] = {
    val t = v.trim
    if (!t.startsWith("[")) Seq(unquote(t))
    else t.stripPrefix("[").stripSuffix("]").split(",").toSeq
      .map(_.trim).filter(_.nonEmpty).map(unquote)
  }
}
