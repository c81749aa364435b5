package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import scala.util.control.NonFatal

/** A named, parameterized SQL task — the port of dungbeetle's Task
  * (`internal/core/tasks.go:16-24`): Name, Queue, Conc, Raw SQL, tagged
  * source pool, tagged result backends.
  */
final case class Task(
    name: String,
    queue: String,
    conc: Int,
    raw: String,
    dbs: SourcePool,
    resultBackends: SourcePool,
    isRaw: Boolean) {
  private[this] var parsed: LogicalPlan = _

  /** The task's statement, parsed once ([[TaskRegistry.parse]]): at load
    * unless `raw`, else on its first job. Every job binds its own copy
    * from this shared plan and never changes it. */
  private[graft] def plan(spark: SparkSession): LogicalPlan = synchronized {
    if (parsed == null) parsed = TaskRegistry.parse(spark, name, raw)
    parsed
  }
}

/** goyesql-style `.sql` task loader — the port of `LoadTasks`/`loadTasks`
  * (`internal/core/tasks.go:30-151`).
  *
  * Grammar (knadh/goyesql as the reference uses it):
  *   - `-- name: <task>` opens a block; subsequent lines belong to it;
  *   - other `-- key: value` comment lines inside a block are tags
  *     (`db`, `results`, `queue`, `conc`, `raw`);
  *   - non-comment lines accumulate into the SQL statement.
  *
  * Reference quirks preserved consciously:
  *   - the concurrency tag the loader actually reads is `conc`
  *     (`tasks.go:130`), while the reference's own sample files write
  *     `-- concurrency: 5` — which goyesql stores under `concurrency` and the
  *     loader silently ignores. The port accepts BOTH keys (documented
  *     deviation; ignoring the documented spelling helps nobody).
  *   - duplicate task names across files are rejected (`tasks.go:82-84`);
  *   - tasks without a `raw` tag are validated at load time the way the
  *     reference prepares them against every tagged DB (`tasks.go:108-121`):
  *     here the task's one parse ([[parse]]) catches syntax errors early,
  *     and its plan is the one every job binds (tables and args per job).
  *     A `raw` task is parsed on its first job instead; a parse error
  *     fails that job.
  */
object TaskRegistry {
  val DefaultQueue = "default"
  val DefaultConcurrency = 10 // reference --worker-concurrency default, cmd/init.go:44

  def load(
      spark: SparkSession,
      dirs: Seq[String],
      sources: SourcePool,
      resultBackends: SourcePool,
      defaultQueue: String = DefaultQueue,
      defaultConc: Int = DefaultConcurrency): Map[String, Task] = {
    val files = dirs.flatMap { d =>
      val p = Paths.get(d)
      if (!Files.isDirectory(p)) throw new IllegalArgumentException(s"unable to read SQL directory $d")
      Files.list(p).iterator().asScala.filter(_.toString.endsWith(".sql")).toSeq.sortBy(_.toString)
    }
    if (files.isEmpty)
      throw new IllegalArgumentException(s"no SQL files found in ${dirs.mkString(",")}")

    var tasks = Map.empty[String, Task]
    files.foreach { f =>
      parseFile(f).foreach { case (name, sql, tags) =>
        if (tasks.contains(name)) // tasks.go:82-84
          throw new IllegalArgumentException(s"duplicate query $name ($f)")
        val dbs = tags.get("db") match {
          case Some(t) => sources.filterByTags(t.split(",":String).toSeq)
          case None    => sources
        }
        val backends = tags.get("results") match {
          case Some(t) => resultBackends.filterByTags(t.split(",":String).toSeq)
          case None    => resultBackends
        }
        val isRaw = tags.contains("raw")
        val queue = tags.get("queue").map(_.trim).getOrElse(defaultQueue)
        val conc = tags.get("conc").orElse(tags.get("concurrency"))
          .map(_.trim.toInt).getOrElse(defaultConc)
        val task = Task(name, queue, conc, sql, dbs, backends, isRaw)
        if (!isRaw) { // load-time validation ~ db.Prepare (tasks.go:115-120)
          try task.plan(spark)
          catch { case e: Exception =>
            throw new IllegalArgumentException(s"error preparing SQL query $name: ${e.getMessage}")
          }
        }
        tasks += name -> task
      }
    }
    tasks
  }

  /** Task SQL's one way into the parser: placeholders become Spark
    * parameter markers ([[ArgBinder.markers]]), so a placeholder is legal
    * only where Spark's grammar takes a marker (an expression, not an
    * `INTERVAL` quantity or a type's precision). Spark's error for a marker
    * elsewhere names the marker (`:_1`), so it is reported with the
    * placeholder as `task` wrote it. */
  private[graft] def parse(spark: SparkSession, task: String, sql: String): LogicalPlan = {
    val (text, written) = ArgBinder.rewrite(sql)
    try spark.sessionState.sqlParser.parsePlan(text)
    catch { case NonFatal(e) =>
      // the head of the message, not the `== SQL ==` excerpt, which shows
      // every marker of the statement
      val head = Option(e.getMessage).getOrElse("").split("== SQL", 2)(0)
      Marker.findFirstMatchIn(head).flatMap(m => written.get(m.group(1))) match {
        case Some(p) => throw new IllegalArgumentException(s"placeholder $p of task $task " +
          "stands where Spark's grammar takes no value (an INTERVAL quantity, a type's " +
          "precision): use it in an expression instead", e)
        case None => throw e
      }
    }
  }

  private val Marker = """:_(\d+)""".r

  private val NameTag = """^\s*--\s*name\s*:\s*(\S+)\s*$""".r
  private val KeyTag = """^\s*--\s*([A-Za-z_]+)\s*:\s*(.*?)\s*$""".r

  /** Parse one goyesql file into (name, sql, tags) blocks, in file order. */
  def parseFile(f: Path): Seq[(String, String, Map[String, String])] =
    parseString(Files.readString(f))

  def parseString(content: String): Seq[(String, String, Map[String, String])] = {
    var blocks = Vector.empty[(String, StringBuilder, Map[String, String])]
    var cur: Option[Int] = None
    content.linesIterator.foreach {
      case NameTag(n) =>
        blocks :+= ((n, new StringBuilder, Map.empty[String, String]))
        cur = Some(blocks.size - 1)
      case KeyTag(k, v) if cur.isDefined && k != "name" =>
        val i = cur.get
        val (n, sql, tags) = blocks(i)
        blocks = blocks.updated(i, (n, sql, tags + (k -> v)))
      case line if cur.isDefined && !line.trim.startsWith("--") && line.trim.nonEmpty =>
        blocks(cur.get)._2.append(line).append('\n')
      case _ => () // preamble comments / blanks
    }
    blocks.map { case (n, sql, tags) =>
      (n, sql.toString.trim.stripSuffix(";"), tags)
    }
  }
}
