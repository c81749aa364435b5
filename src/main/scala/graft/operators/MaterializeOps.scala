package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft._

/** The reference's flagship end-to-end path as a checkable query:
  * task SQL + bound arg → execute → canonical cast → materialize the
  * job's result → read the materialized table back
  * (`core.go:450-572` + README "results cache" reads). The returned frame is
  * the *re-read* of the result directory, so the oracle also certifies the
  * canonical-type write path (DOUBLE total, DATE entry_date — the
  * server_test.go.bak:261-286 assertion, value-checked).
  */
object MaterializeOps {
  type Q = (SparkSession, String) => DataFrame

  val taskSql: String =
    """SELECT CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total,
      |       CAST(ts AS DATE) AS entry_date
      |FROM events WHERE user_id = $1 GROUP BY CAST(ts AS DATE)""".stripMargin

  // One stable result root per (JVM, source dir), reused across invocations:
  // the executor's results-cache semantics rewrite the job's result in place,
  // so repeat runs cost zero extra disk (a fresh createTempDirectory per call
  // leaked a dir per invocation), and the single shared exit hook removes the
  // roots at JVM exit. The root name embeds the PID (two JVMs against the
  // same source must not share a directory the other's exit hook deletes —
  // and the job ID inside is constant) and an md5 of the source path (a
  // hashCode would let two sources collide onto one root). Roots left by
  // dead JVMs (crashes skip exit hooks) are reaped on first use.
  private val outRoots = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private lazy val outRootHook: Unit = {
    sys.addShutdownHook(outRoots.values.forEach(p =>
      FsUtil.deleteRecursive(new java.io.File(p))))
    ()
  }
  private val RootRe = """graft-mat-(\d+)-[0-9a-f]+""".r
  private[graft] def outRoot(d: String): String = {
    outRootHook
    outRoots.computeIfAbsent(d, dd => {
      val tmp = new java.io.File(System.getProperty("java.io.tmpdir", "/tmp"))
      Option(tmp.listFiles()).getOrElse(Array.empty).foreach { f =>
        f.getName match {
          case RootRe(pid) if ProcessHandle.of(pid.toLong).isEmpty =>
            FsUtil.deleteRecursive(f)
          case _ => ()
        }
      }
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(dd.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
      val f = new java.io.File(tmp, s"graft-mat-${ProcessHandle.current().pid()}-$md")
      f.mkdirs()
      f.getPath
    })
  }

  val resultMaterialize: Q = (s, d) => {
    val task = Task("get_profit_summary", "default", 1, taskSql,
      SourcePool.single("src", d), SourcePool.single("res", outRoot(d)), isRaw = false)
    val job = Job("mat-job", task.name, task.queue, None, 0, 60, Seq("1"), None)
    val res = Executor.run(s, job, task)
    require(res.count >= 0)
    s.read.parquet(res.resultDir).orderBy(col("entry_date"))
  }

  /** Partitioned result materialization: the layout a results cache needs
    * once result tables themselves are big — written `PARTITION BY` a read
    * key, so downstream consumers prune at file listing instead of scanning
    * the whole result. The returned frame re-reads ONE partition through a
    * partition filter (PlanSpec-style pruning is asserted in spec); the
    * oracle certifies the written values round-trip. */
  val resultPartitioned: Q = (s, d) => {
    import org.apache.spark.sql.functions._
    val out = s"${outRoot(d)}/results_part-job"
    Tables.load(s, d, "events")
      .groupBy(col("event_type"), expr("CAST(ts AS DATE)").as("day"))
      .agg(count(lit(1)).as("n"))
      .write.mode("overwrite").partitionBy("event_type").parquet(out)
    s.read.parquet(out)
      .filter(col("event_type") === "purchase")
      .select(col("event_type"), col("day"), col("n"))
      .orderBy(col("day"))
  }

  val queries: Map[String, Q] = Map(
    "result_materialize" -> resultMaterialize,
    "result_partitioned" -> resultPartitioned)

  val oracle: Map[String, String] = Map(
    "result_partitioned" ->
      """SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
           COUNT(*) AS n
         FROM events WHERE event_type = 'purchase'
         GROUP BY 1, 2 ORDER BY day""",
    "result_materialize" ->
      """SELECT CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total,
         CAST(date_trunc('day', ts) AS DATE) AS entry_date
         FROM events WHERE user_id = 1 GROUP BY CAST(date_trunc('day', ts) AS DATE)
         ORDER BY entry_date""",
  )
}
