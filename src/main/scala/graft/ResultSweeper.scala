package graft

import java.io.File
import java.sql.DriverManager
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import scala.util.control.NonFatal

/** Result-TTL sweeper: deletes `results_<jobID>` directories (filesystem
  * backends) and drops `results_%` tables (jdbc: backends) older than a
  * retention period.
  *
  * The reference configures result expiry but its SQL result backend never
  * enforces it (README: "TTL ... unsupported by SQL result backend"; the
  * expiry settings only apply to the Redis state, `config.toml.sample`
  * `[job_queue.state] expiry`). The port closes that gap the way the SURVEY
  * (§4) prescribes: a background sweep over the backend directories keyed on
  * the parquet commit mtime. Results-cache semantics are preserved — a
  * re-run of the same job ID rewrites the directory and refreshes its mtime.
  *
  * JDBC backends expose no portable table-creation time, so the sweeper
  * stamps each `results_%` table when it first observes it — refreshed by
  * [[ResultClock]] whenever the executor rewrites the table — and drops it
  * once the stamp ages past retention. After a process restart the clock
  * starts over (conservative: a table is never dropped sooner than retention
  * after first observation).
  */
final class ResultSweeper(backends: SourcePool, retentionSec: Long) {
  private val pool = Executors.newSingleThreadScheduledExecutor(r => {
    val t = new Thread(r, "graft-result-sweeper"); t.setDaemon(true); t
  })
  // (backend URL, table name) → first-seen millis
  private val jdbcSeen = new ConcurrentHashMap[(String, String), java.lang.Long]()

  /** One sweep pass; returns the deleted result directory/table names. */
  def sweepOnce(nowMs: Long = System.currentTimeMillis): Seq[String] =
    backends.sources.values.toSeq.flatMap { dir =>
      if (dir.startsWith("jdbc:")) sweepJdbc(dir, nowMs)
      else {
        val root = new File(dir)
        Option(root.listFiles()).getOrElse(Array.empty)
          .filter(f => f.isDirectory && f.getName.startsWith("results_"))
          .filter(f => nowMs - f.lastModified() > retentionSec * 1000)
          .map { f => FsUtil.deleteRecursive(f); f.getName }
          .toSeq
      }
    }.sorted

  private def sweepJdbc(url: String, nowMs: Long): Seq[String] = {
    val quote = Executor.identQuote(url)
    try {
      val conn = DriverManager.getConnection(url)
      try {
        // the executor writes unqualified results_<id> tables into the
        // connection's DEFAULT catalog/schema, so scope the metadata scan the
        // same way — a null/null scan walks every schema of the backend and
        // would expire another application's results_* tables
        // Throwable, not NonFatal: a pre-JDBC-4.1 driver missing
        // getSchema/getCatalog throws AbstractMethodError (a LinkageError),
        // which must degrade to an unscoped pattern, not escape the
        // scheduled task and silently cancel all future sweeps
        val catalog = try Option(conn.getCatalog).filter(_.nonEmpty).orNull
          catch { case _: Throwable => null }
        val schemaPat = try Option(conn.getSchema).filter(_.nonEmpty).orNull
          catch { case _: Throwable => null }
        val rs = conn.getMetaData.getTables(catalog, schemaPat, "results_%", Array("TABLE"))
        // metadata patterns treat '_' as a single-char wildcard, so 'results_%'
        // also matches e.g. 'resultsXfoo' — post-filter on the literal prefix
        // (the filesystem branch's exact startsWith) before anything is dropped
        val present = Iterator.continually(rs).takeWhile(_.next())
          .map(r => (Option(r.getString("TABLE_SCHEM")).filter(_.nonEmpty), r.getString("TABLE_NAME")))
          .filter(_._2.startsWith("results_"))
          .toVector
        // stamp new tables at now; refresh from the executor's write clock on
        // rewrite; forget vanished ones (purged via the API) so a later
        // same-ID job starts a fresh retention clock
        val live = present.map { case (schem, t) =>
          val seen: Long = jdbcSeen.computeIfAbsent((url, t), _ => nowMs)
          val basis = math.max(seen, ResultClock.lastWrite(url, t).getOrElse(0L))
          (basis, schem, t)
        }
        jdbcSeen.keySet.removeIf(k => k._1 == url && !present.exists(_._2 == k._2))
        live.collect { case (basis, schem, t) if nowMs - basis > retentionSec * 1000 =>
          // per-table guard: one undroppable table (permissions, foreign
          // schema) must not wedge expiry of the rest of the pass
          try {
            val qualified = schem.map(sc => s"$quote$sc$quote.").getOrElse("") + s"$quote$t$quote"
            conn.createStatement().execute(s"DROP TABLE $qualified")
            jdbcSeen.remove((url, t))
            ResultClock.forget(url, t)
            Some(t)
          } catch { case NonFatal(_) => None }
        }.flatten
      } finally conn.close()
    } catch { case NonFatal(_) => Nil } // backend down: retry next sweep
  }

  def start(periodSec: Long = 60): Unit =
    // belt-and-braces: ANY escaped throwable cancels a scheduleAtFixedRate
    // task permanently, so the periodic body never lets one out
    pool.scheduleAtFixedRate(() => {
      try { sweepOnce(): Unit } catch { case _: Throwable => () }
    }, periodSec, periodSec, TimeUnit.SECONDS): Unit

  def stop(): Unit = pool.shutdown()
}

/** In-JVM write clock for JDBC result tables: the executor stamps each
  * `results_<jobID>` table when it (re)writes it, so sweeper retention
  * measures from the last write — a job re-run refreshes its result's TTL
  * exactly like the filesystem branch's directory mtime. */
object ResultClock {
  private val writes = new ConcurrentHashMap[(String, String), java.lang.Long]()
  def touch(url: String, table: String, nowMs: Long = System.currentTimeMillis): Unit = {
    writes.put((url, table), nowMs); ()
  }
  def lastWrite(url: String, table: String): Option[Long] =
    Option(writes.get((url, table))).map(_.longValue)
  def forget(url: String, table: String): Unit = { writes.remove((url, table)); () }
}
