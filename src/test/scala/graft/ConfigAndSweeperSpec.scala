package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

class ConfigAndSweeperSpec extends AnyFunSuite {

  test("TOML-lite config parses the reference's structure (cmd/init.go:53-90)") {
    val cfg = GraftConfig.fromString(
      """# comment
        |[app]
        |default_job_ttl = "90s"   # trailing comment
        |default_queue = "reports"
        |task_dirs = ["sql", "more_sql"]
        |
        |[db.my_db]
        |dir = "/data/a"
        |[db.ch_db]
        |dir = "/data/b"
        |
        |[results.my_results]
        |dir = "/data/out"
        |""".stripMargin, env = Map.empty)
    assert(cfg.defaultTtlSec == 90)
    assert(cfg.defaultQueue == "reports")
    assert(cfg.taskDirs == Seq("sql", "more_sql"))
    assert(cfg.sources == Map("my_db" -> "/data/a", "ch_db" -> "/data/b"))
    assert(cfg.resultBackends == Map("my_results" -> "/data/out"))
  }

  test("env overlay overrides file values (main.go:45-50 DUNGBEETLE_* analog)") {
    val cfg = GraftConfig.fromString(
      "[app]\ndefault_queue = \"x\"\n[db.my_db]\ndir = \"/a\"\n[results.r]\ndir = \"/r\"\n",
      env = Map("GRAFT_APP__DEFAULT_QUEUE" -> "overridden",
                "GRAFT_DB__MY_DB__DIR" -> "/env-dir"))
    assert(cfg.defaultQueue == "overridden")
    assert(cfg.sources("my_db") == "/env-dir")
  }

  test("durations parse Go-style (60s / 5m / 1h)") {
    assert(GraftConfig.parseDuration("60s") == 60)
    assert(GraftConfig.parseDuration("5m") == 300)
    assert(GraftConfig.parseDuration("1h") == 3600)
    assert(GraftConfig.parseDuration("\"45s\"") == 45)
  }

  test("config boots a working core end-to-end") {
    val taskDir = TempDirs.make("cfg-tasks")
    Files.writeString(taskDir.resolve("t.sql"),
      "-- name: n_events\nSELECT COUNT(*) AS n FROM events;\n")
    val out = TempDirs.make("cfg-out").toString
    val cfg = GraftConfig.fromString(
      s"""[app]
         |task_dirs = ["$taskDir"]
         |[db.main]
         |dir = "${TestSpark.sf0001}"
         |[results.main]
         |dir = "$out"
         |""".stripMargin, env = Map.empty)
    val core = cfg.boot(TestSpark.spark)
    val job = core.postJob(JobReq("n_events"))
    val deadline = System.currentTimeMillis + 60000
    while (core.store.get(job.id).exists(s => s.state != JobState.Success &&
             s.state != JobState.Failure) && System.currentTimeMillis < deadline)
      Thread.sleep(25)
    assert(core.getJobStatus(job.id).state == JobState.Success)
    assert(core.results(job.id).head.getLong(0) == 1000L)
    core.shutdown()
  }

  test("[app] default_queue and default_job_ttl reach booted tasks and jobs") {
    val taskDir = TempDirs.make("cfg-defaults")
    Files.writeString(taskDir.resolve("t.sql"),
      "-- name: n_events\nSELECT COUNT(*) AS n FROM events;\n")
    val out = TempDirs.make("cfg-defaults-out").toString
    val cfg = GraftConfig.fromString(
      s"""[app]
         |default_job_ttl = "5m"
         |default_queue = "reports"
         |task_dirs = ["$taskDir"]
         |[db.main]
         |dir = "${TestSpark.sf0001}"
         |[results.main]
         |dir = "$out"
         |""".stripMargin, env = Map.empty)
    val core = cfg.boot(TestSpark.spark)
    try {
      assert(core.tasks("n_events").queue == "reports", "an untagged task takes the default queue")
      val job = core.postJob(JobReq("n_events"))
      assert(job.queue == "reports")
      assert(job.ttlSec == 300, "a job without a TTL takes the default TTL")
      val (_, grouped) = core.postJobGroup("", Seq(JobReq("n_events", ttlSec = 7), JobReq("n_events")))
      assert(grouped.map(_.ttlSec) == Seq(7, 300))
      assert(core.scheduler.awaitQuiescence(60000))
    } finally core.shutdown()
  }

  test("result sweeper deletes only expired results_ dirs") {
    val root = TempDirs.make("sweep").toString
    def mk(name: String, ageSec: Long): java.io.File = {
      val f = new java.io.File(root, name)
      f.mkdirs()
      f.setLastModified(System.currentTimeMillis - ageSec * 1000)
      f
    }
    val old = mk("results_old", 120)
    val fresh = mk("results_fresh", 10)
    val other = mk("not_a_result", 999)
    val sweeper = new ResultSweeper(SourcePool.single("b", root), retentionSec = 60)
    val deleted = sweeper.sweepOnce()
    assert(deleted == Seq("results_old"))
    assert(!old.exists() && fresh.exists() && other.exists())
  }

  test("result sweeper deletes an expired .results_* staging directory and keeps a fresh one") {
    val root = TempDirs.make("sweep-staging").toString
    def mk(name: String, ageSec: Long): java.io.File = {
      val f = new java.io.File(root, name)
      f.mkdirs()
      java.nio.file.Files.writeString(f.toPath.resolve("part-00000.snappy.parquet"), "x")
      f.setLastModified(System.currentTimeMillis - ageSec * 1000)
      f
    }
    val old = mk(".results_killed.0b5c", 120)
    val fresh = mk(".results_writing.7e21", 10)
    val other = mk(".not_a_result", 999)
    val sweeper = new ResultSweeper(SourcePool.single("b", root), retentionSec = 60)
    assert(sweeper.sweepOnce() == Seq(".results_killed.0b5c"))
    assert(!old.exists() && fresh.exists() && other.exists())
  }

  test("result sweeper expires results_% tables in jdbc: backends (ADVICE r1)") {
    val url = "jdbc:derby:memory:sweepdb;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("""CREATE TABLE "results_swp-1" (v INT)""")
      st.execute("""CREATE TABLE "keep_me" (v INT)""")
      // '_' is a single-char wildcard in metadata patterns: this matches
      // 'results_%' but is NOT a results table and must never be dropped
      st.execute("""CREATE TABLE "resultsXfoo" (v INT)""")
    } finally conn.close()
    val sweeper = new ResultSweeper(SourcePool.single("b", url), retentionSec = 60)
    val t0 = System.currentTimeMillis
    // first sweep stamps the table (first observation) — nothing dropped yet
    assert(sweeper.sweepOnce(t0).isEmpty)
    // within retention: still there
    assert(sweeper.sweepOnce(t0 + 30 * 1000).isEmpty)
    // past retention: dropped; non-results tables untouched
    assert(sweeper.sweepOnce(t0 + 120 * 1000) == Seq("results_swp-1"))
    val c2 = java.sql.DriverManager.getConnection(url)
    try {
      intercept[java.sql.SQLException] {
        c2.createStatement().executeQuery("""SELECT 1 FROM "results_swp-1"""")
      }
      c2.createStatement().executeQuery("""SELECT 1 FROM "keep_me"""")
      c2.createStatement().executeQuery("""SELECT 1 FROM "resultsXfoo"""")
    } finally c2.close()
  }

  test("jdbc result TTL is refreshed by a rewrite (ResultClock)") {
    val url = "jdbc:derby:memory:sweepdb2;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try conn.createStatement().execute("""CREATE TABLE "results_rw" (v INT)""")
    finally conn.close()
    val sweeper = new ResultSweeper(SourcePool.single("b", url), retentionSec = 60)
    val t0 = System.currentTimeMillis
    assert(sweeper.sweepOnce(t0).isEmpty)
    // the executor rewrites the table at t0+55s → retention restarts there
    Results.lastWrite.put((url, "results_rw"), t0 + 55 * 1000)
    assert(sweeper.sweepOnce(t0 + 70 * 1000).isEmpty,
      "fresh rewrite must not be expired from the first-seen stamp")
    assert(sweeper.sweepOnce(t0 + 120 * 1000) == Seq("results_rw"))
  }

  test("artifact cache: reuse on hit, rebuild when the source changes") {
    val src = TempDirs.make("graft-art-src")
    Files.writeString(src.resolve("orders.parquet"), "v1")
    var builds = 0
    def build(): String = graft.plans.ArtifactCache.getOrBuild(
      "test", src.toString, Seq("orders"), Seq(getClass)) { dir =>
      builds += 1
      Files.writeString(java.nio.file.Path.of(dir, "payload"), s"b$builds")
    }
    val p1 = build()
    val p2 = build()
    assert(p1 == p2 && builds == 1, "second call must hit the cache")
    assert(Files.readString(java.nio.file.Path.of(p1, "payload")) == "b1")
    // change the source bytes (and mtime) → new fingerprint → rebuild
    Files.writeString(src.resolve("orders.parquet"), "v2-longer")
    val p3 = build()
    assert(p3 != p1 && builds == 2, "source change must invalidate")
    // missing sources are an error, never a data-independent fingerprint
    intercept[IllegalArgumentException] {
      graft.plans.ArtifactCache.fingerprint(src.toString, Seq("nope"), Seq(getClass))
    }
  }

  test("artifact cache fingerprints content, not just length+mtime (ADVICE r2)") {
    val src = TempDirs.make("graft-art-content")
    val f = src.resolve("orders.parquet")
    Files.writeString(f, "AAAA")
    val fp1 = graft.plans.ArtifactCache.fingerprint(src.toString, Seq("orders"), Seq(getClass))
    val mtime = f.toFile.lastModified()
    Files.writeString(f, "BBBB") // same length
    f.toFile.setLastModified(mtime) // same mtime — in-place rewrite
    val fp2 = graft.plans.ArtifactCache.fingerprint(src.toString, Seq("orders"), Seq(getClass))
    assert(fp1 != fp2, "equal-length same-mtime rewrite must change the fingerprint")
  }

  test("result_materialize reuses one result root per source (no temp-dir leak)") {
    val r1 = graft.operators.MaterializeOps.outRoot(TestSpark.sf0001)
    val r2 = graft.operators.MaterializeOps.outRoot(TestSpark.sf0001)
    assert(r1 == r2, "repeat invocations must reuse the same root")
    val spark = TestSpark.spark
    graft.operators.MaterializeOps.resultMaterialize(spark, TestSpark.sf0001).count()
    graft.operators.MaterializeOps.resultMaterialize(spark, TestSpark.sf0001).count()
    // the executor rewrote results_mat-job in place: exactly one result dir
    val dirs = new java.io.File(r1).listFiles().filter(_.isDirectory)
    assert(dirs.map(_.getName).toSeq == Seq("results_mat-job"))
  }

  test("[control] dir boots the shared file control plane end-to-end") {
    val spark = TestSpark.spark
    val control = TempDirs.make("graft-ctl").toString
    val tasksDir = TempDirs.make("graft-ctl-tasks")
    java.nio.file.Files.writeString(tasksDir.resolve("t.sql"),
      """-- name: count_events
        |SELECT COUNT(*) AS n FROM events;
        |""".stripMargin)
    val results = TempDirs.make("graft-ctl-res").toString
    val cfg = GraftConfig.fromString(
      s"""[app]
         |task_dirs = ["$tasksDir"]
         |[db.db]
         |dir = "${TestSpark.sf0001}"
         |[results.res]
         |dir = "$results"
         |[control]
         |dir = "$control"
         |""".stripMargin, env = Map.empty)
    assert(cfg.controlDir == control && !cfg.workerOnly)
    val core = cfg.boot(spark)
    val stopWorker = cfg.bootWorker(spark, core.tasks).get
    try {
      val job = core.postJob(JobReq("count_events", jobId = "ctl-e2e"))
      val deadline = System.currentTimeMillis + 60000
      while (System.currentTimeMillis < deadline &&
        !core.store.get(job.id).exists(_.state == JobState.Success)) Thread.sleep(30)
      assert(core.store.get(job.id).exists(_.state == JobState.Success))
      // the control plane is on disk, visible to any process
      assert(new java.io.File(control, "state").isDirectory)
      assert(new java.io.File(control, "queue").isDirectory)
    } finally { stopWorker(); core.scheduler.shutdown() }
  }

  test("[control] jdbc_url boots the JDBC control plane end to end") {
    val spark = TestSpark.spark
    val tasksDir = TempDirs.make("cfg-jdbc-tasks")
    java.nio.file.Files.writeString(tasksDir.resolve("t.sql"),
      """-- name: count_events
        |SELECT COUNT(*) AS n FROM events;
        |""".stripMargin)
    val results = TempDirs.make("cfg-jdbc-res")
    val cfg = GraftConfig.fromString(
      s"""[app]
         |task_dirs = ["$tasksDir"]
         |[db.db]
         |dir = "${TestSpark.sf0001}"
         |[results.res]
         |dir = "$results"
         |[control]
         |jdbc_url = "jdbc:derby:memory:cfgctl;create=true"
         |""".stripMargin, env = Map.empty)
    assert(cfg.controlJdbcUrl.nonEmpty && cfg.hasControlPlane)
    val core = cfg.boot(spark)
    val stopWorker = cfg.bootWorker(spark, core.tasks).get
    try {
      val job = core.postJob(JobReq("count_events", jobId = "ctl-jdbc-e2e"))
      val deadline = System.currentTimeMillis + 60000
      while (System.currentTimeMillis < deadline &&
        !core.store.get(job.id).exists(_.state == JobState.Success)) Thread.sleep(30)
      assert(core.store.get(job.id).exists(_.state == JobState.Success))
    } finally { stopWorker(); core.scheduler.shutdown() }
  }

  test("[control] with both dir and jdbc_url is refused, naming both keys") {
    val toml = """[control]
                 |dir = "/tmp/graft-ctl"
                 |jdbc_url = "jdbc:derby:memory:cfgboth;create=true"
                 |""".stripMargin
    val e = intercept[IllegalArgumentException](GraftConfig.fromString(toml, env = Map.empty))
    assert(e.getMessage.contains("dir") && e.getMessage.contains("jdbc_url"), e.getMessage)
    // the environment overlay can make the second key too
    intercept[IllegalArgumentException](GraftConfig.fromString("[control]\ndir = \"/tmp/x\"\n",
      env = Map("GRAFT_CONTROL__JDBC_URL" -> "jdbc:derby:memory:cfgenv;create=true")))
  }
}
