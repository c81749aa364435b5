package graft

import org.apache.spark.sql.SparkSession

/** Server entry point — the analog of the reference's binary
  * (`cmd/main.go:34-83`): load config, build the core (task registry, pools,
  * scheduler), start the HTTP API and the result sweeper, block.
  *
  * Usage: `runMain graft.Main --config config.toml [--port 6060]`
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val configPath = opts.getOrElse("--config",
      sys.error("usage: graft.Main --config <config.toml> [--port N]"))
    val port = opts.getOrElse("--port", "6060").toInt

    val cfg = GraftConfig.fromFile(configPath)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.scheduler.mode", "FAIR") // queue isolation across jobs
      // split sizing for large scans: 256 MB splits keep task count sane at
      // 100 TB (400k tasks) while staying well under executor memory
      .config("spark.sql.files.maxPartitionBytes", "256m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if (cfg.workerOnly) {
      // the reference's --worker-only mode (cmd/main.go:73-75): no HTTP API,
      // just a claim-and-execute loop over the shared control plane
      val stopWorker = cfg.bootWorker(spark, cfg.loadTasks(spark)).getOrElse(
        sys.error("[control] worker_only=true requires [control] dir or jdbc_url"))
      val plane = if (cfg.controlDir.nonEmpty) cfg.controlDir else cfg.controlJdbcUrl
      println(s"graft worker consuming $plane " +
        s"(queues=${if (cfg.workerQueues.isEmpty) "*" else cfg.workerQueues.mkString(",")})")
      sys.addShutdownHook(stopWorker())
      Thread.currentThread.join()
    } else {
      val core = cfg.boot(spark)
      // with a shared control plane the API process also runs a worker by
      // default; a fleet turns this off by running worker_only peers
      val localWorker = cfg.bootWorker(spark, core.tasks)
      val api = new HttpApi(core, port).start()
      val sweeper = new ResultSweeper(core.resultBackends, cfg.resultRetentionSec.toLong)
      sweeper.start()
      println(s"graft listening on :${api.boundPort} " +
        s"(tasks=${core.tasks.size}, sources=${core.sources.names.mkString(",")})")
      sys.addShutdownHook {
        api.stop(); sweeper.stop(); localWorker.foreach(_.apply()); core.shutdown()
      }
      Thread.currentThread.join() // block like the reference's worker loop
    }
  }
}
