package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, collect_set}

/** The set-up the operator suites share, built at most once per test JVM:
  * the session, the fixture directories and the replay helpers. A suite
  * takes them with `import OpsFixture._`. */
object OpsFixture {
  lazy val spark: SparkSession = TestSpark.spark
  val dir: String = TestSpark.sf0001

  /** Spark round() semantics on doubles: decimal HALF_UP at 6 places. */
  def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** ln quantized to DECIMAL(18,6) — the repo's engine-exact log unit. A
    * count or a ratio, without a lossy Long-to-Double widening. */
  def qln[N](x: N)(implicit n: Numeric[N]): BigDecimal =
    BigDecimal(math.log(n.toDouble(x))).setScale(6, BigDecimal.RoundingMode.HALF_UP)

  /** Compiles of generated code in this JVM so far. */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Wait until the session's listener bus has delivered every posted
    * event. The bus is `private[spark]`; its getter is public in bytecode. */
  def flushListenerBus(): Unit = {
    val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** "<logger>: <message>" for each event at `level` or above that a
    * logger named under `prefix` logs while `body` runs. The capture hangs
    * on the root logger's configuration, which every Spark logger uses:
    * attaching an appender to a named logger makes log4j add a logger
    * configuration that cuts that logger off from the console for the rest
    * of the test JVM, and so from the counts `tools/check_drift.py` takes
    * from the test log. */
  def logged(prefix: String, level: org.apache.logging.log4j.Level)(body: => Unit): Seq[String] = {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender(s"graft-test-capture-${java.util.UUID.randomUUID()}",
        null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLoggerName.startsWith(prefix) && e.getLevel.isMoreSpecificThan(level))
          seen.add(s"${e.getLoggerName}: ${e.getMessage.getFormattedMessage}")
    }
    val root = LogManager.getContext(false).asInstanceOf[LoggerContext].getConfiguration.getRootLogger
    capture.start()
    root.addAppender(capture, null, null)
    try body finally { root.removeAppender(capture.getName); capture.stop() }
    seen.toArray(Array.empty[String]).toSeq
  }

  /** `df`'s physical plan, as EXPLAIN FORMATTED prints it. */
  def fmt(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)

  /** Shuffles a formatted plan adds. Excludes ReusedExchange too: a reuse
    * node is not a new shuffle, and counting it would fail an
    * exchange-count pin for the wrong reason. */
  def nonBroadcastExchanges(plan: String): Int =
    "(?<!Broadcast)(?<!Reused)Exchange \\(".r.findAllIn(plan).length

  /** The lineitem co-purchase edge set (a < b), collected: small at
    * sf0.001. */
  lazy val localEdges: Set[(Long, Long)] =
    Tables.load(spark, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_partkey")).as("ps"))
      .collect()
      .flatMap { r =>
        val ps = r.getSeq[Long](1).sorted
        for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))
      }
      .toSet
}
