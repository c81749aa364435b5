package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{Sessionize, StreamOps}

import OpsFixture._

class StreamingSpec extends AnyFunSuite {
  test("stream sources read a Spark-written DIRECTORY fixture, not just single files") {
    // pathGlobFilter matches leaf names — over a directory of part-files a
    // '<table>.parquet' glob silently streams ZERO rows (this hid all
    // stream work on the 2× scale fixture). Rewrite the events fixture as
    // a directory and assert the replay still sees every row.
    val d = TempDirs.make("graft-dirfix").toString
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = spark.read
      .format("parquet")
      .option("pathGlobFilter", "events.parquet")
      .load(TestSpark.sf0001)
    ev.repartition(2).write.parquet(s"$d/events.parquet")
    val streamed = StreamOps.streamTumbling(spark, d)
    val viaFile = StreamOps.streamTumbling(spark, TestSpark.sf0001)
    assert(streamed.collect().sameElements(viaFile.collect()),
      "directory-layout replay diverged from single-file replay")
  }

  test("stream_tumbling equals the batch aggregation (exactly-once contract)") {
    val streamed = StreamOps.streamTumbling(spark, TestSpark.sf0001)
    val batch = Tables.load(spark, TestSpark.sf0001, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hour_start"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double").as("sum_value"))
      .orderBy(col("hour_start"), col("event_type"))
    assert(streamed.collect().sameElements(batch.collect()))
  }

  test("stream_join equals the batch interval join and bounds both sides' state") {
    val streamed = StreamOps.streamJoin(spark, TestSpark.sf0001)
    val events = Tables.load(spark, TestSpark.sf0001, "events")
    val c = events.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("cts"))
    val p = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts").as("pts"))
    val batch = c.join(p, expr(
        "cu = pu AND pts >= cts AND pts <= cts + interval 1 hour"))
      .groupBy(col("cu").as("user_id")).agg(count(lit(1)).as("n_attributed"))
      .orderBy(col("user_id"))
    assert(streamed.collect().sameElements(batch.collect()))
    // both stream sides must carry event-time watermarks — without them the
    // join's state never evicts and an unbounded run grows without limit
    val joinPlan = {
      val clicks = StreamOps.eventStreamPublic(spark, TestSpark.sf0001)
        .filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
        .withWatermark("click_ts", "1 hour")
      val purchases = StreamOps.eventStreamPublic(spark, TestSpark.sf0001)
        .filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"))
        .withWatermark("purchase_ts", "1 hour")
      clicks.join(purchases, expr(
        """c_user = p_user AND purchase_ts >= click_ts AND
           purchase_ts <= click_ts + interval 1 hour"""))
        .queryExecution.analyzed.toString
    }
    assert(joinPlan.contains("EventTimeWatermark"), joinPlan)
  }

  test("concurrent stream replays leave the session's shuffle partitions intact") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val fs = Seq(
      Future(StreamOps.streamTumbling(spark, TestSpark.sf0001).count()),
      Future(StreamOps.streamDedup(spark, TestSpark.sf0001).count()),
      Future(StreamOps.streamSliding(spark, TestSpark.sf0001).count()))
    val counts = Await.result(Future.sequence(fs), 300.seconds)
    assert(counts.forall(_ > 0))
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before,
      "stream runner must restore the session's shuffle partitions")
  }

  test("sessionization interval-merge equals the sorted-event fold (chunk independence)") {
    import graft.streaming.Sessionize.{Event, SessionState}
    val gap = Sessionize.gapMs
    // events deliberately out of order, with ties and containment overlaps
    val ts = Seq(0L, gap, gap * 3, gap * 3 + 1, gap, 2, gap * 10, gap * 11 + 5)
    val events = ts.map(t => Event(1L, t, 1.0))
    def foldSorted(es: Seq[Event]): List[SessionState] =
      Sessionize.chunkSessions(es.toArray, es.length)
    val expected = foldSorted(events)
    // every 2-way split of the (unsorted) event list must merge to the same
    // sessions the global sort produces
    for (k <- 0 to events.length) {
      val (l, r) = events.splitAt(k)
      val got = Sessionize.mergeSessions(foldSorted(l), foldSorted(r))
      assert(got == expected, s"split at $k diverged")
    }
  }

  test("sessionization handles a hot key spanning multiple chunks") {
    // one user owns 88% of the batch (9000 events > 2× the 4096-event chunk),
    // so the stateful step must chunk-and-merge, never buffer the whole slice
    val dir = TempDirs.make("graft-hotkey").toString
    val base = 1700000000000L
    val h = 3600 * 1000L
    val u1 = for (k <- 0 until 3; j <- 0 until 3000)
      yield (k.toLong * 3000 + j, base + k * 6 * h + j * 1000L, 1L)
    val u2 = (0 until 10).map(i => (9000L + i, base + i * h, 2L)) :+
      (9010L, base + 30 * h, 2L) // closes u2's 10th session, stays open itself
    val rows = scala.util.Random.shuffle((u1 ++ u2).toVector)
    import spark.implicits._
    rows.toDF("event_id", "ts_ms", "user_id")
      .select(col("event_id"), (col("ts_ms") * 1000000L).as("ts"), col("user_id"),
        lit("click").as("event_type"), lit(1.0).as("value"), lit("{}").as("props"))
      .coalesce(1).write.parquet(s"$dir/stage")
    // the stream source glob expects a single FILE named events.parquet
    val part = new java.io.File(s"$dir/stage").listFiles()
      .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).get
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(dir, "events.parquet"))
    val got = Sessionize.sessions(spark, dir)
      .select("user_id", "session_start", "session_end", "n_events")
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)].collect()
    val expected =
      (0 until 3).map { k =>
        val st = base + k * 6 * h
        (1L, new java.sql.Timestamp(st), new java.sql.Timestamp(st + 2999 * 1000L), 3000L)
      } ++ (0 until 10).map { i =>
        (2L, new java.sql.Timestamp(base + i * h), new java.sql.Timestamp(base + i * h), 1L)
      }
    assert(got.toSeq == expected.toSeq)
  }

  test("stream state-store count: derived from input volume") {
    assert(StreamOps.stateStores(5L << 20, 32) == 3) // ceil(5MiB / 2MiB)
    assert(StreamOps.stateStores(1L, 32) == 1)
    assert(StreamOps.stateStores(1L << 40, 32) == 32) // capped at parallelism
    assert(StreamOps.stateStores(-1L, 32) == 32) // unknown volume: don't shrink
  }

  test("sessionization: streaming flatMapGroupsWithState equals batch sessions") {
    val streamed = Sessionize.sessions(spark, TestSpark.sf0001)
      .select("user_id", "session_start", "session_end", "n_events")

    // batch reference: classic lag/cumsum gap sessionization. The streaming
    // side works in epoch millis (unix_millis(ts) → Event.ts_ms), so truncate
    // to millis here too for identical boundary arithmetic.
    val gap = Sessionize.gapMs
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val batch = Tables.load(spark, TestSpark.sf0001, "events")
      .select(col("user_id"),
        expr("timestamp_millis(unix_millis(ts))").as("ts"), col("value"))
      .withColumn("prev", lag(col("ts"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev").isNull ||
          (unix_millis(col("ts")) - unix_millis(col("prev"))) > gap, 1)
          .otherwise(0))
      .withColumn("sess_id", sum(col("new_sess")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sess_id"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"))
      .select("user_id", "session_start", "session_end", "n_events")

    // the stream only emits *closed* sessions: drop batch sessions still open
    // at end-of-stream (watermark never advanced past their gap)
    val maxTs = Tables.load(spark, TestSpark.sf0001, "events")
      .agg(max(unix_millis(col("ts")))).head.getLong(0)
    val closed = batch
      .filter(unix_millis(col("session_end")) + gap < maxTs)
      .orderBy(col("user_id"), col("session_start"))

    val a = streamed.collect()
    val b = closed.collect()
    assert(a.length == b.length, s"session count: streaming=${a.length} batch=${b.length}")
    assert(a.sameElements(b))
  }
}
