package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import OpsFixture._

/** Semantics + plan shape for [[graft.operators.AnalyticsOps]] and the
  * foreachBatch upsert. Values are pinned by the DuckDB oracles; these specs
  * pin the invariants and the 100 TB plan shapes.
  */
class AnalyticsOpsSpec extends AnyFunSuite {
  private val sf = TestSpark.sf001

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  private def formatted(name: String) =
    q(name).queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)

  test("events_funnel stages are monotonically shrinking and ordered") {
    val rows = q("events_funnel").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("1_view", "2_click", "3_purchase"))
    val counts = rows.map(_.getLong(1))
    assert(counts(0) >= counts(1) && counts(1) >= counts(2),
      s"funnel must shrink: ${counts.mkString(" -> ")}")
    assert(counts(0) > 0)
  }

  test("retention_cohort offsets are non-negative and week-0 covers every cohort user") {
    val rows = q("retention_cohort").collect()
    assert(rows.forall(_.getLong(1) >= 0), "a user can't be active before their cohort")
    // every user is active in their own first week, so offset-0 rows count
    // the full cohort: summing them equals the number of distinct users
    val week0 = rows.filter(_.getLong(1) == 0).map(_.getLong(2)).sum
    val users = Tables.load(spark, sf, "events").select("user_id").distinct().count()
    assert(week0 == users, s"week-0 sum $week0 != $users distinct users")
  }

  test("lm_trigram probabilities are valid conditionals") {
    val rows = q("lm_trigram").collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      val (c3, ctx, p) = (r.getLong(4), r.getLong(5), r.getDouble(6))
      assert(c3 <= ctx, "trigram count can't exceed its context count")
      assert(p > 0 && p <= 1.0, s"p=$p out of range")
      assert(math.abs(p - c3.toDouble / ctx) < 1e-6)
    }
  }

  test("top-k queries use TakeOrderedAndProject, not a single-partition sort") {
    val plan = formatted("text_boilerplate")
    assert(plan.contains("TakeOrderedAndProject"),
      s"text_boilerplate should TakeOrderedAndProject its global top-20:\n$plan")
    // lm_trigram's top-20 now runs over the PINNED count fold (the r16
    // window removal), so the final explain truncates at the pin — assert
    // the heap on the pre-pin construction the query actually executes
    import org.apache.spark.sql.functions.col
    val top = graft.operators.AnalyticsOps.lmTrigramCounts(spark, sf)
      .orderBy(col("c3").desc, col("w1"), col("w2"), col("w3")).limit(20)
    val topPlan = top.queryExecution.executedPlan.toString
    assert(topPlan.contains("TakeOrderedAndProject"),
      s"lm_trigram's top-20 should TakeOrderedAndProject:\n$topPlan")
  }

  test("text_diversity is map-side (no Exchange before the final sort) and in range") {
    val plan = formatted("text_diversity")
    assert(!plan.split("Sort").head.contains("Exchange"),
      s"diversity fold must not shuffle:\n$plan")
    q("text_diversity").collect().foreach { r =>
      val (n, nd, ss, simpson) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(nd <= n && ss >= n && ss <= n * n)
      assert(simpson >= 0.0 && simpson < 1.0, s"simpson=$simpson")
      // exact identity: the fold's Σcount² equals the relational one
      assert(math.abs(simpson - (1.0 - ss.toDouble / (n.toDouble * n))) < 1e-6)
    }
  }

  test("events_pathing rows are a full transition matrix with conditionals summing to 1") {
    val rows = q("events_pathing").collect()
    val byCur = rows.groupBy(_.getString(0))
    byCur.foreach { case (cur, rs) =>
      val total = rs.map(_.getDouble(3)).sum
      assert(math.abs(total - 1.0) < 1e-4, s"$cur conditionals sum to $total")
    }
    assert(rows.map(_.getLong(2)).sum ==
      Tables.load(spark, sf, "events").count() -
        Tables.load(spark, sf, "events").select("user_id").distinct().count(),
      "transitions = events - one per user (the last event has no successor)")
  }

  test("scd2_build intervals tile each user's history exactly") {
    val rows = q("scd2_build").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2),
        Option(r.getTimestamp(3))))
    rows.groupBy(_._1).foreach { case (user, rs) =>
      val sorted = rs.sortBy(_._3.getTime)
      // exactly one open interval, and it is the last
      assert(sorted.count(_._4.isEmpty) == 1 && sorted.last._4.isEmpty)
      sorted.sliding(2).foreach {
        case Array((_, s1, _, Some(end)), (_, s2, start, _)) =>
          assert(end == start, s"user $user: gap between $end and $start")
          assert(s1 != s2, s"user $user: consecutive intervals share state $s1")
        case _ => ()
      }
    }
  }

  test("result_partitioned read-back prunes to the filtered partition") {
    val plan = formatted("result_partitioned")
    assert(plan.contains("PartitionFilters: [isnotnull(event_type"),
      s"partition filter should prune at file listing:\n$plan")
    val rows = q("result_partitioned").collect()
    assert(rows.nonEmpty && rows.forall(_.getString(0) == "purchase"))
  }

  test("events_anomaly z-scores replay from the emitted exact moments") {
    val rows = q("events_anomaly").collect()
    assert(rows.nonEmpty)
    // group by type, walk days in order and recompute the trailing stats
    val daily = Tables.load(spark, sf, "events")
      .groupBy(col("event_type"), expr("CAST(ts AS DATE)").as("day"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2)))
    val byType = daily.groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3)).toMap
    rows.groupBy(_.getString(0)).foreach { case (tp, rs) =>
      val ns = byType(tp)
      val sorted = rs.sortBy(_.getDate(1).toString)
      // the first scored day is day index 7 (needs a full trailing week)
      sorted.zipWithIndex.foreach { case (r, i) =>
        val idx = i + 7
        val trail = ns.slice(idx - 7, idx)
        assert(r.getLong(3) == trail.sum, s"$tp day $idx trailing sum")
        val mean = trail.sum / 7.0
        val variance = (trail.map(x => x * x).sum - trail.sum * (trail.sum / 7.0)) / 7.0
        val z = if (variance == 0) 0.0 else (ns(idx) - mean) / math.sqrt(variance)
        assert(math.abs(r.getDouble(4) - z) < 1e-5, s"$tp day $idx z")
      }
    }
  }

  test("text_novelty is a valid share and exact duplicates are fully non-novel") {
    val rows = q("text_novelty").collect()
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1))
      val nov = r.getDouble(3)
      assert(nov >= 0.0 && nov <= 1.0)
    }
    // plant two identical docs: each one's trigrams all appear in the other
    import spark.implicits._
    val planted = Seq((1L, "a b c d e f g h"), (2L, "a b c d e f g h"),
      (3L, "q r s t u v w x")).toDF("doc_id", "text")
    planted.createOrReplaceTempView("planted_docs")
    val tri = planted.select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(w) - 2),
             i -> concat_ws(' ', element_at(w, i), element_at(w, i + 1),
                            element_at(w, i + 2)))""")).as("tri"))
    val df = tri.distinct().groupBy(col("tri")).agg(count(lit(1)).as("tri_df"))
    val nov = tri.join(df, "tri").groupBy(col("doc_id"))
      .agg((lit(1.0) - sum(when(col("tri_df") >= 2, 1L).otherwise(0L))
        .cast("double") / count(lit(1))).as("novelty"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(nov(1L) == 0.0 && nov(2L) == 0.0, "copies share every trigram")
    assert(nov(3L) == 1.0, "unique doc shares none")
  }

  test("events_dau_wau: DAU never exceeds WAU, stickiness in (0, 1]") {
    q("events_dau_wau").collect().foreach { r =>
      val (dau, wau, st) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(dau <= wau, s"${r.getDate(0)}: dau $dau > wau $wau")
      assert(st > 0.0 && st <= 1.0)
    }
  }

  test("join_asof_nearest picks the closer of the backward/forward matches") {
    def micros(x: Any): Long = x match {
      case t: java.sql.Timestamp => t.getTime * 1000 + (t.getNanos / 1000) % 1000
      case d: java.time.LocalDateTime =>
        d.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + d.getNano / 1000
      case other => fail(s"unexpected time type ${other.getClass}")
    }
    def matches(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> Option(r.get(2))).toMap
    val nearest = matches(q("join_asof_nearest"))
    val bwd = matches(q("join_asof"))
    val fwd = matches(q("join_asof_forward"))
    val ts = Tables.load(spark, sf, "events")
      .select(col("event_id"), col("ts")).collect()
      .map(r => r.getLong(0) -> micros(r.get(1))).toMap
    nearest.foreach { case (id, got) =>
      val expected = (bwd(id), fwd(id)) match {
        case (None, f) => f
        case (b, None) => b
        case (Some(b), Some(f)) =>
          if (ts(id) - micros(b) <= micros(f) - ts(id)) Some(b) else Some(f)
      }
      assert(got.map(micros) == expected.map(micros),
        s"event $id: got $got expected $expected")
    }
  }

  test("events_error_burst runs replay from a driver-side scan of one user") {
    val rows = q("events_error_burst").collect()
    assert(rows.nonEmpty, "fixture should contain at least one 3+ error run")
    assert(rows.forall(_.getLong(3) >= 3))
    val uid = rows.head.getLong(0)
    val seq = Tables.load(spark, sf, "events").filter(col("user_id") === uid)
      .select(col("ts"), col("event_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id")).collect()
      .map(r => (r.getTimestamp(0), r.getString(2)))
    // replay run-length encoding over the user's ordered events
    val runs = scala.collection.mutable.ArrayBuffer.empty[(java.sql.Timestamp, java.sql.Timestamp, Long)]
    var start = 0
    for (i <- 1 to seq.length) {
      if (i == seq.length || seq(i)._2 != seq(start)._2) {
        if (seq(start)._2 == "error" && i - start >= 3)
          runs += ((seq(start)._1, seq(i - 1)._1, (i - start).toLong))
        start = i
      }
    }
    val got = rows.filter(_.getLong(0) == uid)
      .map(r => (r.getTimestamp(1), r.getTimestamp(2), r.getLong(3))).toSeq
    assert(got == runs.toSeq, s"user $uid: got $got expected $runs")
  }

  test("corpus_report components recompute from the base tables") {
    val r = q("corpus_report").head
    val docs = Tables.load(spark, sf, "documents")
    assert(r.getLong(0) == docs.count())
    val dupDocs = docs.groupBy(md5(col("text"))).count()
      .filter(col("count") > 1)
      .agg(coalesce(sum(col("count")), lit(0L))).head.getLong(0)
    assert(r.getLong(3) == dupDocs)
    assert(r.getDouble(4) >= 0 && r.getDouble(4) < 1)
    assert(r.getLong(5) <= r.getLong(0))
  }

  test("dedup_cluster_stats tiles the corpus and is internally consistent") {
    val rows = q("dedup_cluster_stats").collect()
    rows.foreach { r =>
      assert(r.getLong(0) * r.getLong(1) == r.getLong(2),
        s"size ${r.getLong(0)}: sz*n_clusters != n_docs")
    }
    val covered = rows.map(_.getLong(2)).sum
    assert(covered == Tables.load(spark, sf, "documents").count(),
      "every document belongs to exactly one cluster")
  }

  test("sim_ivf_recall equals the overlap of the two checked queries") {
    val r = q("sim_ivf_recall").head
    val exact = q("sim_search_topk").collect().map(_.getLong(0)).toSet
    val ivf = q("sim_search_ivf").collect().map(_.getLong(0)).toSet
    assert(r.getLong(0) == exact.size && r.getLong(1) == ivf.size)
    assert(r.getLong(2) == (exact intersect ivf).size)
    assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
  }

  test("dedup_semantic matches an exhaustive driver-side replay") {
    val sfSmall = TestSpark.sf0001
    val vecs = Tables.load(spark, sfSmall, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def d2(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    def cos(a: Array[Double], b: Array[Double]) = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val seeds = vecs.filter(_._1 < 8)
    val cluster = vecs.map { case (id, v) =>
      id -> seeds.toSeq.map { case (cid, cv) => (d2(v, cv), cid) }.min._2
    }
    val keepExpected = vecs.keys.map { id =>
      val dup = vecs.keys.exists(o => o < id && cluster(o) == cluster(id) &&
        cos(vecs(o), vecs(id)) >= 0.5)
      id -> !dup
    }.toMap
    val got = SparkEntry.queries("dedup_semantic")(spark, sfSmall).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(got.length == vecs.size)
    got.foreach { case (id, cl, keep) =>
      assert(cl == cluster(id), s"vec $id cluster")
      assert(keep == keepExpected(id), s"vec $id keep")
    }
  }

  test("upsertMerge is deterministic under adversarial micro-batch splits") {
    import graft.streaming.StreamOps
    val e = Tables.load(spark, sf, "events")
      .select(col("user_id"), col("ts").as("last_ts"), col("event_id").as("last_event_id"),
        col("event_type").as("last_type"))
    val empty = e.limit(0)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("user_id").collect().map(_.toString).toSeq
    // one-shot merge
    val oneShot = key(StreamOps.upsertMerge(empty, e))
    // split by event_id modulus — arbitrary interleave, reversed arrival
    val splits = Seq(2L, 1L, 0L).map(m => e.filter(col("last_event_id") % 3 === m))
    val sequential = key(splits.foldLeft(empty)((st, b) => StreamOps.upsertMerge(st, b)))
    assert(sequential == oneShot, "merge must be order-insensitive across batches")
    // ... and time-sliced splits (prefix arrival) give the same table
    val mid = e.agg(expr("percentile_approx(unix_micros(last_ts), 0.5)")).head.getLong(0)
    val timeSliced = Seq(
      e.filter(unix_micros(col("last_ts")) > mid),
      e.filter(unix_micros(col("last_ts")) <= mid))
    val sequential2 = key(timeSliced.foldLeft(empty)((st, b) => StreamOps.upsertMerge(st, b)))
    assert(sequential2 == oneShot)
  }

  test("stream_upsert equals the batch argmax per user") {
    val streamed = q("stream_upsert").collect().map(_.toString).toSeq
    val batch = Tables.load(spark, sf, "events")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
          .orderBy(col("ts").desc, col("event_id").desc)))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("ts").as("last_ts"), col("event_id").as("last_event_id"),
        col("event_type").as("last_type"))
      .orderBy("user_id").collect().map(_.toString).toSeq
    assert(streamed == batch)
  }
}
