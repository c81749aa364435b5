package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{AnalyticsOps, TextOps}

import OpsFixture._

/** Round-7 second batch: last-touch attribution, character entropy,
  * streaming heavy hitters. Values are oracle-pinned; these specs pin the
  * semantic invariants. */
class RoundSevenBOpsSpec extends AnyFunSuite {
  test("events_attribution: channels bounded; every conversion replays by hand") {
    val rows = AnalyticsOps.eventsAttribution(spark, dir).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => Set("ch_0", "ch_1", "ch_2", "ch_3")(r.getString(0))))
    // independent driver-side replay of the last-touch walk
    val evs = Tables.load(spark, dir, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        col("value"), get_json_object(col("props"), "$.k").cast("long").as("k"))
      .collect()
    val sevenDaysUs = 7L * 24 * 3600 * 1000000
    val expected = scala.collection.mutable.Map.empty[String, Long]
    evs.groupBy(_.getLong(0)).values.foreach { userRows =>
      val sorted = userRows.sortBy(r => (r.getTimestamp(1).getTime, r.getLong(2)))
      var lastCh: String = null; var lastTs = 0L
      sorted.foreach { r =>
        if (r.getString(3) == "click") {
          lastCh = "ch_" + (r.getLong(5) / 25); lastTs = r.getTimestamp(1).getTime
        } else if (lastCh != null &&
            r.getTimestamp(1).getTime - lastTs <= sevenDaysUs / 1000)
          expected(lastCh) = expected.getOrElse(lastCh, 0L) + 1
      }
    }
    val got = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expected.toMap, s"got $got expected $expected")
  }

  test("text_entropy: uniform text hits ln(k); constant text hits zero") {
    import spark.implicits._
    val d = TempDirs.make("graft-entropy").toString
    Seq((1L, "aaaa", "en", "s", 4L), (2L, "abab", "en", "s", 4L),
        (3L, "abcd", "en", "s", 4L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    val rows = TextOps.textEntropy(spark, d).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(rows(1L) == 0.0, s"constant text must have zero entropy: $rows")
    assert(math.abs(rows(2L) - math.log(2)) < 1e-5, rows.toString)
    assert(math.abs(rows(3L) - math.log(4)) < 1e-5, rows.toString)
  }

  test("mm_dedup_phash: identical payloads pair at hamming 0; disjoint ones don't") {
    import spark.implicits._
    val d = TempDirs.make("graft-phash").toString
    // 1/3 identical payloads, 2 distinct; 4 shares no 16-bit chunk with
    // the rest with overwhelming probability
    Seq((1L, "the same exact picture bytes", "en", "s", 28L),
        (3L, "the same exact picture bytes", "en", "s", 28L),
        (2L, "a completely different payload", "en", "s", 30L),
        (4L, "yet another unrelated doc", "en", "s", 25L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    val pairs = operators.MultimodalOps.mmDedupPhash(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.contains((1L, 3L, 0L)),
      s"identical payloads must collide at hamming 0: ${pairs.mkString(",")}")
    assert(pairs.forall { case (a, b, _) => (a, b) == ((1L, 3L)) },
      s"no cross-content pair may survive the hamming verify: ${pairs.mkString(",")}")
    // determinism: the signature is a pure content function
    val again = operators.MultimodalOps.mmDedupPhash(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSeq == again.toSeq)
  }

  test("sim_search_pq: ADC answers overlap the exact top-10; distances plausible") {
    import org.apache.spark.sql.types._
    val rows = operators.SimilarityOps.simSearchPq(spark, TestSpark.sf001).collect()
    assert(rows.length == 10)
    assert(!rows.exists(_.getLong(0) == 0L), "query vector must be excluded")
    // ADC distance is a 16-code/subspace quantization of the true distance
    // — on UNclustered random embeddings (the hard case: distances
    // concentrate) recall vs the exact top-10 is legitimately low, but the
    // selection must still carry signal: at least one exact-top-10 member
    // recalled, and the selected set's mean TRUE distance must beat the
    // corpus mean (i.e. the code-domain scan is better than random)
    val e = Tables.load(spark, TestSpark.sf001, "embeddings")
      .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("ev"))
    val q = e.filter(col("vec_id") === 0).head.getSeq[Double](1)
    val allD2 = e.filter(col("vec_id") =!= 0).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Double](1).zip(q).map { case (x, y) => (x - y) * (x - y) }.sum)
    val exactTop = allD2.sortBy { case (id, d2) => (d2, id) }.take(10).map(_._1).toSet
    val recalled = rows.map(_.getLong(0)).count(exactTop)
    assert(recalled >= 1, s"ADC recall $recalled/10 vs exact top-10 — coding broken")
    val corpusMean = allD2.map(_._2).sum / allD2.length
    val selectedMean = rows.map(_.getDouble(2)).sum / rows.length
    assert(selectedMean < corpusMean,
      s"ADC selection (mean $selectedMean) must beat random (corpus mean $corpusMean)")
    // adc_d2 must be sorted ascending and exact_d2 non-negative
    val adcs = rows.map(_.getDouble(1))
    assert(adcs.zip(adcs.tail).forall { case (a, b) => a <= b })
    assert(rows.forall(_.getDouble(2) >= 0.0))
  }

  test("stream_topk: ranks are 1..3 per window, counts non-increasing, equals batch") {
    val rows = graft.streaming.StreamOps.streamTopk(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getTimestamp(0)).values.foreach { win =>
      val byRk = win.sortBy(_.getLong(3))
      assert(byRk.map(_.getLong(3)).toSeq == (1L to byRk.length).toSeq)
      val counts = byRk.map(_.getLong(2))
      assert(counts.zip(counts.tail).forall { case (a, b) => a >= b },
        s"counts must be non-increasing in rank: ${byRk.mkString(",")}")
    }
    // exactly-once replay contract: equals the batch top-3 per hour
    val batch = Tables.load(spark, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("h")).orderBy(col("n").desc, col("event_type"))
    val expected = batch.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3).orderBy(col("h"), col("rk"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
    val got = rows.map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq == expected.toSeq)
  }
}
