package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.{AnalyticsOps, RelOps}

import OpsFixture._

/** Round-8 twenty-fourth batch: whole-catalog migration checksum and the
  * bot-suspect z-score screen, replayed brute-force. */
class RoundEightBatchTwentyFourSpec extends AnyFunSuite {
  test("catalog_checksum: covers every table; fingerprints detect a flip") {
    val got = RelOps.queries("catalog_checksum")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5)))
    assert(got.map(_._1).toSeq == Seq("customer", "documents", "embeddings",
      "events", "lineitem", "nation", "orders", "part", "region", "supplier"))
    // row counts match the raw tables
    got.foreach { case (tbl, n, nd, _, lo, hi) =>
      assert(n == Tables.load(spark, dir, tbl).count(), s"$tbl row count")
      assert(nd <= n && lo <= hi)
    }
    // replay one table's content sum brute-force (documents)
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), md5(col("text")), col("lang"), col("source"),
        col("n_chars"))
      .collect()
      .map(r => s"${r.getLong(0)}|${r.getString(1)}|${r.getString(2)}|" +
        s"${r.getString(3)}|${r.getLong(4)}")
    val sum = docs.map(img => graft.functions.PolyHash.hashUTF8(
      UTF8String.fromString(img))).sum
    assert(got.find(_._1 == "documents").get._4 == sum)
    // the checksum is sensitive: flipping one image changes the sum
    val flipped = sum - graft.functions.PolyHash.hashUTF8(
      UTF8String.fromString(docs.head)) +
      graft.functions.PolyHash.hashUTF8(UTF8String.fromString(docs.head + "x"))
    assert(flipped != sum)
  }

  test("events_bot_suspects: z-scores replay brute-force") {
    val evs = Tables.load(spark, dir, "events")
      .select(col("user_id"), expr("CAST(ts AS DATE)").cast("string"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val perUser = evs.groupBy(_._1).view.mapValues { rows =>
      (rows.length.toLong, rows.map(_._2).distinct.length.toLong)
    }.toMap
    val nU = perUser.size.toLong
    val sn = perUser.values.map(_._1).sum
    val snn = perUser.values.map(v => BigInt(v._1) * v._1).sum
    def z(n: Long): Double = r6(
      (n.toDouble - sn.toDouble / nU.toDouble) /
        math.sqrt((nU.toDouble * snn.toDouble - sn.toDouble * sn.toDouble) /
          (nU.toDouble * (nU - 1).toDouble)))
    val nSuspects = perUser.values.count(v => z(v._1) > 3.0).toLong
    val expected = perUser.toSeq
      .sortBy { case (u, (n, _)) => (-n, u) }.take(20)
      .map { case (u, (n, d)) => (u, n, d, z(n), nSuspects) }
    val got = AnalyticsOps.queries("events_bot_suspects")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4)))
    assert(got.toSeq == expected)
    // z-scores on the leaderboard are the population's largest
    assert(got.head._4 >= got.last._4)
  }
}
