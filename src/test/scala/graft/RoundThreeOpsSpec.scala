package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators._

import OpsFixture._

/** Semantics of the round-3 additions beyond what the DuckDB oracle pins:
  * chunk overlap/reconstruction, quantization bounds, k-NN agreement with
  * brute force, subquery-vs-join equivalence, lossless format roundtrips,
  * and the plans the 100 TB story depends on (broadcast k-NN, semi-join
  * rewrite of IN).
  */
class RoundThreeOpsSpec extends AnyFunSuite {
  import spark.implicits._
  private val sf = TestSpark.sf0001

  test("text_chunk: stride/overlap arithmetic reconstructs every document") {
    val docs = Tables.load(spark, sf, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    val chunks = TextOps.textChunk(spark, sf).collect()
    // group chunk rows per document and replay the same stride arithmetic
    chunks.groupBy(_.getAs[Long]("doc_id")).foreach { case (id, rows) =>
      val text = docs(id)
      val expectedN = math.max(1, math.ceil(math.max(text.length, 1) / 150.0).toInt)
      assert(rows.length == expectedN, s"doc $id chunk count")
      rows.foreach { r =>
        val cid = r.getAs[Long]("chunk_id").toInt
        val expected = text.substring(cid * 150, math.min(cid * 150 + 200, text.length))
        assert(r.getAs[Long]("chunk_len") == expected.length, s"doc $id chunk $cid len")
      }
      // neighboring chunks overlap by 50 chars except a short final chunk
      rows.sortBy(_.getAs[Long]("chunk_id")).sliding(2).foreach {
        case Array(a, b) =>
          val aEnd = a.getAs[Long]("chunk_id") * 150 + a.getAs[Long]("chunk_len")
          val bStart = b.getAs[Long]("chunk_id") * 150
          assert(aEnd - bStart == math.min(50, a.getAs[Long]("chunk_len") - 150),
            s"doc $id overlap")
        case _ => ()
      }
    }
  }

  test("text_ngram_freq: per-language top-10, counts non-increasing, ties lexicographic") {
    val rows = TextOps.textNgramFreq(spark, sf).collect()
    rows.groupBy(_.getAs[String]("lang")).foreach { case (lang, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("rn"))
      assert(sorted.map(_.getAs[Long]("rn")).toSeq == (1L to sorted.length).toSeq)
      assert(sorted.length <= 10)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          val (na, nb) = (a.getAs[Long]("n"), b.getAs[Long]("n"))
          assert(na > nb ||
            (na == nb && a.getAs[String]("bigram") < b.getAs[String]("bigram")),
            s"$lang rank order")
        case _ => ()
      }
    }
  }

  test("embedding_quantize: int8 range, max-abs element pinned to ±127, sum exact") {
    val rows = SimilarityOps.embeddingQuantize(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (qmin, qmax) = (r.getAs[Long]("qmin"), r.getAs[Long]("qmax"))
      assert(qmin >= -127 && qmax <= 127)
      assert(math.max(math.abs(qmin), math.abs(qmax)) == 127,
        s"vec ${r.getAs[Long]("vec_id")}: the max-|x| element must quantize to ±127")
    }
  }

  test("sim_join_knn: 3 neighbors per query, agrees with brute-force argmax") {
    val knn = SimilarityOps.simJoinKnn(spark, sf).collect()
    val perQ = knn.groupBy(_.getAs[Long]("q_id"))
    assert(perQ.keySet == Set(1L, 2L, 3L, 4L, 5L))
    perQ.values.foreach(rs => assert(rs.length == 3))
    // top-1 must equal the brute-force nearest neighbor for each query
    val e = Tables.load(spark, sf, "embeddings")
    val brute = e.filter($"vec_id".between(1, 5))
      .select($"vec_id".as("q_id"), $"embedding".as("qv"))
      .crossJoin(e.filter($"vec_id" >= 16))
      .select($"q_id", $"vec_id",
        SimilarityOps.cosine(
          $"embedding".cast("array<double>"), $"qv".cast("array<double>")).as("s"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"q_id")
          .orderBy($"s".desc, $"vec_id")))
      .filter($"rn" === 1)
      .select($"q_id", $"vec_id").as[(Long, Long)].collect().toMap
    knn.filter(_.getAs[Long]("rn") == 1L).foreach { r =>
      assert(r.getAs[Long]("vec_id") == brute(r.getAs[Long]("q_id")))
    }
  }

  test("subquery_correlated ≡ explicit aggregate-join formulation") {
    val sub = RelOps.subqueryCorrelated(spark, sf)
      .as[(Long, Long)].collect().toSeq
    val o = Tables.load(spark, sf, "orders")
    val agg = o.groupBy($"o_custkey".as("k"))
      .agg(count(lit(1)).as("n"),
        sum($"o_totalprice".cast("decimal(18,6)")).as("s"))
    val join = o.join(agg, $"o_custkey" === $"k")
      .filter($"o_totalprice".cast("decimal(18,6)") * $"n" > $"s")
      .select($"o_orderkey", $"o_custkey")
      .orderBy($"o_orderkey")
      .as[(Long, Long)].collect().toSeq
    assert(sub == join)
  }

  test("subquery_in plans as a semi join, not a per-row probe") {
    val plan = RelOps.subqueryIn(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), s"expected semi-join rewrite:\n$plan")
  }

  test("sim_join_knn broadcasts the query batch; corpus never exchanges") {
    val plan = SimilarityOps.simJoinKnn(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), s"plan:\n$plan")
    // the only Exchange allowed is the window's hash partition on q_id
    // (5 rows/query after broadcast scoring), never the corpus scan side
    val beforeJoin = plan.substring(plan.indexOf("BroadcastNestedLoopJoin"))
    assert(!beforeJoin.contains("Exchange hashpartitioning(vec_id"),
      s"corpus side shuffled:\n$plan")
  }

  test("csv/json source scans roundtrip the parquet original exactly") {
    val want = Tables.load(spark, sf, "supplier")
      .select($"s_suppkey".cast("long"), $"s_name",
        $"s_nationkey".cast("long"), $"s_acctbal".cast("double"))
      .orderBy($"s_suppkey")
      .as[(Long, String, Long, Double)].collect().toSeq
    val csv = SourceFormatOps.sourceCsvScan(spark, sf)
      .as[(Long, String, Long, Double)].collect().toSeq
    val json = SourceFormatOps.sourceJsonScan(spark, sf)
      .as[(Long, String, Long, Double)].collect().toSeq
    assert(csv == want, "csv roundtrip (incl. exact doubles)")
    assert(json == want, "json roundtrip (incl. exact doubles)")
  }

  test("every query key has an oracle entry (no no_oracle rows this round)") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without oracle: $missing")
  }
}
