package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import OpsFixture._

/** Semantics + plan shape for the corpus-curation operators
  * (`graft.operators.PipelineOps`): deterministic sampling, stratified
  * quotas, sequence packing, decontamination, range search. Value-level
  * correctness is pinned by the DuckDB oracles; these specs pin the
  * properties the oracle can't see — determinism across runs, quota/packing
  * invariants, and the physical-plan shapes that decide 100 TB behavior.
  */
class PipelineOpsSpec extends AnyFunSuite {
  private val sf = TestSpark.sf001

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  private def formatted(name: String) =
    q(name).queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)

  test("sample_hash is deterministic and map-side only (no Exchange)") {
    val a = q("sample_hash").collect().map(_.getLong(0))
    val b = q("sample_hash").collect().map(_.getLong(0))
    assert(a.sameElements(b))
    // selectivity sanity: ~10% of 500 docs, hash-dispersed
    assert(a.length > 20 && a.length < 100, s"got ${a.length} of 500")
    val plan = formatted("sample_hash")
    val beforeSort = plan.split("Sort").head
    assert(!beforeSort.contains("Exchange"),
      s"sampling filter should not shuffle:\n$plan")
  }

  test("sample_stratified honors the per-language quota exactly") {
    val rows = q("sample_stratified").collect()
    val perLang = rows.groupBy(_.getString(0)).view.mapValues(_.length).toMap
    assert(perLang.values.forall(_ <= 20), perLang.toString)
    // every language with >= 20 docs fills its quota
    val langTotals = graft.Tables.load(spark, sf, "documents")
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    langTotals.filter(_._2 >= 20).keys.foreach { l =>
      assert(perLang(l) == 20, s"$l quota not filled: ${perLang.get(l)}")
    }
  }

  test("pack_sequences bins are contiguous from 0 per shard and tokens are conserved") {
    val rows = q("pack_sequences").collect()
    val byUnit = rows.groupBy(r => (r.getString(0), r.getLong(1)))
    assert(byUnit.nonEmpty)
    byUnit.foreach { case (unit, rs) =>
      val bins = rs.map(_.getLong(2)).sorted
      assert(bins.head == 0L, s"$unit first bin ${bins.head}")
      assert(bins.sameElements(bins.head to bins.last),
        s"$unit bins not contiguous: ${bins.mkString(",")}")
    }
    val packedTokens = rows.map(_.getLong(4)).sum
    val corpusTokens = graft.Tables.load(spark, sf, "documents")
      .select(sum(graft.functions.BpeTable.bpe_token_count(col("text"))))
      .collect()(0).getLong(0)
    assert(packedTokens == corpusTokens, s"$packedTokens != $corpusTokens")
  }

  test("decontaminate broadcasts the benchmark shingle set") {
    val plan = formatted("decontaminate")
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark side must broadcast (corpus must not shuffle pre-join):\n$plan")
  }

  test("sim_search_range broadcasts the query vector and matches top-k head") {
    val plan = formatted("sim_search_range")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"query vector must broadcast:\n$plan")
    // consistency with the brute-force top-k ranking on the shared prefix
    val range = q("sim_search_range").collect().map(r => (r.getLong(0), r.getDouble(2)))
    val topk = q("sim_search_topk").collect().map(r => (r.getLong(0), r.getDouble(2)))
    val shared = math.min(range.length, topk.length)
    assert(range.take(shared).sameElements(topk.take(shared)),
      s"range head ${range.take(shared).mkString(",")} vs topk ${topk.take(shared).mkString(",")}")
  }

  test("quality_filter is a map-side gate with a non-degenerate keep mix") {
    val rows = q("quality_filter").collect()
    assert(rows.length == graft.Tables.load(spark, sf, "documents").count())
    val kept = rows.count(_.getBoolean(2))
    assert(kept > 0 && kept < rows.length, s"degenerate gate: $kept/${rows.length}")
    // a dropped doc always carries at least one reason bit; a kept doc none
    assert(rows.forall(r => r.getBoolean(2) == (r.getLong(3) == 0L)))
    val plan = formatted("quality_filter")
    assert(!plan.split("Sort").head.contains("Exchange"),
      s"quality gate must not shuffle:\n$plan")
  }

  test("agg_histogram bins tile the corpus length range") {
    val rows = q("agg_histogram").collect()
    val total = rows.map(_.getLong(1)).sum
    val n = graft.Tables.load(spark, sf, "documents").count()
    assert(total == n, s"histogram covers $total of $n docs")
    assert(rows.forall(r => r.getLong(0) % 100 == 0))
  }
}
