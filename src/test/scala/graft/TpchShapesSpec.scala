package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{TpchFixture, TpchOps}

import OpsFixture._

/** The round-7 TPC-H completions (Q2/Q7/Q8/Q9/Q11/Q12/Q13/Q15/Q16/Q17/
  * Q19/Q20/Q21/Q22). Values are pinned by the DuckDB oracle gate; these
  * specs pin the RELATIONAL properties each shape exists to exercise —
  * the invariants a value hash can accidentally survive without.
  */
class TpchShapesSpec extends AnyFunSuite {
  test("q7: only crossing nation pairs survive; both directions appear") {
    // sf0.01: the two-nation flow is empty at sf0.001 (8 customers/nation)
    val rows = TpchOps.tpchQ7(spark, TestSpark.sf001).collect()
    assert(rows.nonEmpty)
    val pairs = rows.map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs.subsetOf(Set(("NATION_1", "NATION_2"), ("NATION_2", "NATION_1"))))
    assert(rows.forall(r => r.getString(0) != r.getString(1)),
      "domestic flows must be excluded")
  }

  test("q8: market share is a fraction in [0,1] per year") {
    val rows = TpchOps.tpchQ8(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val share = r.getDouble(1)
      assert(share >= 0.0 && share <= 1.0, s"share $share out of range")
    }
  }

  test("q13: zero-order customers survive the left join into the c_count=0 bucket") {
    val rows = TpchOps.tpchQ13(spark, dir).collect()
    val byCount = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the distribution must account for every customer exactly once
    val nCust = Tables.load(spark, dir, "customer").count()
    assert(byCount.values.sum == nCust)
    // the priority exclusion guarantees SOME customers lose all their
    // orders only if the filter binds; at minimum the bucket keys are
    // distinct and non-negative
    assert(byCount.keys.forall(_ >= 0))
  }

  test("q15: every returned supplier holds exactly the maximum revenue") {
    val rows = TpchOps.tpchQ15(spark, dir).collect()
    assert(rows.nonEmpty)
    val revs = rows.map(_.getDouble(2)).distinct
    assert(revs.length == 1, "all winners must tie at the single maximum")
  }

  test("q17: cross-multiplied threshold equals the 0.2·avg semantics") {
    // replay the per-part avg in double on the tiny fixture and assert the
    // exact-decimal cross-multiplication selected the same revenue
    val li = Tables.load(spark, dir, "lineitem")
      .join(TpchFixture.partX(spark, dir)
        .filter(col("p_brand") === "Brand#5" && col("p_container") === "MED BOX")
        .select(col("p_partkey")), col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      .collect()
    val byPart = li.groupBy(_.getLong(0))
    val expected = byPart.values.flatMap { rows =>
      val avg = rows.map(_.getDouble(1)).sum / rows.length
      rows.filter(_.getDouble(1) < 0.2 * avg).map(_.getDouble(2))
    }.sum / 7.0
    val got = TpchOps.tpchQ17(spark, dir).head.getDouble(0)
    assert(math.abs(got - expected) < 1e-6,
      s"got $got expected $expected — threshold spelling drifted")
  }

  test("q21: per-order aggregate spelling equals the exists/not-exists chain") {
    // independent replay: for each finished order, the suppliers counted
    // must be late, in a multi-supplier order, and the only late supplier
    val li = TpchFixture.lineitemX(spark, dir)
      .join(Tables.load(spark, dir, "orders")
        .filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_receiptdate") > col("l_commitdate")).as("late"))
      .collect()
    val byOrder = li.groupBy(_.getLong(0))
    val expected = scala.collection.mutable.Map.empty[Long, Long]
    byOrder.values.foreach { rows =>
      val supps = rows.map(_.getLong(1)).toSet
      val lateSupps = rows.filter(_.getBoolean(2)).map(_.getLong(1)).toSet
      if (supps.size >= 2 && lateSupps.size == 1)
        rows.filter(_.getBoolean(2)).foreach { r =>
          expected(r.getLong(1)) = expected.getOrElse(r.getLong(1), 0L) + 1
        }
    }
    val suppName = Tables.load(spark, dir, "supplier")
      .select(col("s_suppkey"), col("s_name")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expectedTop = expected.toSeq
      .map { case (k, n) => (suppName(k), n) }
      .sortBy { case (name, n) => (-n, name) }.take(20)
    val got = TpchOps.tpchQ21(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == expectedTop, s"got $got expected $expectedTop")
  }

  test("q21 plan: no Expand (two-level aggregate), verdict join hash-probes") {
    // the r15 rewrite: dual countDistinct compiled to an Expand doubling
    // every line-grain row before the first exchange; the two-level
    // aggregate needs none, and the verdict join is a SHUFFLE_HASH probe
    // instead of sorting both legs (plans/r15/tpch_q21_{before,after}.txt)
    val plan = TpchOps.tpchQ21(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"),
      s"dual-distinct Expand crept back into q21:\n$plan")
    assert(plan.contains("ShuffledHashJoin"),
      s"verdict join must hash-probe, not sort-merge:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"a q21 leg sort-merges:\n$plan")
  }

  test("q22: dormancy anti-join and above-average threshold both bind") {
    val rows = TpchOps.tpchQ22(spark, dir).collect()
    // group keys restricted to the declared code set
    assert(rows.forall(r => Set(1L, 3L, 5L, 7L, 9L, 11L).contains(r.getLong(0))))
    // every counted customer is dormant: no orders since 1999
    val total = rows.map(_.getLong(1)).sum
    val dormantRich = Tables.load(spark, dir, "customer")
      .filter(col("c_nationkey").isin(1, 3, 5, 7, 9, 11))
      .join(Tables.load(spark, dir, "orders")
        .filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp"))
        .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .count()
    assert(total <= dormantRich,
      "counted customers must be a subset of the dormant slice")
  }

  test("q2: winners achieve their part's exact minimum supply cost; ties all kept") {
    val rows = TpchOps.tpchQ2(spark, dir).collect()
    if (rows.nonEmpty) {
      val minByPart = rows.groupBy(_.getLong(3))
        .view.mapValues(_.map(_.getDouble(6)).distinct).toMap
      assert(minByPart.values.forall(_.length == 1),
        "each part must report a single minimum supply cost")
      // real partsupp semantics: every winner's cost IS its part's min over
      // the EUROPE-restricted derived partsupp
      val euKeys = Tables.load(spark, dir, "supplier")
        .join(Tables.load(spark, dir, "nation")
          .join(Tables.load(spark, dir, "region")
            .filter(col("r_name") === "EUROPE"),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey")).collect().map(_.getLong(0)).toSet
      val psMin = TpchFixture.partsupp(spark, dir).collect()
        .filter(r => euKeys(r.getLong(1)))
        .groupBy(_.getLong(0))
        .view.mapValues(_.map(_.getDecimal(3).doubleValue).min).toMap
      rows.foreach { r =>
        assert(math.abs(r.getDouble(6) - psMin(r.getLong(3))) < 1e-9,
          s"part ${r.getLong(3)}: reported cost is not the EUROPE minimum")
      }
    }
  }

  test("plan shapes: dimension legs broadcast, fact tables never do") {
    def plan(name: String): String =
      TpchOps.queries(name)(spark, TestSpark.sf001)
        .queryExecution.executedPlan.toString
    // q9: part + supplier broadcast, orders⋈lineitem is the only real join
    val q9 = plan("tpch_q9")
    assert(q9.contains("BroadcastHashJoin"), "q9 dimension legs must broadcast")
    // q17: the per-part aggregate frame broadcasts back (no second shuffle
    // of the fact slice)
    val q17 = plan("tpch_q17")
    assert(q17.contains("BroadcastHashJoin"), "q17 per-part frame must broadcast")
    // q20: both semi-join probes broadcast into the supplier scan
    val q20 = plan("tpch_q20")
    assert(q20.contains("LeftSemi"), "q20 must run semi-joins, not inner+distinct")
  }
}
