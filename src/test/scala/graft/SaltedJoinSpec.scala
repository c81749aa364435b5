package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.SaltedJoin
import OpsFixture.spark

class SaltedJoinSpec extends AnyFunSuite {
  test("salted join equals the plain equi-join (semantics preserved)") {
    val li = Tables.load(spark, TestSpark.sf0001, "lineitem")
    val part = Tables.load(spark, TestSpark.sf0001, "part")
    val plain = li.join(part, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand")).agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("q"))
      .orderBy(col("p_brand"))
    val salted = SaltedJoin.join(li, part, col("l_partkey"), col("p_partkey"), factor = 8)
      .groupBy(col("p_brand")).agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("q"))
      .orderBy(col("p_brand"))
    assert(salted.collect().sameElements(plain.collect()))
  }

  test("salt actually spreads a hot key across sub-keys") {
    import spark.implicits._
    // one pathological key: 10k rows of key=1 (plus payload variety for the salt)
    val hot = (0 until 10000).map(i => (1L, i)).toDF("k", "payload")
    val dim = Seq((1L, "dim")).toDF("k2", "name")
    val salted = SaltedJoin.join(hot, dim, col("k"), col("k2"), factor = 8)
    assert(salted.count() == 10000)
    // the hot key's rows must occupy every salt bucket
    val spread = hot
      .withColumn("salt", pmod(xxhash64(hot.columns.map(hot(_)).toSeq: _*), lit(8)))
      .select(countDistinct(col("salt"))).head.getLong(0)
    assert(spread == 8, s"salt only used $spread of 8 buckets")
  }
}
