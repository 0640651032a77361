package graft.sources

import graft.SparkSpec

class BucketingSpec extends SparkSpec {

  test("co-bucketed join plans without exchanges and matches the plain join") {
    val li = graft.Tables.load(spark, sfSmoke, "lineitem")
      .select("l_orderkey", "l_quantity")
    val ord = graft.Tables.load(spark, sfSmoke, "orders")
      .select("o_orderkey", "o_totalprice")
      .withColumnRenamed("o_orderkey", "l_orderkey")
    Bucketing.writeBucketed(li, "b_lineitem", "l_orderkey", 8)
    Bucketing.writeBucketed(ord, "b_orders", "l_orderkey", 8)

    val joined = Bucketing.cobucketedJoin(spark, "b_lineitem", "b_orders", "l_orderkey")
    // force a shuffle-join plan decision (disable broadcast for the test)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"))
      assert(!plan.contains("Exchange"), s"expected no exchange, got:\n$plan")
      // correctness: identical to the unbucketed join
      val expected = li.join(ord, Seq("l_orderkey")).count()
      assert(joined.count() == expected)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
      spark.sql("DROP TABLE IF EXISTS b_orders")
    }
  }
}
