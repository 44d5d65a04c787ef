package graft.sink

import graft.SparkSpec
import graft.sources.Tables

class BucketingSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed tables join with no shuffle and match the plain join") {
    val orders = Tables.load(spark, SfDir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    val customer = Tables.load(spark, SfDir, "customer")
      .select($"c_custkey".as("o_custkey"), $"c_mktsegment")
    Bucketing.writeBucketed(orders, "graft_b_orders", "o_custkey", 4)
    Bucketing.writeBucketed(customer, "graft_b_customer", "o_custkey", 4)
    // at test scale the dim side broadcasts, which sidesteps bucketing —
    // force the sort-merge path the layout exists for (at 100 TB neither
    // side broadcasts)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Bucketing.colocatedJoin(spark, "graft_b_orders", "graft_b_customer", "o_custkey")
      val n = joined.count()
      // co-located: the executed plan reads both sides bucket-aligned —
      // no Exchange anywhere (the whole point of bucketing the lake)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
      // and the result is the plain join's result
      val plain = orders.join(customer, "o_custkey")
      assert(n == plain.count())
      assert(joined.select($"o_orderkey").except(plain.select($"o_orderkey")).isEmpty)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS graft_b_orders")
      spark.sql("DROP TABLE IF EXISTS graft_b_customer")
    }
  }
}
