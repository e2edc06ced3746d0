package graft.engine

import graft.{SparkSuite, Tables}
import graft.ops.{Layout, Skew}
import org.apache.spark.sql.functions._

class SinkSpec extends SparkSuite {

  test("partitioned write + read round-trips and prunes partitions") {
    val out = java.nio.file.Files
      .createTempDirectory("graft-sink").toString + "/orders"
    val orders = Tables.orders(spark, Sf0001)
      .withColumn("status", col("o_orderstatus"))
    Sink.writePartitioned(orders, out, partitionCols = Seq("status"),
      sortCols = Seq("o_orderkey"))
    val back = Sink.read(spark, out)
    assert(back.count() === orders.count())
    // partition-pruned read: only the F directory is listed
    val pruned = back.filter(col("status") === "F")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(pruned.count() ===
      orders.filter(col("o_orderstatus") === "F").count())
    assert(plan.contains("PartitionFilters: [isnotnull(status"),
      s"expected partition filter in:\n$plan")
  }

  test("co-bucketed tables join without a shuffle") {
    val orders = Tables.orders(spark, Sf0001)
    val li = Tables.lineitem(spark, Sf0001)
    val dir = java.nio.file.Files.createTempDirectory("graft-bucketed").toString
    Layout.bucketed(orders, "b_orders", dir, "o_orderkey", buckets = 8)
    Layout.bucketed(
      li.withColumnRenamed("l_orderkey", "o_orderkey"),
      "b_lineitem", dir, "o_orderkey", buckets = 8)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_orders")
        .join(spark.table("b_lineitem"), "o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange"),
        s"co-bucketed join must not shuffle:\n$plan")
      assert(joined.count() === li.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("saltedJoin returns exactly the plain-join result") {
    import spark.implicits._
    val li = Tables.lineitem(spark, Sf0001)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    val o = Tables.orders(spark, Sf0001)
      .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
    val plain = li.join(o, "l_orderkey")
      .select("l_orderkey", "l_linenumber", "o_totalprice")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
    val salted = Skew.saltedJoin(li, o, "l_orderkey",
        leftUniqueCol = "l_linenumber", salts = 7)
      .select("l_orderkey", "l_linenumber", "o_totalprice")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
    assert(salted === plain)
    assert(salted.nonEmpty)
  }
}
