package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.LayoutOps

/** Write-side layout behaviors: bucketed tables make key-joins and
  * key-aggregations exchange-free, and partitioned+sorted writes produce
  * one tightly-stat'd file per partition directory.
  */
class LayoutOpsSpec extends SparkSuite {
  private val dir = SparkSpec.FixtureDir

  test("bucketed join on the bucket key runs with zero exchanges") {
    val orders = Tables.orders(spark, dir)
    val customer = Tables.customer(spark, dir)
    LayoutOps.writeBucketed(orders, "orders_b", "o_custkey", 8)
    LayoutOps.writeBucketed(customer, "customer_b", "c_custkey", 8)
    val joined = spark.table("orders_b")
      .join(spark.table("customer_b").hint("merge"),
        col("o_custkey") === col("c_custkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bucketed join must not shuffle either side:\n$plan")
    assert(joined.count() ===
      orders.join(customer, col("o_custkey") === col("c_custkey")).count())
  }

  test("aggregation on the bucket key runs with zero exchanges") {
    LayoutOps.writeBucketed(Tables.orders(spark, dir), "orders_agg_b", "o_custkey", 8)
    val agg = spark.table("orders_agg_b")
      .groupBy("o_custkey").agg(count(lit(1)).as("n"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bucketed aggregation must not shuffle:\n$plan")
    assert(agg.count() === Tables.orders(spark, dir)
      .select("o_custkey").distinct().count())
  }

  test("partitioned+sorted write yields one file per partition, pruned reads") {
    val tmp = Files.createTempDirectory("graft-layout").toString
    val orders = Tables.orders(spark, dir)
      .withColumn("o_year", year(col("o_orderdate")))
    LayoutOps.writePartitioned(orders, s"$tmp/orders",
      Seq("o_year"), Seq("o_orderdate"))
    val back = spark.read.parquet(s"$tmp/orders")
    val years = orders.select("o_year").distinct().collect().map(_.getInt(0))
    // one data file per partition directory (repartition by partCol)
    for (y <- years) {
      val files = new java.io.File(s"$tmp/orders/o_year=$y")
        .listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length === 1, s"o_year=$y should hold exactly one file")
    }
    // pruned read returns the right rows
    val y0 = years.min
    assert(back.filter(col("o_year") === y0).count() ===
      orders.filter(col("o_year") === y0).count())
  }
}
