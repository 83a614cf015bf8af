package graft

import org.scalatest.funsuite.AnyFunSuite

/** Co-located joins via bucketing: when both sides are bucketed by the
  * join key with the same bucket count, the join needs NO shuffle
  * exchange — the pre-partitioning of the data layout satisfies the
  * join's distribution requirement. At 100 TB this converts the
  * biggest recurring fact-⋈-fact shuffle into a local merge per
  * bucket; this spec proves the engine's reads preserve that layout.
  */
class BucketingSpec extends AnyFunSuite {

  lazy val spark = Spec.spark

  test("equal-bucketed tables join with zero shuffle exchanges") {
    import org.apache.spark.sql.functions._
    val wh = Spec.tmpDir("graft-bucketed").toString
    val orders = Tables.orders(spark, Spec.sfDir)
    val lineitem = Tables.lineitem(spark, Spec.sfDir)
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$wh/b_orders").saveAsTable("b_orders")
    lineitem.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$wh/b_lineitem").saveAsTable("b_lineitem")

    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force a real two-sided join (broadcast would trivially avoid the
      // shuffle without exercising the bucketed layout)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_lineitem")
        .join(spark.table("b_orders"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
      val plan = joined.queryExecution.executedPlan.toString
      // the aggregate may still shuffle (different key); the JOIN must not:
      // no hash-partitioning exchange below the SortMergeJoin means the
      // bucketed layout was used
      assert(plan.contains("SortMergeJoin"),
        s"expected a sort-merge join over bucketed tables:\n$plan")
      val joinSection = plan.substring(plan.indexOf("SortMergeJoin"))
      val exchanges = "Exchange hashpartitioning\\(([a-z_]+)#".r
        .findAllMatchIn(joinSection).map(_.group(1)).toSeq
      assert(!exchanges.exists(k => k == "l_orderkey" || k == "o_orderkey"),
        s"join keys were re-shuffled despite bucketing:\n$plan")

      // and the result matches the plain (non-bucketed) join
      val expected = lineitem.join(orders,
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      val got = joined.collect().map(r => (r.getString(0), r.getLong(1))).toMap
      assert(got == expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }
}
