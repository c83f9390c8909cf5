package graft

import org.apache.spark.sql.functions._

import graft.operators.Sketches

/** Bucketed tables co-locate join keys at WRITE time, so repeated joins
  * on the bucket key need no exchange at all — the 100 TB answer for a
  * fact⋈fact join that runs every day (SURVEY §5).
  */
class BucketingSpec extends SparkSpec {

  test("bucketed fact-fact join plans without a shuffle exchange") {
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")
    Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity", "l_extendedprice")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .format("parquet").saveAsTable("li_b")
    Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .format("parquet").saveAsTable("ord_b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
    try {
      val j = spark.table("li_b").join(spark.table("ord_b"),
        col("l_orderkey") === col("o_orderkey"))
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      // and it's still correct
      val expect = Tables.lineitem(spark, sf).join(Tables.orders(spark, sf),
        col("l_orderkey") === col("o_orderkey")).count()
      assert(j.count() == expect)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS ord_b")
    }
  }

  test("sketch profile bounds: HLL within 5% of exact, quantiles ordered") {
    val prof = Sketches.sketchProfile(spark, sf).cache()
    val exact = Tables.events(spark, sf).groupBy("event_type")
      .agg(countDistinct("user_id").as("exact_users"))
    val j = prof.join(exact, "event_type")
    val bad = j.filter(
      abs(col("approx_users") - col("exact_users")) > col("exact_users") * 0.05).count()
    assert(bad == 0, "HLL estimate off by more than 5%")
    val unordered = prof.filter(
      col("p50") > col("p90") || col("p90") > col("p99")).count()
    assert(unordered == 0)
    prof.unpersist()
  }
}
