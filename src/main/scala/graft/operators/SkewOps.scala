package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Skew-mitigation utilities (SURVEY §5). AQE's skew-join handles most
  * runtime skew; these are the explicit-salting forms for the cases AQE
  * can't re-plan: skewed AGGREGATION keys and broadcast-ineligible
  * skewed joins with a known hot-key set.
  */
object SkewOps {

  /** Two-phase salted aggregation: partial agg on (key, salt) spreads a
    * hot key over `buckets` reducers, final agg merges the partials.
    * sumCols/countCols name the measures; result = groupBy(key).agg(
    * sum(sumCols), sum of counts).
    */
  def saltedSumCount(df: DataFrame, key: String, valueCol: String,
      buckets: Int): DataFrame = {
    val salted = df.withColumn("_salt", pmod(spark_partition_id()
      + pmod(hash(col(key), monotonically_increasing_id()), lit(buckets)), lit(buckets)))
    salted
      .groupBy(col(key), col("_salt"))
      .agg(sum(col(valueCol)).as("_psum"), count(lit(1)).as("_pcnt"))
      .groupBy(col(key))
      .agg(sum(col("_psum")).as(s"sum_$valueCol"), sum(col("_pcnt")).as("cnt"))
  }

  /** Hot-key replicated join: rows of `facts` whose key is in `hotKeys`
    * get a random salt in [0, buckets); the dim side is exploded
    * `buckets`× for those keys so every salted fact partition finds its
    * match. Non-hot keys join 1:1 (salt 0). Correct for inner joins on
    * distinct dim keys.
    */
  def skewJoin(facts: DataFrame, dim: DataFrame, key: String,
      hotKeys: Seq[Long], buckets: Int): DataFrame = {
    val hot = hotKeys.toArray
    val isHotF = col(key).isin(hot: _*)
    val saltedFacts = facts.withColumn("_salt",
      when(isHotF, pmod(hash(monotonically_increasing_id()), lit(buckets))).otherwise(lit(0)))
    val isHotD = col(key).isin(hot: _*)
    val saltedDim = dim
      .withColumn("_salts",
        when(isHotD, sequence(lit(0), lit(buckets - 1))).otherwise(array(lit(0))))
      .withColumn("_salt", explode(col("_salts"))).drop("_salts")
    // salting only matters when the dim side is broadcast-INeligible
    // (a broadcast join has no hot reduce partition to split), so pin
    // the shuffled strategy — at demo scale the optimizer would happily
    // broadcast the exploded dim and silently skip the very machinery
    // this operator exists to exercise
    saltedFacts.join(saltedDim.hint("merge"), Seq(key, "_salt")).drop("_salt")
  }

  /** q55: skewed fact⋈fact join, salted. Lineitems are enriched with
    * the aggregate of their order COHORT, where ~70 % of rows collapse
    * onto one catch-all cohort key (jk = 0 for l_orderkey % 10 < 7 —
    * the bot-user / null-key / default-bucket shape that is the most
    * common production failure at 100 TB: one reduce partition gets 70 %
    * of the fact table while 31 idle). [[skewJoin]] spreads the hot key
    * over `buckets` salts — every reduce partition gets ~1/buckets of
    * the hot rows — and replicates only the HOT dim rows buckets×
    * (non-hot keys join 1:1), so dim-side inflation is O(|hot|·buckets),
    * not |dim|·buckets. Output rows are independent of the
    * (nondeterministic) per-row salt draw: each fact row matches exactly
    * the one replica of its cohort row carrying its salt, so the joined
    * row SET — and the DuckDB oracle, which runs the plain unsalted
    * join — is deterministic. Round12Spec asserts the physical plan
    * kept the salt in the join keys and stayed shuffle-side (no
    * BroadcastHashJoin), i.e. the skew handling actually engaged.
    */
  def skewJoinDemo(s: SparkSession, d: String): DataFrame = {
    val facts = Tables.lineitem(s, d).select(
      when(pmod(col("l_orderkey"), lit(10)) < 7, lit(0L))
        .otherwise(col("l_orderkey")).as("jk"),
      col("l_orderkey"), col("l_linenumber"))
    val cohorts = Tables.orders(s, d).select(
      when(pmod(col("o_orderkey"), lit(10)) < 7, lit(0L))
        .otherwise(col("o_orderkey")).as("jk"),
      col("o_totalprice"))
      .groupBy("jk")
      .agg(count(lit(1)).as("cohort_orders"),
        Relational.dsum(col("o_totalprice")).as("cohort_value"))
    skewJoin(facts, cohorts, "jk", hotKeys = Seq(0L), buckets = 32)
      .select("jk", "l_orderkey", "l_linenumber", "cohort_orders", "cohort_value")
      .orderBy("l_orderkey", "l_linenumber")
  }
}
