package graft

import org.apache.spark.sql.functions._

import graft.functions.ThetaSketch

/** Theta/KMV sketch: exact below k, bounded error above, order-free
  * merge (bit-identical sketches under any partitioning), and the d58
  * entry's overlap readout. */
class ThetaSketchSpec extends SparkSpec {

  private val K = 1024
  private def rsd = 1.0 / math.sqrt(K - 2)

  test("exact regime: distinct <= k gives exact distinct and intersection") {
    import spark.implicits._
    // union = 900 < k, so even the jaccard denominator is exact
    val a = (0 until 400).map(i => s"a$i") ++ (0 until 200).map(i => s"c$i")
    val b = (0 until 300).map(i => s"b$i") ++ (0 until 200).map(i => s"c$i")
    val df = (a.map(("A", _)) ++ b.map(("B", _))).toDF("side", "v")
    val sk = df.groupBy("side").agg(ThetaSketch.sketch(col("v"), K).as("sk"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toArray).toMap
    assert(ThetaSketch.estimateDistinct(sk("A"), K) == 600.0)
    assert(ThetaSketch.estimateDistinct(sk("B"), K) == 500.0)
    assert(ThetaSketch.estimateIntersection(sk("A"), sk("B"), K) == 200.0)
    assert(math.abs(ThetaSketch.estimateJaccard(sk("A"), sk("B"), K)
      - 200.0 / 900.0) < 1e-12)
  }

  test("estimation regime: 100k distinct within 4x rsd; intersection within bounds") {
    // two 100k-element sets sharing 30k values
    val df = spark.range(100000).select(lit("A").as("side"), concat(lit("x"), col("id")).as("v"))
      .union(spark.range(70000, 170000).select(lit("B").as("side"), concat(lit("x"), col("id")).as("v")))
    val sk = df.groupBy("side").agg(ThetaSketch.sketch(col("v"), K).as("sk"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toArray).toMap
    val ea = ThetaSketch.estimateDistinct(sk("A"), K)
    assert(math.abs(ea - 100000) / 100000 < 4 * rsd, s"distinct est $ea")
    val ei = ThetaSketch.estimateIntersection(sk("A"), sk("B"), K)
    // intersection rsd degrades with 1/j — generous 10x-rsd bound for
    // j ≈ 0.176
    assert(math.abs(ei - 30000) / 30000 < 10 * rsd, s"intersection est $ei")
    val ej = ThetaSketch.estimateJaccard(sk("A"), sk("B"), K)
    assert(math.abs(ej - 30000.0 / 170000.0) < 0.05, s"jaccard est $ej")
  }

  test("order-free: sketch over the whole == driver-union of per-slice sketches, any split") {
    val vals = spark.range(50000).select(concat(lit("v"), col("id")).as("v"),
      pmod(col("id"), lit(3)).as("slice"))
    val whole = vals.agg(ThetaSketch.sketch(col("v"), K).as("sk"))
      .head.getSeq[Long](0).toArray
    val parts = vals.groupBy("slice").agg(ThetaSketch.sketch(col("v"), K).as("sk"))
      .collect().map(_.getSeq[Long](1).toArray)
    val merged = parts.reduce((x, y) => ThetaSketch.union(x, y, K))
    assert(merged.toSeq == whole.toSeq,
      "k-min-of-distinct must be independent of partitioning")
    // and repartitioning the aggregate itself changes nothing
    val whole2 = vals.repartition(17).agg(ThetaSketch.sketch(col("v"), K).as("sk"))
      .head.getSeq[Long](0).toArray
    assert(whole2.toSeq == whole.toSeq)
  }

  test("d58 entry: pairwise per-source overlap rows, jaccard in [0,1], deterministic") {
    val out = SparkEntry.queries("d58_set_sketch")(spark, sf).cache()
    val n = out.count()
    assert(n > 0, "no source pairs")
    assert(out.filter(col("est_jaccard") < 0.0 || col("est_jaccard") > 1.0).count() == 0)
    assert(out.filter(col("est_inter") >
      least(col("est_a"), col("est_b")) * 1.25).count() == 0,
      "intersection estimate grossly exceeds the smaller set")
    val again = SparkEntry.queries("d58_set_sketch")(spark, sf)
    assert(out.exceptAll(again).count() == 0, "entry not deterministic")
    out.unpersist()
  }
}
