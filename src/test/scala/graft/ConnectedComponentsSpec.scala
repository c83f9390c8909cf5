package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

class ConnectedComponentsSpec extends SparkSpec {

  test("known graph: two chains and a triangle form three components") {
    import spark.implicits._
    // 1-2-3-4 chain, 10-11 pair, 20-21-22 triangle
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).map(cc).distinct == Seq(1L))
    assert(Seq(10L, 11L).map(cc).distinct == Seq(10L))
    assert(Seq(20L, 21L, 22L).map(cc).distinct == Seq(20L))
  }

  test("propagateLabels matches the driver labels, including past one 8-round batch") {
    import spark.implicits._
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // small graph: converges inside the first batch
    val small = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L))
      .toDF("id_a", "id_b")
    assert(asMap(Dedup.propagateLabels(small)) == asMap(Dedup.connectedComponents(small)))
    // 40-node chain with ids arranged so the minimum sits at one END:
    // diameter 39 > 8, so the first batches end unconverged and later
    // ones continue from the reached labels over the original edges
    val chain = (1L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val loop = asMap(Dedup.propagateLabels(chain))
    assert(loop == asMap(Dedup.connectedComponents(chain)))
    assert(loop.values.toSet == Set(1L), "the whole chain is one component")
    // real pair list: d4's exact near-dup pairs
    val pairs = Dedup.ngramJaccard(spark, sf).select("id_a", "id_b")
    assert(asMap(Dedup.propagateLabels(pairs)) == asMap(Dedup.connectedComponents(pairs)))
  }

  test("dedupedCorpus keeps exactly one doc per cluster plus all unpaired docs") {
    val docs = Tables.documents(spark, sf)
    val pairs = SparkEntry.queries("d2_minhash_lsh")(spark, sf).select("id_a", "id_b")
    val deduped = Dedup.dedupedCorpus(docs, pairs)
    val nodes = pairs.select(col("id_a").as("n")).union(pairs.select(col("id_b").as("n")))
      .distinct().count()
    val clusters = Dedup.connectedComponents(pairs)
      .select("cluster_id").distinct().count()
    assert(deduped.count() == docs.count() - nodes + clusters)
  }

  test("near-dup pairs from minhash collapse into dedup groups") {
    val pairs = SparkEntry.queries("d2_minhash_lsh")(spark, sf)
      .select("id_a", "id_b")
    val n = pairs.count()
    if (n > 0) {
      val cc = Dedup.connectedComponents(pairs).cache()
      // every node in a pair got a cluster, cluster_id is the min member
      val nodes = pairs.select(col("id_a").as("n")).union(pairs.select(col("id_b").as("n")))
        .distinct().count()
      assert(cc.count() == nodes)
      assert(cc.filter(col("cluster_id") > col("node")).count() == 0)
      // keep-one-per-cluster = distinct cluster ids
      val kept = cc.select("cluster_id").distinct().count()
      assert(kept < nodes, "no dedup achieved")
      cc.unpersist()
    }
  }
}
