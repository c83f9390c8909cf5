package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** Round-3 hardening: exact integer size-banding (d4), planted-dup LSH
  * recall (d19), adaptive-k near-dup blocking (d11), reliable
  * checkpointing for the component loop, and numeric error bounds for
  * the d13 sketches.
  */
class Round3Spec extends SparkSpec {

  test("exactSizeBand equals the true integer floor(log_1.25 sz) for every probed size") {
    import spark.implicits._
    // ground truth by exact rational arithmetic: max k with ceil(5^k/4^k) <= sz
    def trueBand(sz: Long): Long = {
      var k = 0L
      var num = BigInt(5)
      var den = BigInt(4)
      while ((num + den - 1) / den <= sz) { k += 1; num *= 5; den *= 4 }
      k
    }
    // all small sizes + exact 4:5-ratio pairs + power-of-two giants (the
    // FP-rounding hazard class from the r2 ADVICE)
    val sizes = ((1L to 3000L) ++
      (1L to 500L).flatMap(j => Seq(4 * j, 5 * j, 16 * j, 25 * j)) ++
      Seq(1L << 20, (1L << 20) * 5 / 4, 1L << 40, (1L << 40) / 4 * 5, 1L << 60))
      .distinct.sorted
    val got = sizes.toDF("sz")
      .withColumn("band", Dedup.exactSizeBand(col("sz")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    sizes.foreach { sz =>
      assert(got(sz) == trueBand(sz), s"band mismatch at sz=$sz: ${got(sz)} vs ${trueBand(sz)}")
    }
    // consequence the d4 join relies on: a pair at size ratio <= 5/4
    // differs by at most one band (so the ±1 explode always covers it)
    (1L to 500L).foreach { j =>
      assert(got(5 * j) - got(4 * j) <= 1, s"4:5 pair straddles >1 band at j=$j")
    }
  }

  test("d19 LSH recall on planted near-dups: captures nearly all j≈0.95 pairs") {
    val base = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
      .filter(size(array_distinct(array_remove(split(lower(col("text")), " "), ""))) >= 20)
      .limit(100)
      .cache()
    val n = base.count()
    // planted near-dup: drop the first word → word-set jaccard >= 19/20
    val planted = base
      .withColumn("doc_id", col("doc_id") + lit(1000000L))
      .withColumn("text", expr("concat_ws(' ', slice(split(text, ' '), 2, 1000000))"))
    val pairs = Dedup.ngramJaccardViaLsh(base.union(planted), threshold = 0.8)
    val found = pairs.filter(col("id_b") === col("id_a") + 1000000L).count()
    // banding capture probability 1-(1-j^4)^4 >= 0.999 at j = 0.95;
    // demand 90% to leave room for docs whose dropped word repeats
    assert(found >= (n * 9) / 10, s"planted recall too low: $found/$n")
    base.unpersist()
  }

  test("d11 multi-assign is a strict recall knob and adaptive k recovers k=8 pairs") {
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding").cache()
    val single = Similarity.nearDupCosinePairs(emb, multiAssign = 1)
      .select("id_a", "id_b").cache()
    val multi = Similarity.nearDupCosinePairs(emb, multiAssign = 2)
      .select("id_a", "id_b").cache()
    // probes=2 keeps every probes=1 bucket → pair set is a superset
    assert(single.exceptAll(multi).count() == 0,
      "multiAssign=2 must retain every multiAssign=1 pair")
    // recall of the old fixed-k=8 result under the adaptive default
    val k8 = Similarity.nearDupCosinePairs(emb, k = Some(8), multiAssign = 1)
      .select("id_a", "id_b").cache()
    val n8 = k8.count()
    val kept = multi.join(k8, Seq("id_a", "id_b")).count()
    assert(kept >= (n8 * 3) / 10,
      s"adaptive-k recall vs k=8 too low: $kept/$n8")
    emb.unpersist(); single.unpersist(); multi.unpersist(); k8.unpersist()
  }

  test("connectedComponents with a reliable checkpoint dir matches localCheckpoint") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("id_a", "id_b")
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val viaReliable = withCheckpointDir(Some(dir)) {
      Dedup.connectedComponents(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val viaLocal = withCheckpointDir(None) {
      Dedup.connectedComponents(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(viaReliable == viaLocal)
    // the reliable path actually wrote frontier files into the directory
    def fileCount(f: java.io.File): Int =
      if (f.isDirectory) f.listFiles().map(fileCount).sum else 1
    assert(fileCount(new java.io.File(dir)) > 0,
      "reliable checkpointing must materialize files in the checkpoint dir")
  }

  test("q54 silver import: PST gate holds, ranks bounded, dim is dense, join is broadcast") {
    val out = Silver.silverImport(spark, sf).cache()
    // market-hours gate: every surviving minute is 06:30–13:00 Pacific
    val pac = from_utc_timestamp(col("t"), "America/Los_Angeles")
    val mod = hour(pac) * 60 + minute(pac)
    assert(out.filter(mod < 390 || mod > 780).count() == 0,
      "rows outside the PST session must be gated out")
    // quality ranks come from the 5-source CASE; every group observed >= 1 row
    assert(out.filter(col("best_rank") < 1 || col("best_rank") > 5).count() == 0)
    assert(out.filter(col("n_obs") < 1).count() == 0)
    // surrogate ids are dense over the dim: max id == dim cardinality
    val maxId = out.agg(max("opt_id")).collect()(0).getLong(0)
    val nContracts = out.select("strike", "cp", "expiry").distinct().count()
    assert(maxId >= nContracts, "opt_id must cover every contract")
    // the strike<>0 validity rule filtered the dim
    assert(out.filter(col("strike") === 0.0).count() == 0)
    // plan shape: dim joins back as BROADCAST (no corpus-sized
    // sort-merge), and the series agg is the single wide shuffle
    val plan = Silver.silverImport(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"dim join must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"no corpus-sized SMJ expected:\n$plan")
    out.unpersist()
  }

  test("streaming silver series matches the batch q54 composite on the same ticks") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import spark.implicits._
    implicit val sc = spark.sqlContext
    case class Staged(symbol: String, source: String, mark: Double,
        ts: java.sql.Timestamp)
    val stagedRows = Silver.stagedFromEvents(graft.Tables.events(spark, sf))
      .select("symbol", "source", "mark", "ts")
      .as[(String, String, Double, java.sql.Timestamp)].collect()
    val input = MemoryStream[(String, String, Double, java.sql.Timestamp)]
    input.addData(stagedRows.toSeq)
    val streamDf = input.toDF().toDF("symbol", "source", "mark", "ts")
    graft.streaming.EventStream.runToMemory(
      graft.streaming.EventStream.silverSeries(streamDf), "silver_out",
      OutputMode.Complete)
    val got = spark.table("silver_out")
      .select("strike", "cp", "expiry", "t", "best_rank", "mark", "n_obs")
    // batch side, natural-key grain (pre-dim-join series)
    val want = Silver.silverImport(spark, sf)
      .select("strike", "cp", "expiry", "t", "best_rank", "mark", "n_obs")
    // batch inner-joins the dim (strike<>0 validity filter) — restrict
    // the stream result to the same valid contracts for the compare
    val gotValid = got.filter(col("strike") =!= 0.0)
    assert(gotValid.count() == want.count(), "row sets differ in size")
    assert(gotValid.exceptAll(want).count() == 0 &&
           want.exceptAll(gotValid).count() == 0,
      "streaming silver series must equal the batch composite row-for-row")
  }

  test("d13 sketch error bounds vs exact answers: HLL within 3×rsd, quantile rank within n/accuracy") {
    val prof = Sketches.sketchProfile(spark, sf).collect()
    val ev = Tables.events(spark, sf).select("event_type", "user_id", "value").cache()
    prof.foreach { row =>
      val et = row.getString(0)
      val slice = ev.filter(col("event_type") === et).cache()
      val n = slice.count().toDouble
      // HLL++ rsd 0.01: demand within 3 standard deviations
      val exactUsers = slice.select("user_id").distinct().count().toDouble
      val approxUsers = row.getLong(2).toDouble
      assert(math.abs(approxUsers - exactUsers) <= 3.0 * 0.01 * exactUsers + 1,
        s"$et: HLL estimate $approxUsers vs exact $exactUsers breaches 3×rsd")
      // percentile_approx(accuracy=10000) guarantees rank error <= n/accuracy
      val tol = n / 10000.0 + 1
      Seq(0.50 -> row.getDouble(3), 0.90 -> row.getDouble(4), 0.99 -> row.getDouble(5))
        .foreach { case (p, v) =>
          val cntLe = slice.filter(col("value") <= v).count().toDouble
          val cntLt = slice.filter(col("value") < v).count().toDouble
          val target = p * n
          assert(cntLe >= target - tol && cntLt <= target + tol,
            s"$et p$p: value $v has rank window [$cntLt, $cntLe], target $target ± $tol")
        }
      slice.unpersist()
    }
    ev.unpersist()
  }
}
