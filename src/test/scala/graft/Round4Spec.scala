package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkSpec, SparkEntry, Tables}

/** Round-4 hardening: the composed d22 dedup pipeline (LSH pairs →
  * bounded CC → keep-min corpus) and the measured d19 LSH recall gate
  * against the analytic banding bound.
  */
class Round4Spec extends SparkSpec {

  test("d22: drop set is a subset of the exact pipeline's, with high recall") {
    // Subset is a theorem (LSH pairs ⊆ exact pairs ⇒ LSH components
    // refine exact components ⇒ any non-min node of an LSH cluster is
    // non-min of its exact cluster); this test pins the implementation
    // to it and measures the recall the theorem can't give.
    for (dir <- Seq(sf, "/root/testdata/sf0.01")) {
      val docs = Tables.documents(spark, dir)
      val kept = SparkEntry.queries("d22_dedup_pipeline")(spark, dir).select("doc_id")
      val keptExact = Dedup.dedupedCorpus(docs,
        Dedup.ngramJaccard(spark, dir).select("id_a", "id_b")).select("doc_id")
      val droppedLsh = docs.select("doc_id").exceptAll(kept).cache()
      val droppedExact = docs.select("doc_id").exceptAll(keptExact).cache()
      val leaked = droppedLsh.exceptAll(droppedExact).count()
      assert(leaked == 0, s"$dir: LSH pipeline dropped $leaked docs the exact pipeline keeps")
      val (nL, nE) = (droppedLsh.count(), droppedExact.count())
      info(s"$dir: dropped lsh=$nL exact=$nE")
      assert(nE == 0 || nL >= (nE * 0.85).toLong, s"$dir: drop recall $nL/$nE < 0.85")
      droppedLsh.unpersist(); droppedExact.unpersist()
    }
  }

  test("bounded CC with a reliable checkpoint dir matches the eager labels (converged and fallback paths)") {
    import spark.implicits._
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dir = java.nio.file.Files.createTempDirectory("graft_cc_ckpt").toString
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L)).toDF("id_a", "id_b")
    val chain = (1L until 25L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (eagerPairs, eagerChain) = withCheckpointDir(None) {
      (asMap(Dedup.connectedComponents(pairs)),
       asMap(Dedup.connectedComponents(chain, maxIter = 50)))
    }
    withCheckpointDir(Some(dir)) {
      assert(asMap(Dedup.connectedComponentsBounded(pairs, iters = 4)) == eagerPairs)
      // EVERY round's cut must be committed to reliable storage (edges +
      // one per round), not just the topmost marked RDD — that is the
      // executor-loss story an installed checkpoint dir exists for
      val rddDirs = new java.io.File(dir).listFiles().flatMap(_.listFiles())
        .count(f => f.isDirectory && f.getName.startsWith("rdd-"))
      assert(rddDirs >= 5, s"expected edges + 4 round checkpoints, found $rddDirs rdd dirs")
      assert(asMap(Dedup.connectedComponentsBounded(chain, iters = 3)) == eagerChain)
    }
  }

  test("upsertHistoric: empty first batch cannot poison the table; null-ts rows are rejected not duplicated") {
    import spark.implicits._
    import graft.sources.Sinks
    val base = java.nio.file.Files.createTempDirectory("graft_upsert").toString + "/data"
    def mk(rows: Seq[(Long, String)]) = rows.toDF("event_id", "s")
      .select(col("event_id"), col("s").cast("timestamp").as("ts"))
    // 1. empty first batch: no schemaless directory may be created
    Sinks.upsertHistoric(mk(Nil), base, Seq("event_id"))
    assert(!new java.io.File(base).exists(), "empty batch must not create the table dir")
    // 2. batch with a null-ts row: the row is rejected (no day partition
    //    could ever guard it), the valid rows land
    Sinks.upsertHistoric(mk(Seq(1L -> "2024-01-05 10:00:00", 2L -> null,
      3L -> "2024-01-06 10:00:00")), base, Seq("event_id"))
    assert(spark.read.parquet(base).count() == 2)
    // 3. full re-delivery (including the null-ts row): nothing duplicates
    Sinks.upsertHistoric(mk(Seq(1L -> "2024-01-05 10:00:00", 2L -> null,
      3L -> "2024-01-06 10:00:00")), base, Seq("event_id"))
    assert(spark.read.parquet(base).count() == 2)
    // 4. an all-null-ts batch against an EXISTING table: no-op either
    Sinks.upsertHistoric(mk(Seq(4L -> null)), base, Seq("event_id"))
    assert(spark.read.parquet(base).count() == 2)
  }

  test("surrogateIds on an oversized dim equals the global dense_rank, with no single-partition data window") {
    import org.apache.spark.sql.expressions.Window
    // 100k distinct (expiry, cp, strike) triples — far beyond any "dim
    // is small" assumption the old single-partition dense_rank relied on
    val dim = spark.range(100000).select(
      date_add(lit("2024-01-01").cast("date"), (col("id") % 365).cast("int")).as("expiry"),
      when(col("id") % 2 === 0, 1).otherwise(-1).as("cp"),
      floor(col("id") / 2).cast("double").as("strike"))
    val got = Silver.surrogateIds(dim, Seq("expiry", "cp", "strike"), "opt_id")
    val want = dim.withColumn("want_id",
      dense_rank().over(Window.orderBy("expiry", "cp", "strike")).cast("long"))
    val j = got.join(want, Seq("expiry", "cp", "strike"))
    assert(j.count() == 100000)
    assert(j.filter(col("opt_id") =!= col("want_id")).count() == 0,
      "two-level ids must equal the global dense_rank")
  }

  test("d19 measured recall vs exact pairs meets the 1-(1-j^4)^4 banding bound per jaccard bucket") {
    // 16 perms / 4 bands / 4 rows: a pair at jaccard j shares a band
    // with probability 1-(1-j^4)^4. Signatures are deterministic given
    // the corpus, so measured recall is a constant of the data — the
    // assertion is exact, not statistical.
    def bound(j: Double): Double = 1.0 - math.pow(1.0 - math.pow(j, 4), 4)
    for (dir <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val docs = Tables.documents(spark, dir)
      val exact = Dedup.ngramJaccard(spark, dir)
        .select(col("id_a"), col("id_b"), col("jaccard"))
      val lsh = Dedup.ngramJaccardViaLsh(docs, blockCols = Seq("lang", "source"))
        .select(col("id_a"), col("id_b")).withColumn("hit", lit(1))
      val perBucket = exact.join(lsh, Seq("id_a", "id_b"), "left")
        .groupBy((floor(col("jaccard") * 20) / 20).as("j_lo"))
        .agg(count(lit(1)).as("n"), sum(coalesce(col("hit"), lit(0))).as("caught"))
        .collect()
        .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1)
      assert(perBucket.nonEmpty, s"$dir: no exact pairs to measure against")
      perBucket.foreach { case (jLo, n, caught) =>
        val recall = caught.toDouble / n
        info(f"$dir bucket [$jLo%.2f,${jLo + 0.05}%.2f): n=$n recall=$recall%.4f bound=${bound(jLo)}%.4f")
        assert(recall >= bound(jLo),
          f"$dir: bucket [$jLo%.2f,*): recall $recall%.4f < banding bound ${bound(jLo)}%.4f (n=$n)")
      }
    }
  }
}
