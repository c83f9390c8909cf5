package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Round 19: tripletMineStream's manifest guard follows the
  * IncrementalDedup store-pruning discipline (abucket-partitioned
  * manifest + Sinks.readPruned bucket-dir/footer-box prune), and the
  * within-batch duplicate pick is deterministic. The end-to-end
  * replay/no-retro-update/batch-parity contract stays gated by
  * Round18Spec's tripletMineStream test.
  */
class Round19Spec extends SparkSpec {

  import spark.implicits._

  test("tripletMineStream: manifest is abucket-partitioned and the guard's " +
      "pruned read skips other batches' files") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_trip_prune").toString
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val idxPath = dir + "/idx"
    val outPath = dir + "/trips"
    val cents = Similarity.buildIvfIndex(
      emb.filter(col("vec_id") >= 100), k = 8, iters = 2, idxPath)
    val rows = emb.filter(col("vec_id") < 100)
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val (batch1, batch2) = rows.partition(_._1 < 50)

    val input = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.EventStream.tripletMineStream(
      input.toDF().toDF("vec_id", "embedding"), cents, idxPath, outPath,
      java.nio.file.Files.createTempDirectory("graft_trip_ck19").toString)
    input.addData(batch1.toSeq)
    q.processAllAvailable()
    input.addData(batch2.toSeq)
    q.processAllAvailable()
    q.stop()

    // layout: every top-level child of the manifest is an abucket= dir
    val root = new java.io.File(outPath)
    val dirs = root.listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("abucket=")), dirs.toSeq)

    // the guard's prune inputs for a batch-2 REPLAY: id box [50, 99].
    // Batch-1's files hold only ids < 50, so their footer stats prove
    // non-overlap — every one of them must be SKIPPED without a read.
    val (kept, skipped) = graft.sources.Sinks.prunedDataFiles(
      spark, outPath, Seq(("anchor_id", 50.0, 99.0)))
    assert(skipped.nonEmpty, "batch-1 files were not footer-pruned")
    val keptIds = spark.read.option("basePath", outPath)
      .parquet(kept: _*).select("anchor_id").as[Long].collect().toSet
    assert(keptIds == batch2.map(_._1).toSet,
      s"kept files must be exactly batch-2's (got ${keptIds.size} ids)")

    // the full guard read (dir filter + box + residual) returns
    // exactly the batch-2 anchors the anti-join needs
    val bks = batch2.map(_._1).toSeq.toDF("vec_id")
      .select(pmod(hash(col("vec_id")), lit(64)).as("bk"))
      .distinct().as[Int].collect().toSet
    val seen = graft.sources.Sinks.readPruned(spark, outPath,
        Seq(("anchor_id", 50.0, 99.0)), n => bks.contains(n.stripPrefix("abucket=").toInt))
      .select("anchor_id").as[Long].collect().toSet
    assert(seen == batch2.map(_._1).toSet)

    // manifest completeness is unchanged by the layout: one row per anchor
    val manifest = spark.read.parquet(outPath)
    assert(manifest.select("anchor_id").as[Long].collect().toSet ==
      rows.map(_._1).toSet)
    assert(manifest.count() == rows.length.toLong)
  }

  // ---- d73 mutual-kNN -------------------------------------------------

  /** Driver-side reference over an explicit directed knn edge list. */
  private def refMutual(knn: Seq[(Long, Long, Double)], minCos: Double)
      : (Set[(Long, Long)], Map[Long, Long]) = {
    val kept = knn.filter(_._3 >= minCos).map(e => (e._1, e._2)).toSet
    val mutual = kept.filter { case (a, b) => a < b && kept((b, a)) }
    // component-min labels via driver union-find
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long =
      if (parent.getOrElse(x, x) == x) x
      else { val r = find(parent(x)); parent(x) = r; r }
    mutual.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = mutual.flatMap(e => Seq(e._1, e._2))
    (mutual, nodes.map(n => n -> find(n)).toMap)
  }

  test("d73: mutualKnnOf matches the driver reference on a planted graph") {
    // 1↔2 mutual strong; 3→4 one-directional (dropped); 5↔6 mutual but
    // below the cos bar (dropped); 2↔7 mutual strong chains 1-2-7 into
    // one component; 8↔9 separate component
    val knn = Seq(
      (1L, 2L, 0.9), (2L, 1L, 0.9),
      (3L, 4L, 0.8),
      (5L, 6L, 0.2), (6L, 5L, 0.2),
      (2L, 7L, 0.7), (7L, 2L, 0.7),
      (8L, 9L, 0.5), (9L, 8L, 0.5))
    val got = graft.operators.Similarity
      .mutualKnnOf(knn.toDF("q_id", "neighbor_id", "cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val (wantEdges, wantLabels) = refMutual(knn, 0.30)
    assert(got.map(g => (g._1, g._2)).toSet == wantEdges)
    got.foreach { case (a, b, c, cid) =>
      assert(cid == wantLabels(a) && cid == wantLabels(b), s"label of ($a,$b)")
      assert(c == knn.find(e => e._1 == a && e._2 == b).get._3)
    }
    // the chain 1-2-7 is ONE component labeled by its min id
    val labels = got.map(g => g._1 -> g._4).toMap
    assert(labels(1L) == 1L && labels(2L) == 1L && labels(8L) == 8L)
  }

  test("d73: registered entry — edges ⊆ d72 both ways, labels consistent, " +
      "deterministic") {
    val knn = graft.operators.Similarity.knnGraph(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val a = graft.operators.Similarity.mutualKnn(spark, sf).collect()
    val b = graft.operators.Similarity.mutualKnn(spark, sf).collect()
    assert(a.toSeq == b.toSeq)
    assert(a.nonEmpty, "planted-free corpus still has mutual neighbors")
    val labels = scala.collection.mutable.Map.empty[Long, Long]
    a.foreach { r =>
      val (x, y, c, cid) = (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))
      assert(x < y)
      assert(knn.contains((x, y)) && knn.contains((y, x)), s"($x,$y) not mutual in d72")
      assert(c >= 0.30 && c == knn((x, y)))
      // every node carries ONE label across all its edges
      assert(labels.getOrElseUpdate(x, cid) == cid)
      assert(labels.getOrElseUpdate(y, cid) == cid)
      assert(cid <= math.min(x, y), "label must be a component-min id")
    }
  }

  // ---- appendToIvfIndex pruned guard -------------------------------------

  test("appendToIvfIndex: guard is footer-box pruned — a monotone second " +
      "batch skips the first batch's files") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_prune").toString
    val idx = dir + "/idx"
    val b1 = emb.filter(col("vec_id") < 50)
    val b2 = emb.filter(col("vec_id") >= 50 && col("vec_id") < 100)
    val cents = Similarity.buildIvfIndex(b1, k = 4, iters = 2, idx)
    Similarity.appendToIvfIndex(b2, cents, idx): Unit
    // replay batch 2: already-landed ids must be dropped (store wins)
    Similarity.appendToIvfIndex(b2, cents, idx): Unit
    val stored = spark.read.parquet(idx)
    assert(stored.count() == 100L)
    assert(stored.select("vec_id").distinct().count() == 100L)
    // the prune the guard relies on: with batch-2's id box, every
    // batch-1 file (ids < 50) is skippable by footer stats alone
    val (kept, skipped) = graft.sources.Sinks.prunedDataFiles(
      spark, idx, Seq(("vec_id", 50.0, 99.0)))
    assert(skipped.nonEmpty, "batch-1 files were not footer-pruned")
    import spark.implicits._
    val keptIds = spark.read.option("basePath", idx).parquet(kept: _*)
      .select("vec_id").as[Long].collect().toSet
    assert(keptIds == (50L until 100L).toSet)
  }

  // ---- d75 LSH recall ----------------------------------------------------

  test("d75: lshRecallOf bands and counts a planted miss correctly") {
    val exact = Seq((1L, 2L, 0.80), (1L, 3L, 0.84), (2L, 3L, 0.86),
      (4L, 5L, 0.97), (6L, 7L, 1.0))
      .toDF("id_a", "id_b", "jaccard")
    val lsh = Seq((1L, 2L), (2L, 3L), (4L, 5L), (6L, 7L)) // missed (1,3)
      .toDF("id_a", "id_b")
    val got = graft.operators.Dedup.lshRecallOf(exact, lsh)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq(
      (16, 2L, 1L, 0.5), // 0.80, 0.84 — one missed
      (17, 1L, 1L, 1.0), // 0.86
      (19, 1L, 1L, 1.0), // 0.97
      (20, 1L, 1L, 1.0)), got.toSeq.toString) // 1.0
  }

  test("d75: registered entry — bands 16..20, counts bounded, deterministic") {
    val a = graft.operators.Dedup.lshRecall(spark, sf).collect()
    val b = graft.operators.Dedup.lshRecall(spark, sf).collect()
    assert(a.toSeq == b.toSeq)
    assert(a.nonEmpty)
    a.foreach { r =>
      val (band, ne, nc, rec) = (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(band >= 16 && band <= 20)
      assert(nc <= ne && ne > 0)
      assert(rec == nc.toDouble / ne.toDouble)
    }
    // banding is the only recall gate: capture must be perfect at j=1
    val exactDup = a.find(_.getInt(0) == 20)
    exactDup.foreach(r => assert(r.getDouble(3) == 1.0, "exact dups missed"))
  }

  // ---- d74 ANN recall ---------------------------------------------------

  test("d74: full-coverage blocking scores recall 1.0; planted misses count") {
    def v(parts: (Int, Float)*): Array[Float] = {
      val a = Array.fill(64)(0.01f); parts.foreach { case (i, x) => a(i) = x }; a
    }
    val vecs = (0 until 12).map(i => (i.toLong, v(i % 4 -> 1.0f, 5 -> 0.1f * (i / 4))))
      .toDF("vec_id", "embedding")
    // k=2 + multiAssign=2 probes cover everything → knn IS exact → 1.0
    val full = graft.operators.Similarity.knnGraphOf(
      vecs, kNeighbors = 3, k = Some(2), iters = 2, multiAssign = 2)
    val r1 = graft.operators.Similarity.annRecallOf(vecs, full, panel = 12, topK = 3)
      .collect()
    assert(r1.length == 12)
    r1.foreach(r => assert(r.getLong(1) == 3L && r.getDouble(2) == 1.0, r.toString))
    // an empty approx view scores recall 0.0 for every panel query
    val r0 = graft.operators.Similarity.annRecallOf(
      vecs, full.limit(0), panel = 12, topK = 3).collect()
    r0.foreach(r => assert(r.getLong(1) == 0L && r.getDouble(2) == 0.0))
  }

  test("d72: knnGraphOf's per-anchor top-k plans no Window; full 5-NN coverage") {
    val kg = Similarity.knnGraphOf(hashVecs(2000))
    val plan = kg.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"per-anchor top-k must stay a bounded aggregate, got:\n$plan")
    assert(kg.count() == 2000L * 5)
  }

  test("d74: registered entry — panel size, bounds, determinism") {
    val a = graft.operators.Similarity.annRecall(spark, sf).collect()
    val b = graft.operators.Similarity.annRecall(spark, sf).collect()
    assert(a.toSeq == b.toSeq)
    assert(a.length == 100)
    a.foreach { r =>
      val (h, rec) = (r.getLong(1), r.getDouble(2))
      assert(h >= 0L && h <= 5L)
      assert(rec == h.toDouble / 5.0)
    }
  }

  test("d74: ann_recall TVF parity") {
    Graft.install(spark)
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    emb.createOrReplaceTempView("g_emb19")
    graft.operators.Similarity.knnGraphOf(emb, k = Some(4), iters = 2)
      .createOrReplaceTempView("g_knn19r")
    val viaTvf = spark.sql(
      "SELECT * FROM ann_recall('g_emb19', 'g_knn19r', 20, 5)")
      .collect().map(_.toSeq).toSet
    val direct = graft.operators.Similarity.annRecallOf(
      emb, spark.table("g_knn19r"), 20, 5).collect().map(_.toSeq).toSet
    assert(viaTvf == direct && viaTvf.size == 20)
  }

  // ---- streaming k-NN neighbor-table maintenance -----------------------

  test("knnMaintainStream: split-stream view == frozen-centroid batch d72, " +
      "replay collapses in the view") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Similarity
    implicit val sqlCtx = spark.sqlContext
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val cents = Similarity.kmeans(emb, 8, 2).localCheckpoint(true)
    val twin = Similarity.knnGraphAgainst(emb, cents)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))

    def runStream(dir: String, batches: Seq[Seq[(Long, Array[Float])]]): Unit = {
      val in = MemoryStream[(Long, Array[Float])]
      val q = graft.streaming.EventStream.knnMaintainStream(
        in.toDF().toDF("vec_id", "embedding"), cents,
        dir + "/idx", dir + "/subs", dir + "/log", dir + "/ck" + batches.length)
      batches.foreach { bt => in.addData(bt); q.processAllAvailable() }
      q.stop()
    }
    def view(dir: String) =
      Similarity.knnFromLog(spark.read.parquet(dir + "/log"))
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))

    val rows = emb.as[(Long, Array[Float])].collect().sortBy(_._1)
    val dir = java.nio.file.Files.createTempDirectory("graft_knn_stream").toString
    // three uneven splits, out of id order
    val batches = Seq(
      rows.filter(_._1 % 3 == 1).toSeq,
      rows.filter(_._1 % 3 == 2).toSeq,
      rows.filter(_._1 % 3 == 0).toSeq)
    runStream(dir, batches)
    val got = view(dir)
    assert(got.toSeq == twin.toSeq, "stream view != batch twin under splits")

    // subscription store is partition-pruned by design: pbucket dirs
    val dirs = new java.io.File(dir + "/subs").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("pbucket=")), dirs.toSeq)

    // full redelivery in ONE batch with a fresh checkpoint: the log
    // grows but the VIEW is unchanged (max-cos collapse before top-k)
    val in2 = MemoryStream[(Long, Array[Float])]
    val q2 = graft.streaming.EventStream.knnMaintainStream(
      in2.toDF().toDF("vec_id", "embedding"), cents,
      dir + "/idx", dir + "/subs", dir + "/log", dir + "/ck_replay")
    in2.addData(rows.toSeq)
    q2.processAllAvailable()
    q2.stop()
    assert(view(dir).toSeq == twin.toSeq, "replay changed the view")

    // one-batch stream in a fresh dir equals the twin too (the
    // degenerate split — covers insertion-only mining)
    val dir2 = java.nio.file.Files.createTempDirectory("graft_knn_one").toString
    runStream(dir2, Seq(rows.toSeq))
    assert(view(dir2).toSeq == twin.toSeq, "one-batch stream != batch twin")
  }

  test("compactKnnLog: view-identical, file count drops, every crash " +
      "point of append-then-delete leaves the view unchanged") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Similarity
    implicit val sqlCtx = spark.sqlContext
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val cents = Similarity.kmeans(emb, 8, 2).localCheckpoint(true)
    val dir = java.nio.file.Files.createTempDirectory("graft_knn_compact").toString
    val rows = emb.as[(Long, Array[Float])].collect().sortBy(_._1)
    val in = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.EventStream.knnMaintainStream(
      in.toDF().toDF("vec_id", "embedding"), cents,
      dir + "/idx", dir + "/subs", dir + "/log", dir + "/ck")
    rows.grouped(rows.length / 4 + 1).foreach { bt =>
      in.addData(bt.toSeq); q.processAllAvailable()
    }
    q.stop()
    def view() = Similarity.knnFromLog(spark.read.parquet(dir + "/log"))
      .collect().map(_.toSeq).toSeq
    def files() = new java.io.File(dir + "/log").listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_")
        && !f.getName.startsWith(".")).map(_.getName).toSet
    val before = view()
    val oldFiles = files()
    Similarity.compactKnnLog(spark, dir + "/log")
    assert(view() == before, "compaction changed the view")
    val after = files()
    assert(after.intersect(oldFiles).isEmpty, "old files must be deleted")
    assert(spark.read.parquet(dir + "/log").count() == before.size.toLong,
      "compacted log must hold exactly the top-k rows")

    // crash-point invariant: append the top-k again (the compaction's
    // first half) and delete only HALF the current files (an
    // interrupted second half) — the view must still be identical
    val topk = Similarity.knnFromLog(spark.read.parquet(dir + "/log"))
      .select(col("q_id"), col("neighbor_id").as("vec_id"), col("cos"))
      .localCheckpoint(true)
    topk.write.mode("append").parquet(dir + "/log")
    val half = after.toSeq.sorted.take(after.size / 2)
    half.foreach(n => new java.io.File(dir + "/log", n).delete())
    assert(view() == before, "partial compaction crash changed the view")
  }

  test("d73: mutual_knn TVF parity") {
    Graft.install(spark)
    val knn = Seq((1L, 2L, 0.9), (2L, 1L, 0.9), (3L, 1L, 0.8))
      .toDF("q_id", "neighbor_id", "cos")
    knn.createOrReplaceTempView("g_knn19")
    val viaTvf = spark.sql("SELECT * FROM mutual_knn('g_knn19')")
      .collect().map(_.toSeq).toSet
    val direct = graft.operators.Similarity.mutualKnnOf(knn)
      .collect().map(_.toSeq).toSet
    assert(viaTvf == direct && viaTvf.nonEmpty)
    assert(spark.sql("SELECT * FROM mutual_knn('g_knn19', 0.95)").count() == 0L)
  }

  test("tripletMineStream: duplicate vec_id within a batch resolves " +
      "deterministically (arrival-order independent)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val base = emb.filter(col("vec_id") >= 100)
    val two = emb.filter(col("vec_id") < 2)
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    assert(two.length == 2)
    // two conflicting embeddings for the SAME vec_id in one batch
    val dup = Seq((7777L, two(0)._2), (7777L, two(1)._2))

    def run(batch: Seq[(Long, Array[Float])]): (Array[Float], Map[Long, Seq[Any]]) = {
      val d = java.nio.file.Files.createTempDirectory("graft_trip_dup").toString
      val cents = Similarity.buildIvfIndex(base, k = 8, iters = 2, d + "/idx")
      val in = MemoryStream[(Long, Array[Float])]
      val q = graft.streaming.EventStream.tripletMineStream(
        in.toDF().toDF("vec_id", "embedding"), cents, d + "/idx", d + "/trips",
        d + "/ck")
      in.addData(batch)
      q.processAllAvailable()
      q.stop()
      val stored = spark.read.parquet(d + "/idx")
        .filter(col("vec_id") === 7777L)
        .select("embedding").as[Array[Float]].collect()
      assert(stored.length == 1, "index must hold ONE row for the dup id")
      val man = spark.read.parquet(d + "/trips")
        .select("anchor_id", "pos_id", "neg_id")
        .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
      (stored.head, man)
    }

    val (e1, m1) = run(dup)
    val (e2, m2) = run(dup.reverse)
    assert(e1.toSeq == e2.toSeq, "duplicate pick depends on arrival order")
    assert(m1 == m2)
  }
}
