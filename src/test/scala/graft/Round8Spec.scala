package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, IncrementalDedup}

/** Round 8: incremental-dedup store hardening — the persisted layout
  * contract, non-mutating reads through interrupted compactions,
  * checked renames/guarded deletes, band-index hygiene (bands ⊆ docs
  * after compact) on both layouts, and catalog lifecycle. */
class Round8Spec extends SparkSpec {

  private def corpusSet(root: String): Set[(Long, String, String)] =
    IncrementalDedup.corpus(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet

  private def clusterMap(root: String): Map[Long, Long] =
    IncrementalDedup.clusters(spark, root).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  private lazy val batchCorpus: Set[(Long, String, String)] =
    Dedup.dedupPipeline(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet

  /** A store with a two-hop merge chain (30→20→10) — the Round7Spec
    * compaction fixture. */
  private def chainedStore(): String = {
    def win(start: Int) = (start until start + 90).map(i => s"wc$i").mkString(" ")
    import spark.implicits._
    val root = Files.createTempDirectory("graft_r8_cmp").toString
    IncrementalDedup.upsertBatch(Seq((10L, win(1), "en", "web"),
      (20L, win(17), "en", "web"), (30L, win(33), "en", "web"))
      .toDF("doc_id", "text", "lang", "source"), root)
    IncrementalDedup.upsertBatch(Seq((40L, win(25), "en", "web"))
      .toDF("doc_id", "text", "lang", "source"), root) // merges 30 into 20
    IncrementalDedup.upsertBatch(Seq((50L, win(9), "en", "web"))
      .toDF("doc_id", "text", "lang", "source"), root) // merges 20 into 10
    root
  }

  // ---- persisted layout contract -----------------------------------

  test("layout marker: flipping buckets/bucketedIndex/threshold on an existing store fails loudly") {
    val root = Files.createTempDirectory("graft_r8_layout").toString
    val docs = Tables.documents(spark, sf)
    val half = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
    IncrementalDedup.upsertBatch(half, root, buckets = 8)
    val other = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
    // ADVICE's exact scenario: a restarted stream that forgets the
    // store's layout must fail loudly, not silently miss collisions
    intercept[IllegalArgumentException] {
      IncrementalDedup.upsertBatch(other, root, buckets = 16)
    }
    intercept[IllegalArgumentException] {
      IncrementalDedup.upsertBatch(other, root, buckets = 8, bucketedIndex = true)
    }
    intercept[IllegalArgumentException] {
      IncrementalDedup.upsertBatch(other, root, buckets = 8, threshold = 0.5)
    }
    intercept[IllegalArgumentException] {
      IncrementalDedup.upsertBatch(other, root, buckets = 8, blockCols = Seq("lang"))
    }
    // the matching layout proceeds and the store stays exact
    IncrementalDedup.upsertBatch(other, root, buckets = 8)
    assert(corpusSet(root) == batchCorpus)
  }

  test("layout marker: a pre-marker store gets the contract backfilled on its next upsert") {
    val root = Files.createTempDirectory("graft_r8_backfill").toString
    val docs = Tables.documents(spark, sf)
    IncrementalDedup.upsertBatch(docs.filter(col("doc_id") % 2 === 0), root, buckets = 8)
    // simulate a store created before layout markers existed
    new java.io.File(s"$root/_layout").delete()
    assert(IncrementalDedup.readLayout(spark, root).isEmpty)
    IncrementalDedup.upsertBatch(docs.filter(col("doc_id") % 2 === 1), root, buckets = 8)
    val l = IncrementalDedup.readLayout(spark, root)
    assert(l.contains(IncrementalDedup.Layout(8, bucketedIndex = false,
      Seq("lang", "source"), 0.8)))
    assert(corpusSet(root) == batchCorpus)
  }

  test("layout backfill detects the on-disk band layout: resuming a bucketed pre-marker store with the default fails loudly") {
    val root = Files.createTempDirectory("graft_r8_backfill_bkt").toString
    val docs = Tables.documents(spark, sf)
    IncrementalDedup.upsertBatch(docs.filter(col("doc_id") % 2 === 0), root,
      bucketedIndex = true)
    new java.io.File(s"$root/_layout").delete()
    // the exact restart mistake the marker exists for: default params
    // against a bucketed store — the disk layout is detectable, so the
    // backfill must refuse rather than persist the wrong contract
    val e = intercept[IllegalArgumentException] {
      IncrementalDedup.upsertBatch(docs.filter(col("doc_id") % 2 === 1), root)
    }
    assert(e.getMessage.contains("bucketed-table"), e.getMessage)
    assert(IncrementalDedup.readLayout(spark, root).isEmpty,
      "a refused backfill must not persist a layout")
    // passing the true layout heals the marker and the store finishes
    IncrementalDedup.upsertBatch(docs.filter(col("doc_id") % 2 === 1), root,
      bucketedIndex = true)
    assert(IncrementalDedup.readLayout(spark, root)
      .exists(_.bucketedIndex), "backfill lost the detected layout")
    assert(corpusSet(root) == batchCorpus)
  }

  // ---- non-mutating reads (the ADVICE concurrent-heal hazard) ------

  test("reads during an interrupted compaction mutate NOTHING and stay correct in every window") {
    for (fp <- 1 to 3) {
      val root = chainedStore()
      val expectedCorpus = corpusSet(root)
      val expectedClusters = clusterMap(root)
      IncrementalDedup.failDuringCompact = fp
      try intercept[RuntimeException] { IncrementalDedup.compact(spark, root) }
      finally IncrementalDedup.failDuringCompact = 0
      def snapshot(): Map[String, Boolean] =
        Seq("_compacting", "docs", "docs_new", "docs_old", "merges")
          .map(n => n -> new java.io.File(s"$root/$n").exists()).toMap
      val before = snapshot()
      assert(before("_compacting"), s"failpoint $fp left no marker")
      // a concurrent reader racing the (apparently live) compaction:
      // correct results, zero mutations — it must NOT "heal"
      assert(corpusSet(root) == expectedCorpus, s"failpoint $fp: corpus diverged")
      assert(clusterMap(root) == expectedClusters, s"failpoint $fp: clusters diverged")
      assert(snapshot() == before,
        s"failpoint $fp: a READ mutated the store ($before -> ${snapshot()})")
      // only the writer entry heals
      IncrementalDedup.compact(spark, root)
      assert(!new java.io.File(s"$root/_compacting").exists())
      assert(!new java.io.File(s"$root/docs_old").exists())
      assert(!new java.io.File(s"$root/docs_new").exists())
      assert(corpusSet(root) == expectedCorpus)
      assert(clusterMap(root) == expectedClusters)
    }
  }

  // ---- band-index hygiene ------------------------------------------

  private def bandDocIds(root: String): Set[Long] =
    spark.read.parquet(s"$root/bands").select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet

  private def docIds(root: String): Set[Long] =
    spark.read.parquet(s"$root/docs").select("doc_id")
      .collect().map(_.getLong(0)).toSet

  test("compact drops band rows whose doc never landed; parity preserved (path layout)") {
    val root = Files.createTempDirectory("graft_r8_hyg").toString
    val docs = Tables.documents(spark, sf)
    val chunk = (i: Int) => docs.filter(pmod(col("doc_id"), lit(3)) === i)
    IncrementalDedup.upsertBatch(chunk(0), root)
    // clean batch: the crash-evidence marker was created and cleared
    assert(!new java.io.File(s"$root/_bands_pending").exists(),
      "marker survived a successful batch")
    IncrementalDedup.failAfterBands = true
    try intercept[RuntimeException] { IncrementalDedup.upsertBatch(chunk(1), root) }
    finally IncrementalDedup.failAfterBands = false
    // stale band rows (chunk 1) + the crash-evidence marker are present
    assert((bandDocIds(root) -- docIds(root)).nonEmpty)
    assert(new java.io.File(s"$root/_bands_pending").exists(),
      "bands-landed crash left no evidence marker")
    IncrementalDedup.compact(spark, root)
    assert((bandDocIds(root) -- docIds(root)).isEmpty,
      "band index still holds docs that never landed")
    assert(!new java.io.File(s"$root/_bands_pending").exists(),
      "hygiene pass did not clear the evidence marker")
    // the dropped rows don't break parity: the retry re-bands the batch
    IncrementalDedup.upsertBatch(chunk(1), root)
    IncrementalDedup.upsertBatch(chunk(2), root)
    assert(corpusSet(root) == batchCorpus)
  }

  test("compact band hygiene is a no-op on a clean store") {
    val root = Files.createTempDirectory("graft_r8_hyg_noop").toString
    IncrementalDedup.upsertBatch(Tables.documents(spark, sf), root)
    def filesPerBucket: Map[String, Set[String]] =
      new java.io.File(s"$root/bands").listFiles()
        .filter(_.getName.startsWith("bucket="))
        .map(d => d.getName -> d.listFiles().map(_.getName).toSet).toMap
    val before = filesPerBucket
    IncrementalDedup.compact(spark, root)
    assert(filesPerBucket == before, "clean band index was rewritten")
  }

  test("band hygiene on the bucketed table keeps the clustered layout (zero-exchange join survives)") {
    val root = Files.createTempDirectory("graft_r8_hyg_bkt").toString
    val docs = Tables.documents(spark, sf)
    val chunk = (i: Int) => docs.filter(pmod(col("doc_id"), lit(3)) === i)
    def up(df: org.apache.spark.sql.DataFrame): Unit =
      IncrementalDedup.upsertBatch(df, root, bucketedIndex = true)
    up(chunk(0))
    IncrementalDedup.failAfterBands = true
    try intercept[RuntimeException] { up(chunk(1)) }
    finally IncrementalDedup.failAfterBands = false
    IncrementalDedup.compact(spark, root)
    assert((bandDocIds(root) -- docIds(root)).isEmpty)
    // rewritten files still carry the bucket-id tag the clustered
    // layout depends on
    new java.io.File(s"$root/bands").listFiles()
      .filter(_.getName.startsWith("bucket=")).foreach { d =>
        val bucketId = d.getName.stripPrefix("bucket=").toInt
        d.listFiles().filter(_.getName.endsWith(".parquet")).foreach { fl =>
          assert(fl.getName.contains(f"_$bucketId%05d"),
            s"${fl.getName} lost its bucket tag after hygiene rewrite")
        }
      }
    // the refreshed table sees exactly the surviving rows
    val tbl = IncrementalDedup.bandTable(root)
    assert(spark.table(tbl).count() == spark.read.parquet(s"$root/bands").count())
    // zero-exchange historic join still plans with no index-side shuffle
    val joinKey = Seq("band", "band_hash", "lang", "source")
    val batch = Dedup.lshBands(
        Dedup.lshTokens(chunk(0), Seq("lang", "source")), Seq("lang", "source"))
      .withColumnRenamed("doc_id", "id_a")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = batch.join(spark.table(tbl).withColumnRenamed("doc_id", "id_b"), joinKey)
        .filter(col("id_a") =!= col("id_b"))
      val plan = j.queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges <= 1, s"index side shuffles after hygiene ($exchanges exchanges):\n$plan")
      assert(j.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    // the store is still fully functional: retry + finish, exact parity
    up(chunk(1))
    up(chunk(2))
    assert(corpusSet(root) == batchCorpus)
  }

  test("band hygiene: a crash in every failpoint window heals forward; bands ⊆ docs holds after") {
    for (fp <- 1 to 3) {
      val root = Files.createTempDirectory(s"graft_r8_hyg_fp$fp").toString
      val docs = Tables.documents(spark, sf)
      val chunk = (i: Int) => docs.filter(pmod(col("doc_id"), lit(3)) === i)
      IncrementalDedup.upsertBatch(chunk(0), root)
      IncrementalDedup.failAfterBands = true
      try intercept[RuntimeException] { IncrementalDedup.upsertBatch(chunk(1), root) }
      finally IncrementalDedup.failAfterBands = false
      IncrementalDedup.failDuringBandCompact = fp
      try intercept[RuntimeException] { IncrementalDedup.compact(spark, root) }
      finally IncrementalDedup.failDuringBandCompact = 0
      // docs-side reads unaffected by the band-tree crash window
      assert(docIds(root).nonEmpty)
      // the writer path heals and the store finishes exactly
      IncrementalDedup.upsertBatch(chunk(1), root)
      IncrementalDedup.upsertBatch(chunk(2), root)
      IncrementalDedup.compact(spark, root)
      assert(!new java.io.File(s"$root/_compacting_bands").exists(), s"fp$fp marker survived")
      assert(!new java.io.File(s"$root/bands_old").exists(), s"fp$fp bands_old survived")
      assert(!new java.io.File(s"$root/bands_new").exists(), s"fp$fp bands_new survived")
      assert((bandDocIds(root) -- docIds(root)).isEmpty, s"fp$fp: bands ⊄ docs")
      assert(corpusSet(root) == batchCorpus, s"fp$fp: corpus diverged")
    }
  }

  // ---- catalog lifecycle -------------------------------------------

  test("dropStore unregisters the band table and deletes the files") {
    val root = Files.createTempDirectory("graft_r8_drop").toString
    IncrementalDedup.upsertBatch(Tables.documents(spark, sf), root,
      bucketedIndex = true)
    val tbl = IncrementalDedup.bandTable(root)
    assert(spark.catalog.tableExists(tbl))
    IncrementalDedup.dropStore(spark, root)
    assert(!spark.catalog.tableExists(tbl))
    assert(!new java.io.File(root).exists())
  }

  test("unregisterBandTable leaves the files; the next upsert re-registers") {
    val root = Files.createTempDirectory("graft_r8_unreg").toString
    val docs = Tables.documents(spark, sf)
    IncrementalDedup.upsertBatch(docs.filter(col("doc_id") % 2 === 0), root,
      bucketedIndex = true)
    IncrementalDedup.unregisterBandTable(spark, root)
    assert(!spark.catalog.tableExists(IncrementalDedup.bandTable(root)))
    assert(new java.io.File(s"$root/bands").exists())
    IncrementalDedup.upsertBatch(docs.filter(col("doc_id") % 2 === 1), root,
      bucketedIndex = true)
    assert(corpusSet(root) == batchCorpus)
  }

  // ---- plan-literal guard ------------------------------------------

  test("filterInLongSet: the broadcast-semi path past the literal cap matches isin exactly") {
    import spark.implicits._
    val df = (1L to 100L).toDF("cluster_id")
    val wanted = Seq(3L, 17L, 42L, 99L)
    val viaIsin = df.filter(col("cluster_id").isin(wanted: _*))
      .collect().map(_.getLong(0)).toSet
    val viaJoin = IncrementalDedup.filterInLongSet(df, "cluster_id", wanted, litMax = 1)
      .collect().map(_.getLong(0)).toSet
    assert(viaJoin == viaIsin)
    assert(viaJoin == wanted.toSet)
  }

  // ---- streaming IVF maintenance loop ------------------------------

  test("streaming IVF maintenance: drift trips through ivfAppendStream's tracker and re-cluster restores recall") {
    import graft.operators.Similarity
    import graft.streaming.EventStream
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val root = Files.createTempDirectory("graft_r8_ivf_loop").toString
    val initial = DriftFixture.initial.toDF("vec_id", "embedding")
    val cents = Similarity.buildIvfIndex(initial, k = 6, iters = 3, s"$root/idx")
    // generation baseline: drift of the content the quantizer was fit to
    val baseline = Similarity.ivfDrift(initial, cents)
    val tracker = new graft.ops.Monitoring.IvfDriftTracker(baseline)

    val input = MemoryStream[(Long, Array[Float])]
    val q = EventStream.ivfAppendStream(
      input.toDF().toDF("vec_id", "embedding"), cents, s"$root/idx",
      Files.createTempDirectory("graft_r8_ivf_ck").toString,
      onDrift = tracker.record)
    // an in-distribution micro-batch leaves the trigger unarmed
    input.addData(DriftFixture.inDist)
    q.processAllAvailable()
    assert(!tracker.tripped, "in-distribution batch tripped the tracker")
    // the drifted stream arms it (latched across later batches)
    val (d1, d2) = DriftFixture.drifted.splitAt(DriftFixture.drifted.size / 2)
    input.addData(d1)
    q.processAllAvailable()
    input.addData(d2)
    q.processAllAvailable()
    q.stop()
    assert(tracker.tripped, "drifted stream never tripped shouldRecluster")
    val gauges = tracker.drain()
    assert(gauges.size == 3, s"expected one gauge per micro-batch, got $gauges")

    // the maintenance response the trip schedules: measure recall under
    // the frozen quantizer, re-cluster into a new generation, re-measure
    val queries = DriftFixture.queries.toDF("vec_id", "embedding")
    val corpus = spark.read.parquet(s"$root/idx").select("vec_id", "embedding")
    val truth = corpus
      .join(broadcast(queries.select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))),
        col("vec_id") =!= col("q_id"))
      .withColumn("cos", Similarity.cosine(col("q_vec"), col("embedding")))
      .withColumn("rk", row_number().over(
        Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id").asc)))
      .filter(col("rk") <= 5).select("q_id", "vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    def recallOf(path: String, cs: org.apache.spark.sql.DataFrame): Double = {
      val got = Similarity.probeIvfIndex(spark, path, cs, queries, topK = 5, nprobe = 1)
        .select("q_id", "neighbor_id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      truth.map { case (qid, t) =>
        got.getOrElse(qid, Set.empty).intersect(t).size.toDouble / t.size
      }.sum / truth.size
    }
    val before = recallOf(s"$root/idx", cents)
    val cents2 = Similarity.reclusterIvfIndex(spark, s"$root/idx", s"$root/idx2", k = 9, iters = 4)
    val after = recallOf(s"$root/idx2", cents2)
    assert(before <= 0.8, s"fixture failed to decay recall (before=$before)")
    assert(after >= before + 0.15, s"re-cluster did not restore recall: $before -> $after")
    assert(after >= 0.9, s"post-recluster recall too low: $after")
  }

  // ---- initial-state × TTL -----------------------------------------

  test("latestPerKeyTtl: snapshot-seeded state carries the TTL from seed time (poll-and-stop)") {
    // the pinned semantics: handleInitialState writes through the SAME
    // TTL-configured ValueState as live updates, so a snapshot-seeded
    // key's state expires `ttl` after the seeding batch — a snapshot is
    // a head start, not an immortal row. Seeded keys that receive a
    // tick within the TTL continue from the snapshot (n_seen resumes);
    // seeded keys left idle past the TTL age out store-natively and a
    // later tick sees absent state (n_seen restarts at 1).
    import graft.streaming.EventStream
    import graft.streaming.EventStream.{Latest, Tick}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import spark.implicits._
    implicit val sc = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val snapshot = Seq(
        Latest(7L, ts("2024-01-10 09:00:00"), 70.0, 5L, 100L),
        Latest(8L, ts("2024-01-10 09:00:00"), 80.0, 3L, 200L)).toDS()
      val input = MemoryStream[Tick]
      val q = EventStream.latestPerKeyTtl(input.toDS(),
          ttl = Some(java.time.Duration.ofMillis(500)),
          initial = Some(snapshot)).toDF()
        .writeStream.outputMode(OutputMode.Update)
        .format("memory").queryName("tws_ttl_seed_out").start()
      def lastSeen(user: Long, t: java.sql.Timestamp): Option[Long] = {
        val r = spark.table("tws_ttl_seed_out")
          .filter(col("user_id") === user && col("ts") === t)
          .select("n_seen").collect()
        r.lastOption.map(_.getLong(0))
      }
      def await(cond: => Boolean): Unit = {
        val deadline = System.currentTimeMillis() + 30000
        while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(100)
        assert(cond, "condition not reached within 30s")
      }
      // batch 0: the snapshot seeds BOTH keys; user 7's tick lands in
      // the same batch, inside the TTL by construction — it continues
      // from the snapshot (n_seen 5 -> 6)
      input.addData(Tick(1L, ts("2024-01-10 10:00:00"), 7L, "view", 1.0))
      await(lastSeen(7L, ts("2024-01-10 10:00:00")).contains(6L))
      Thread.sleep(2000) // >> 500ms TTL: user 8's seeded state ages out idle
      input.addData(Tick(2L, ts("2024-01-10 10:05:00"), 8L, "view", 2.0))
      // absent state again: the snapshot did NOT outlive its TTL
      await(lastSeen(8L, ts("2024-01-10 10:05:00")).contains(1L))
      q.stop()
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("curatedInsertStream: gates drop short/repetitive/contaminated docs; replay adds nothing") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft_cur_stream").toString
    val ckpt = Files.createTempDirectory("graft_cur_ckpt").toString

    def doc(i: Int, words: Seq[String]) = (i.toLong, words.mkString(" "), "en", "src0")
    val cleanA = doc(1, (1 to 30).map(i => s"aw$i"))
    val cleanB = doc(2, (1 to 30).map(i => s"bw$i"))
    val short  = doc(3, Seq("tiny", "doc"))                       // < minWords
    val repet  = doc(4, Seq.fill(15)(Seq("rep", "rep", "rep")).flatten) // rep_frac ≈ 1
    // contaminated: copies 12 consecutive words (≥ one 8-gram) from the benchmark doc
    val benchWords = (1 to 20).map(i => s"ev$i")
    val contam = doc(5, benchWords.take(12) ++ (1 to 18).map(i => s"cw$i"))
    val bench = Seq((100L, benchWords.mkString(" "))).toDF("doc_id", "text")

    val in1 = MemoryStream[(Long, String, String, String)]
    val q1 = graft.streaming.EventStream.curatedInsertStream(
      in1.toDF().toDF("doc_id", "text", "lang", "source"), root, ckpt,
      benchmark = Some(bench), minWords = 5, maxRepFrac = 0.9)
    in1.addData(Seq(cleanA, short))
    q1.processAllAvailable()
    in1.addData(Seq(cleanB, repet, contam))
    q1.processAllAvailable()
    q1.stop()
    assert(corpusSet(root).map(_._1) == Set(1L, 2L),
      s"gates failed: ${corpusSet(root).map(_._1)}")

    // replay: a new query re-delivers everything (at-least-once) — the
    // deterministic gates + store guard must land zero new rows
    val in2 = MemoryStream[(Long, String, String, String)]
    val q2 = graft.streaming.EventStream.curatedInsertStream(
      in2.toDF().toDF("doc_id", "text", "lang", "source"), root,
      Files.createTempDirectory("graft_cur_ckpt2").toString,
      benchmark = Some(bench), minWords = 5, maxRepFrac = 0.9)
    in2.addData(Seq(cleanA, cleanB, short, repet, contam))
    q2.processAllAvailable()
    q2.stop()
    assert(corpusSet(root).map(_._1) == Set(1L, 2L), "replay changed the corpus")
  }

  test("curatedInsertStream: frozen model gate drops low-quality docs in-stream, replay-stable") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft_cur_mstream").toString
    val ckpt = Files.createTempDirectory("graft_cur_mckpt").toString
    // frozen artifact trained OUTSIDE the stream on separable vocab
    val trainDocs = ((0L until 20L).map(i =>
      (i, (1 to 8).map(j => s"good$j").mkString(" "), 1.0)) ++
      (100L until 120L).map(i =>
        (i, (1 to 8).map(j => s"junk$j").mkString(" "), 0.0))).toDF("doc_id", "text", "y")
    val model = graft.operators.Classifier.trainLogistic(
      trainDocs.select("doc_id", "text"), trainDocs.select("doc_id", "y"),
      256, iters = 12, lr = 10.0)
    val in = MemoryStream[(Long, String, String, String)]
    val q = graft.streaming.EventStream.curatedInsertStream(
      in.toDF().toDF("doc_id", "text", "lang", "source"), root, ckpt,
      minWords = 5, qualityModel = Some(model))
    val goodDoc = (7L, (1 to 8).map(j => s"good$j").mkString(" "), "en", "src0")
    val junkDoc = (8L, (1 to 8).map(j => s"junk$j").mkString(" "), "en", "src0")
    in.addData(Seq(goodDoc, junkDoc))
    q.processAllAvailable()
    // second batch replays both: gate is a pure row function, store
    // guard absorbs the duplicate — corpus stays exactly {good}
    in.addData(Seq(goodDoc, junkDoc))
    q.processAllAvailable()
    q.stop()
    assert(corpusSet(root).map(_._1) == Set(7L),
      s"model gate in-stream failed: ${corpusSet(root).map(_._1)}")
  }
}
