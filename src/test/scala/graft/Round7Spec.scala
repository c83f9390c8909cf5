package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, IncrementalDedup}

/** Round 7: the bucketed band-index TABLE as the incremental-dedup
  * production path — exact parity, crash safety, session-restart
  * re-registration, and the zero-exchange plan contract, all on the
  * store as ACTUALLY WRITTEN by upsertBatch(bucketedIndex = true). */
class Round7Spec extends SparkSpec {

  private def corpusSet(root: String): Set[(Long, String, String)] =
    IncrementalDedup.corpus(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet

  private lazy val batchCorpus: Set[(Long, String, String)] =
    Dedup.dedupPipeline(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet

  private def up(df: org.apache.spark.sql.DataFrame, root: String): Unit =
    IncrementalDedup.upsertBatch(df, root, bucketedIndex = true)

  test("bucketed index: arbitrary micro-batch split lands exactly the batch d22 corpus") {
    val root = Files.createTempDirectory("graft_bkt_par").toString
    val docs = Tables.documents(spark, sf)
    (0 until 4).foreach { i =>
      up(docs.filter(pmod(col("doc_id"), lit(4)) === i), root)
    }
    assert(corpusSet(root) == batchCorpus)
    // replay idempotence on the bucketed store too
    up(docs.filter(pmod(col("doc_id"), lit(4)) === 1), root)
    assert(corpusSet(root) == batchCorpus)
    val n = spark.read.parquet(s"$root/docs").count()
    assert(n == docs.count(), s"docs store has $n rows for ${docs.count()} docs")
  }

  test("bucketed index: crash between bands and docs (first batch AND later batch), retry heals") {
    val root = Files.createTempDirectory("graft_bkt_crash").toString
    val docs = Tables.documents(spark, sf)
    val chunk = (i: Int) => docs.filter(pmod(col("doc_id"), lit(3)) === i)
    // first-ever batch dies after its band rows land (docs/ never born)
    IncrementalDedup.failAfterBands = true
    try intercept[RuntimeException] { up(chunk(0), root) }
    finally IncrementalDedup.failAfterBands = false
    up(chunk(0), root) // retry must not wedge on the stale band rows
    // a LATER batch dies the same way
    IncrementalDedup.failAfterBands = true
    try intercept[RuntimeException] { up(chunk(1), root) }
    finally IncrementalDedup.failAfterBands = false
    up(chunk(1), root)
    up(chunk(2), root)
    assert(corpusSet(root) == batchCorpus)
    val n = spark.read.parquet(s"$root/docs").count()
    assert(n == docs.count(), s"docs store has $n rows for ${docs.count()} docs")
  }

  test("bucketed index: a fresh session re-registers the table from the files (RECOVER PARTITIONS)") {
    val root = Files.createTempDirectory("graft_bkt_restart").toString
    val docs = Tables.documents(spark, sf)
    up(docs.filter(pmod(col("doc_id"), lit(2)) === 0), root)
    // simulate a driver restart: the catalog entry is session state,
    // the files are the durable store
    val tbl = IncrementalDedup.bandTable(root)
    spark.sql(s"DROP TABLE `$tbl`")
    assert(!spark.catalog.tableExists(tbl))
    up(docs.filter(pmod(col("doc_id"), lit(2)) === 1), root)
    assert(corpusSet(root) == batchCorpus)
    // the re-registered table sees ALL band rows, pre- and post-restart
    assert(spark.table(tbl).count() == spark.read.parquet(s"$root/bands").count())
  }

  test("bucketed index: the steady-state historic join plans with NO exchange on the index side") {
    // the zero-exchange contract on the table as written by the
    // PRODUCTION write path (not a hand-built stand-in): batch side
    // shuffles to the bucket layout, index side must not.
    val root = Files.createTempDirectory("graft_bkt_plan").toString
    val docs = Tables.documents(spark, sf)
    up(docs.filter(pmod(col("doc_id"), lit(2)) === 0), root)
    val joinKey = Seq("band", "band_hash", "lang", "source")
    val hist = spark.table(IncrementalDedup.bandTable(root))
    // probe with the SAME half that's in the store: its own rows are
    // excluded by id_a =!= id_b below, and the half's internal
    // near-dups guarantee a nonzero collision count
    val batch = Dedup.lshBands(
        Dedup.lshTokens(docs.filter(pmod(col("doc_id"), lit(2)) === 0),
          Seq("lang", "source")), Seq("lang", "source"))
      .withColumnRenamed("doc_id", "id_a")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = batch.join(hist.withColumnRenamed("doc_id", "id_b"), joinKey)
        .filter(col("id_a") =!= col("id_b"))
      val plan = j.queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges <= 1, s"index side still shuffles ($exchanges exchanges):\n$plan")
      assert(j.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("bucketed index: appends land one file per touched bucket, tagged with its bucket id") {
    // the tiny-file discipline of the layout: bucket dir == table
    // bucket id, so repartition(bucket) gives each append exactly one
    // file per non-empty bucket (not tasks × buckets)
    val root = Files.createTempDirectory("graft_bkt_files").toString
    up(Tables.documents(spark, sf), root)
    val dirs = new java.io.File(s"$root/bands").listFiles()
      .filter(_.getName.startsWith("bucket="))
    assert(dirs.nonEmpty)
    dirs.foreach { d =>
      val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"${d.getName} has ${files.length} files after one append")
      val bucketId = d.getName.stripPrefix("bucket=").toInt
      // bucketed-write file names carry the bucket id as _NNNNN
      assert(files.head.getName.contains(f"_$bucketId%05d"),
        s"${files.head.getName} not tagged with bucket $bucketId")
    }
  }

  test("bucketed index: null block-column docs never pair and survive") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"t$i").mkString(" ")
    val docs = Seq(
      (1L, base, "en", "web"),
      (2L, base, "en", "web"),
      (3L, base, null.asInstanceOf[String], "web"),
      (4L, base, "en", null.asInstanceOf[String])
    ).toDF("doc_id", "text", "lang", "source")
    val root = Files.createTempDirectory("graft_bkt_null").toString
    IncrementalDedup.upsertBatch(docs.filter(col("doc_id") <= 2), root,
      buckets = 8, bucketedIndex = true)
    IncrementalDedup.upsertBatch(docs.filter(col("doc_id") > 2), root,
      buckets = 8, bucketedIndex = true)
    val got = IncrementalDedup.corpus(spark, root).collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 3L, 4L))
  }

  // ---- merge-log compaction ----------------------------------------

  /** A store with a two-hop merge chain (30→20→10): sliding 90-word
    * windows, same fixture family as Round6Spec's chained-merge test. */
  private def chainedStore(): String = {
    def win(start: Int) = (start until start + 90).map(i => s"wc$i").mkString(" ")
    import spark.implicits._
    val root = Files.createTempDirectory("graft_cmp").toString
    IncrementalDedup.upsertBatch(Seq((10L, win(1), "en", "web"),
      (20L, win(17), "en", "web"), (30L, win(33), "en", "web"))
      .toDF("doc_id", "text", "lang", "source"), root)
    IncrementalDedup.upsertBatch(Seq((40L, win(25), "en", "web"))
      .toDF("doc_id", "text", "lang", "source"), root) // merges 30 into 20
    IncrementalDedup.upsertBatch(Seq((50L, win(9), "en", "web"))
      .toDF("doc_id", "text", "lang", "source"), root) // merges 20 into 10
    root
  }

  private def clusterMap(root: String): Map[Long, Long] =
    IncrementalDedup.clusters(spark, root).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("compact: corpus and clusters identical before and after; merge log truncated") {
    val root = chainedStore()
    val corpusBefore = corpusSet(root)
    val clustersBefore = clusterMap(root)
    assert(clustersBefore.values.toSet == Set(10L)) // precondition: chain resolved
    IncrementalDedup.compact(spark, root)
    assert(!new java.io.File(s"$root/merges").exists(), "merge log not truncated")
    assert(corpusSet(root) == corpusBefore)
    assert(clusterMap(root) == clustersBefore)
    // idempotent: compacting a clean store is a no-op
    IncrementalDedup.compact(spark, root)
    assert(clusterMap(root) == clustersBefore)
  }

  test("compact: only merge-affected buckets are rewritten; the rest cross by rename") {
    val root = chainedStore()
    def filesPerBucket: Map[String, Set[String]] =
      new java.io.File(s"$root/docs").listFiles()
        .filter(_.getName.startsWith("bucket="))
        .map(d => d.getName -> d.listFiles().map(_.getName).toSet).toMap
    val before = filesPerBucket
    // affected buckets: those holding rows labeled by a dead id (20, 30)
    val dead = spark.read.parquet(s"$root/docs")
      .filter(col("cluster_id").isin(20L, 30L))
      .select("bucket").distinct().collect().map(r => s"bucket=${r.getInt(0)}").toSet
    assert(dead.nonEmpty)
    IncrementalDedup.compact(spark, root)
    val after = filesPerBucket
    before.foreach { case (b, fs) =>
      if (!dead.contains(b))
        assert(after(b) == fs, s"unaffected $b was rewritten")
    }
    dead.foreach(b => assert(after(b) != before(b), s"affected $b not rewritten"))
  }

  test("compact: post-compaction reads plan without any merge resolution (no join, no literal map)") {
    val root = chainedStore()
    IncrementalDedup.compact(spark, root)
    val plan = IncrementalDedup.clusters(spark, root)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"merge-map join survived compaction:\n$plan")
    assert(!plan.contains("element_at"), s"literal merge map survived compaction:\n$plan")
  }

  test("compact: a crash in EVERY failpoint window leaves the store readable and heals forward") {
    for (fp <- 1 to 3) {
      val root = chainedStore()
      val expectedCorpus = corpusSet(root)
      val expectedClusters = clusterMap(root)
      IncrementalDedup.failDuringCompact = fp
      try intercept[RuntimeException] { IncrementalDedup.compact(spark, root) }
      finally IncrementalDedup.failDuringCompact = 0
      // reads are NON-MUTATING but see through the interrupted swap
      // (the next writer entry heals it)
      assert(corpusSet(root) == expectedCorpus, s"failpoint $fp: corpus diverged")
      assert(clusterMap(root) == expectedClusters, s"failpoint $fp: clusters diverged")
      // store is fully functional afterwards: more upserts + a clean compact
      def winb(start: Int) = (start until start + 90).map(i => s"wb$i").mkString(" ")
      import spark.implicits._
      IncrementalDedup.upsertBatch(Seq((60L, winb(1), "en", "web"))
        .toDF("doc_id", "text", "lang", "source"), root)
      IncrementalDedup.compact(spark, root)
      assert(clusterMap(root) - 60L == expectedClusters, s"failpoint $fp: post-heal state broken")
      assert(!new java.io.File(s"$root/_compacting").exists())
      assert(!new java.io.File(s"$root/docs_old").exists())
      assert(!new java.io.File(s"$root/docs_new").exists())
    }
  }

  test("compact: upserts after compaction keep exact batch parity (merge machinery restarts cleanly)") {
    val root = Files.createTempDirectory("graft_cmp_cont").toString
    val docs = Tables.documents(spark, sf)
    IncrementalDedup.upsertBatch(docs.filter(pmod(col("doc_id"), lit(3)) === 0), root)
    IncrementalDedup.upsertBatch(docs.filter(pmod(col("doc_id"), lit(3)) === 1), root)
    IncrementalDedup.compact(spark, root)
    IncrementalDedup.upsertBatch(docs.filter(pmod(col("doc_id"), lit(3)) === 2), root)
    assert(corpusSet(root) == batchCorpus)
  }

  // ---- transformWithState initial-state bootstrap --------------------

  private def withRocksDb[T](body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }

  test("latestPerKeyTtl bootstrap: a snapshot-seeded stream + tail equals the batch over full history") {
    import graft.streaming.EventStream
    import EventStream.{Latest, Tick}
    import spark.implicits._
    implicit val sc = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    withRocksDb {
      // "history" already landed in a batch store; the snapshot is the
      // batch latest-per-key over it (the q11 shape + stream metadata)
      val snapshot = Seq(
        Latest(1L, ts("2024-01-10 11:00:00"), 6.0, 2L, 2L),
        Latest(2L, ts("2024-01-10 10:30:00"), 7.0, 1L, 3L)).toDS()
      val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Tick]
      val q = EventStream.latestPerKeyTtl(input.toDS(), initial = Some(snapshot))
        .toDF().writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Update)
        .format("memory").queryName("latest_boot").start()
      // tail: an OLDER event for key 1 (must NOT displace the seeded
      // latest — a fresh state would emit it) and a newer one for key 2
      input.addData(Seq(
        Tick(4L, ts("2024-01-10 09:00:00"), 1L, "quote", 9.9),
        Tick(5L, ts("2024-01-10 12:00:00"), 2L, "quote", 8.0)))
      q.processAllAvailable()
      q.stop()
      val last = spark.table("latest_boot").collect()
        .map(r => r.getLong(0) -> (r.getTimestamp(1), r.getDouble(2), r.getLong(3))).toMap
      // key 1: snapshot survives the stale tick, n_seen continues from 2
      assert(last(1L) == ((ts("2024-01-10 11:00:00"), 6.0, 3L)))
      // key 2: tail advances the latest — equals batch over full input
      assert(last(2L) == ((ts("2024-01-10 12:00:00"), 8.0, 2L)))
    }
  }

  test("funnel bootstrap: snapshot witnesses + in-order/mildly-late tail equal the batch over full history") {
    import graft.streaming.EventStream
    import EventStream.{FunnelRow, Tick}
    import spark.implicits._
    implicit val sc = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    withRocksDb {
      // q42-shaped snapshot rows: u7 completed the funnel in history,
      // u8 only clicked, u9 was clickless (views forfeited — the
      // documented snapshot trade, asserted below)
      val snapshot = Seq(
        FunnelRow(7L, Some(ts("2024-01-10 10:00:00")), Some(ts("2024-01-10 10:30:00")), Some(ts("2024-01-10 11:00:00"))),
        FunnelRow(8L, Some(ts("2024-01-10 10:00:00")), None, None),
        FunnelRow(9L, None, None, None)).toDS()
      val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Tick]
      val q = EventStream.funnelStream(input.toDS(), initial = Some(snapshot))
        .toDF().writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Update)
        .format("memory").queryName("funnel_boot").start()
      input.addData(Seq(
        // u7: a mildly-late view BETWEEN historic tc and tv — must
        // refine tv to 10:15 while the carried tp witness (11:00,
        // still > new tv) survives: exactly batch-over-full-input
        Tick(10L, ts("2024-01-10 10:15:00"), 7L, "view", 1.0),
        // u8: funnel continues in-order from the snapshot
        Tick(11L, ts("2024-01-10 12:00:00"), 8L, "view", 1.0),
        Tick(12L, ts("2024-01-10 12:30:00"), 8L, "purchase", 1.0),
        // u9: a tail click cannot resurrect historic (un-carried) views
        Tick(13L, ts("2024-01-10 09:00:00"), 9L, "click", 1.0)))
      q.processAllAvailable()
      q.stop()
      val last = spark.table("funnel_boot").collect()
        .map(r => r.getLong(0) -> (Option(r.getTimestamp(1)), Option(r.getTimestamp(2)), Option(r.getTimestamp(3)))).toMap
      assert(last(7L) == ((Some(ts("2024-01-10 10:00:00")), Some(ts("2024-01-10 10:15:00")), Some(ts("2024-01-10 11:00:00")))))
      assert(last(8L) == ((Some(ts("2024-01-10 10:00:00")), Some(ts("2024-01-10 12:00:00")), Some(ts("2024-01-10 12:30:00")))))
      // the declared divergence: tc from the tail, but no historic view
      // to qualify (a full-history replay would have tv = the old view)
      assert(last(9L) == ((Some(ts("2024-01-10 09:00:00")), None, None)))
    }
  }

  test("funnel bootstrap parity on real events: snapshot(history) + tail == batch funnel(full), per key") {
    import graft.streaming.EventStream
    import EventStream.{FunnelRow, Tick}
    import spark.implicits._
    implicit val sc = spark.sqlContext
    withRocksDb {
      val ev = Tables.events(spark, sf)
        .filter(col("event_type").isin("click", "view", "purchase"))
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .as[Tick].collect().sortBy(_.ts.getTime)
      val splitAt = ev(ev.length / 2).ts
      val (hist, tail) = ev.partition(_.ts.compareTo(splitAt) <= 0)

      // snapshot = the stream's own refined rows over history (what a
      // deployment persists per key — the q42 per-user shape)
      val in0 = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Tick]
      val q0 = EventStream.funnelStream(in0.toDS()).toDF().writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Update)
        .format("memory").queryName("funnel_hist").start()
      in0.addData(hist.toSeq); q0.processAllAvailable(); q0.stop()
      // final row per key: tc/tv/tp are monotone non-increasing once
      // defined, so min-ignoring-nulls IS the last refinement (and
      // keeps the snapshot lineage free of streaming-unsupported exprs)
      def finalRows(table: String) = spark.table(table)
        .groupBy("user_id")
        .agg(min("tc").as("tc"), min("tv").as("tv"), min("tp").as("tp"))
        .as[FunnelRow]
      val snapshot = finalRows("funnel_hist")

      // bootstrapped stream over ONLY the tail (tail is at-or-after the
      // split: the normal restart case)
      val in1 = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Tick]
      val q1 = EventStream.funnelStream(in1.toDS(), initial = Some(snapshot))
        .toDF().writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Update)
        .format("memory").queryName("funnel_tail").start()
      in1.addData(tail.toSeq); q1.processAllAvailable(); q1.stop()

      // last row per key across snapshot ∪ tail-updates
      val updated = finalRows("funnel_tail").collect()
        .map(f => f.user_id -> f).toMap
      val got = (snapshot.collect().map(f => f.user_id -> f).toMap ++ updated)
        .view.mapValues(f => (f.tc, f.tv, f.tp)).toMap.filter(_._2._1.isDefined)

      // oracle: one stream over the FULL input (Round4/Streaming specs
      // pin that this equals batch q42's per-user refinement)
      val in2 = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Tick]
      val q2 = EventStream.funnelStream(in2.toDS()).toDF().writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Update)
        .format("memory").queryName("funnel_full").start()
      in2.addData(ev.toSeq); q2.processAllAvailable(); q2.stop()
      val want = finalRows("funnel_full").collect()
        .map(f => f.user_id -> (f.tc, f.tv, f.tp)).toMap.filter(_._2._1.isDefined)

      assert(got == want, "bootstrapped funnel diverged from full-history run")
      assert(got.nonEmpty)
    }
  }

  // ---- IVF centroid drift -------------------------------------------

  test("IVF drift: a drifted append trips shouldRecluster, an in-distribution append does not") {
    import graft.operators.Similarity
    import spark.implicits._
    val path = Files.createTempDirectory("graft_drift_gauge").toString + "/idx"
    val initial = DriftFixture.initial.toDF("vec_id", "embedding")
    val cents = Similarity.buildIvfIndex(initial, k = 6, iters = 3, path)
    val baseline = Similarity.ivfDrift(initial, cents)
    val ok = Similarity.appendToIvfIndex(
      DriftFixture.inDist.toDF("vec_id", "embedding"), cents, path)
    assert(!Similarity.shouldRecluster(baseline, ok),
      s"in-distribution append flagged: baseline=$baseline current=$ok")
    val bad = Similarity.appendToIvfIndex(
      DriftFixture.drifted.toDF("vec_id", "embedding"), cents, path)
    assert(Similarity.shouldRecluster(baseline, bad),
      s"drifted append not flagged: baseline=$baseline current=$bad")
  }

  test("IVF drift: probe recall decays under the frozen quantizer and re-clustering restores it") {
    import graft.operators.Similarity
    import spark.implicits._
    val root = Files.createTempDirectory("graft_drift_recall").toString
    val initial = DriftFixture.initial.toDF("vec_id", "embedding")
    val cents = Similarity.buildIvfIndex(initial, k = 6, iters = 3, s"$root/idx")
    Similarity.appendToIvfIndex(
      DriftFixture.drifted.toDF("vec_id", "embedding"), cents, s"$root/idx")

    val queries = DriftFixture.queries.toDF("vec_id", "embedding")
    // ground truth: brute-force cosine top-5 over the full index content
    val corpus = spark.read.parquet(s"$root/idx").select("vec_id", "embedding")
    val truth = corpus
      .join(broadcast(queries.select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))),
        col("vec_id") =!= col("q_id"))
      .withColumn("cos", Similarity.cosine(col("q_vec"), col("embedding")))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("q_id")
          .orderBy(col("cos").desc, col("vec_id").asc)))
      .filter(col("rk") <= 5).select("q_id", "vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap

    def recallOf(path: String, cs: org.apache.spark.sql.DataFrame): Double = {
      val got = Similarity.probeIvfIndex(spark, path, cs, queries, topK = 5, nprobe = 1)
        .select("q_id", "neighbor_id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      truth.map { case (q, t) =>
        got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
      }.sum / truth.size
    }

    val before = recallOf(s"$root/idx", cents)
    // the evidence-driven reset: re-fit on current content, new generation
    val cents2 = Similarity.reclusterIvfIndex(spark, s"$root/idx", s"$root/idx2", k = 9, iters = 4)
    val after = recallOf(s"$root/idx2", cents2)
    assert(before <= 0.8, s"fixture failed to decay recall (before=$before)")
    assert(after >= before + 0.15, s"re-cluster did not restore recall: $before -> $after")
    assert(after >= 0.9, s"post-recluster recall too low: $after")
  }

  test("q54 under a session checkpoint dir: no persisted blocks outlive the run") {
    // the long-lived-driver contract: with a session-level reliable
    // checkpoint dir installed (Bench does this at startup),
    // surrogateIds' pinned layout goes to files, not MEMORY_AND_DISK
    // blocks — repeated q54 runs accumulate nothing in the block manager
    graft.ops.Checkpoints.install(spark.sparkContext,
      Files.createTempDirectory("graft_q54_ckpt").toString)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    SparkEntry.queries("q54_silver_import")(spark, sf).collect()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"q54 left persisted RDDs behind: $leaked")
  }

  test("d20 parity gate: the distributed bounded CC loop matches the size-gated labels on the real pair list") {
    // d20's registered entry runs connectedComponents (driver
    // union-find at this edge count); the distributed loop must stay
    // label-identical on the SAME corpus pair list so the registered
    // entry's oracle verification keeps covering it
    val pairs = Dedup.ngramJaccard(spark, sf).select("id_a", "id_b")
      .localCheckpoint(eager = true)
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    val auto = labels(Dedup.connectedComponents(pairs))
    val bounded = labels(Dedup.propagateLabels(pairs))
    assert(auto == bounded, "bounded loop diverged from the size-gated labels")
    assert(auto.nonEmpty)
    pairs.unpersist()
  }
}

/** Deterministic synthetic corpus for the drift story (shared by
  * Round7Spec's batch drift tests and Round8Spec's streaming
  * maintenance loop). Old distribution: 6 tight clusters on scaled
  * basis axes (dims 0-5). Drifted distribution: 3 tight clusters at
  * MIDPOINTS of old-center pairs — each straddles an old Voronoi
  * boundary, so under the frozen quantizer a query's true neighbors
  * split across two buckets and fixed-probe recall decays; after
  * re-clustering each new mode gets its own centroid. */
private[graft] object DriftFixture {
  val dim = 16
  private def axis(i: Int) = Array.tabulate(dim)(j => if (j == i) 4.0f else 0.0f)
  private def mid(i: Int, j: Int) =
    Array.tabulate(dim)(d => if (d == i || d == j) 2.0f else 0.0f)
  // cluster membership interleaves by id (id % nClusters) so kmeans'
  // deterministic first-k-by-id seeding starts with one seed per
  // cluster rather than k seeds inside the first cluster
  private def mk(ids: Range, centers: IndexedSeq[Array[Float]], seed: Int) = {
    val rnd = new scala.util.Random(seed)
    ids.map { i =>
      val c = centers(i % centers.length)
      (i.toLong, c.map(x => x + (rnd.nextFloat() * 2 - 1) * 0.5f))
    }
  }
  private val oldCenters = (0 until 6).map(axis)
  private val newCenters = (0 until 3).map(c => mid(2 * c, 2 * c + 1))
  val initial: Seq[(Long, Array[Float])] = mk(0 until 600, oldCenters, 11)
  val drifted: Seq[(Long, Array[Float])] = mk(1000 until 1600, newCenters, 31)
  val inDist: Seq[(Long, Array[Float])] = mk(2000 until 2060, oldCenters, 51)
  val queries: Seq[(Long, Array[Float])] = mk(9000 until 9015, newCenters, 71)
}
