package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, IncrementalDedup}
import graft.streaming.EventStream

/** Round 6: streaming/incremental near-dup dedup — exact parity with
  * the batch d22 pipeline under arbitrary batch splits, replay, and
  * cluster merges. */
class Round6Spec extends SparkSpec {

  private def corpusSet(root: String): Set[(Long, String, String)] =
    IncrementalDedup.corpus(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet

  private lazy val batchCorpus: Set[(Long, String, String)] =
    Dedup.dedupPipeline(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet

  test("incremental dedup: arbitrary micro-batch split lands exactly the batch d22 corpus") {
    val root = Files.createTempDirectory("graft_inc_par").toString
    val docs = Tables.documents(spark, sf)
    // split by id mod 4 — deliberately NOT contiguous ranges: parity
    // must hold for ANY arrival order (labels are component minima,
    // which are order-independent)
    (0 until 4).foreach { i =>
      IncrementalDedup.upsertBatch(docs.filter(pmod(col("doc_id"), lit(4)) === i), root)
    }
    assert(corpusSet(root) == batchCorpus)
  }

  test("incremental dedup: replayed micro-batch is a no-op (restart idempotence)") {
    val root = Files.createTempDirectory("graft_inc_replay").toString
    val docs = Tables.documents(spark, sf)
    val chunk = (i: Int) => docs.filter(pmod(col("doc_id"), lit(3)) === i)
    IncrementalDedup.upsertBatch(chunk(0), root)
    IncrementalDedup.upsertBatch(chunk(1), root)
    IncrementalDedup.upsertBatch(chunk(1), root) // replay after "restart"
    IncrementalDedup.upsertBatch(chunk(2), root)
    IncrementalDedup.upsertBatch(chunk(2), root) // replay the tail too
    assert(corpusSet(root) == batchCorpus)
    // the docs store holds each doc exactly once despite the replays
    val n = spark.read.parquet(s"$root/docs").count()
    assert(n == docs.count(), s"docs store has $n rows for ${docs.count()} docs")
  }

  test("incremental dedup: random corpora + random splits stay parity with the batch pipeline") {
    // deterministic pseudo-random corpora: word salads over a small
    // vocab (dup-dense by pigeonhole) — parity must hold whatever the
    // LSH captures, because both paths share the capture
    for (seed <- Seq(7L, 23L, 91L)) {
      val docs = spark.range(60).select(col("id").as("doc_id"),
        expr(s"""concat_ws(' ', transform(sequence(0, 11),
                |  i -> concat('w', cast(pmod(xxhash64(if(id % 5 < 2, (id div 5) * 5, id) * $seed + i), 30) as string))))""".stripMargin)
          .as("text"))
      val expected = Dedup.dedupedCorpus(docs,
          Dedup.ngramJaccardViaLsh(docs, threshold = 0.5).select("id_a", "id_b"))
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val root = Files.createTempDirectory(s"graft_inc_prop_$seed").toString
      val nSplits = 1 + (seed % 3).toInt // 1-3 batches, seed-dependent
      (0 until nSplits).foreach { i =>
        IncrementalDedup.upsertBatch(
          docs.filter(pmod(col("doc_id") + seed, lit(nSplits)) === i), root,
          threshold = 0.5, blockCols = Seq.empty, buckets = 8)
      }
      val got = IncrementalDedup.corpus(spark, root, blockCols = Seq.empty)
        .collect().map(_.getLong(0)).toSet
      assert(got == expected, s"seed $seed: $got != $expected")
    }
  }

  test("incremental dedup at sf0.01: corpus set-equal to batch d22, not just row counts") {
    val d = "/root/testdata/sf0.01"
    val expected = Dedup.dedupPipeline(spark, d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val got = SparkEntry.queries("d23_incremental_dedup")(spark, d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(got == expected)
    assert(got.size == 315) // pinned: the known sf0.01 survivor count
  }

  test("incremental dedup: crash between bands and docs writes, then retry — still exact parity") {
    val root = Files.createTempDirectory("graft_inc_crash").toString
    val docs = Tables.documents(spark, sf)
    val chunk = (i: Int) => docs.filter(pmod(col("doc_id"), lit(3)) === i)
    IncrementalDedup.upsertBatch(chunk(0), root)
    // batch 2 dies AFTER its band rows land but BEFORE its docs land —
    // the worst ordering the contract allows
    IncrementalDedup.failAfterBands = true
    try intercept[RuntimeException] { IncrementalDedup.upsertBatch(chunk(1), root) }
    finally IncrementalDedup.failAfterBands = false
    // retry the batch, then finish the stream
    IncrementalDedup.upsertBatch(chunk(1), root)
    IncrementalDedup.upsertBatch(chunk(2), root)
    assert(corpusSet(root) == batchCorpus)
    val n = spark.read.parquet(s"$root/docs").count()
    assert(n == docs.count(), s"docs store has $n rows for ${docs.count()} docs")
  }

  test("incremental dedup: crash on the FIRST-ever batch, then retry — store not wedged, exact parity") {
    // the worst-case variant of the failpoint: bands/ lands but docs/
    // never exists. The retry must treat its own stale band rows as
    // having no historic counterpart (docs/ absent ⇒ no verified edge
    // is even possible) instead of throwing PATH_NOT_FOUND forever.
    val root = Files.createTempDirectory("graft_inc_crash1").toString
    val docs = Tables.documents(spark, sf)
    val chunk = (i: Int) => docs.filter(pmod(col("doc_id"), lit(2)) === i)
    IncrementalDedup.failAfterBands = true
    try intercept[RuntimeException] { IncrementalDedup.upsertBatch(chunk(0), root) }
    finally IncrementalDedup.failAfterBands = false
    assert(!new java.io.File(s"$root/docs").exists(), "precondition: docs/ absent after first-batch crash")
    // retry the crashed batch, then finish the stream
    IncrementalDedup.upsertBatch(chunk(0), root)
    IncrementalDedup.upsertBatch(chunk(1), root)
    assert(corpusSet(root) == batchCorpus)
    val n = spark.read.parquet(s"$root/docs").count()
    assert(n == docs.count(), s"docs store has $n rows for ${docs.count()} docs")
  }

  test("incremental dedup: a later doc connecting two historic clusters merges them via the log") {
    // E overlaps A and D at jaccard 92/108 ≈ 0.852 (≥ 0.8) while
    // j(A, D) = 84/116 ≈ 0.724 (< 0.8): batch 1 lands two separate
    // clusters; batch 2's E must MERGE them — keep-min corpus = {1}
    val e = (1 to 100).map(i => s"e$i")
    val aText = (e.take(92) ++ (1 to 8).map(i => s"a$i")).mkString(" ")
    val dText = (e.drop(8) ++ (1 to 8).map(i => s"d$i")).mkString(" ")
    val eText = e.mkString(" ")
    import spark.implicits._
    val batch1 = Seq((1L, aText, "en", "web"), (10L, dText, "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
    val batch2 = Seq((20L, eText, "en", "web")).toDF("doc_id", "text", "lang", "source")
    val all = batch1.union(batch2)
    // precondition: LSH (deterministic permutations) captures both
    // E-pairs and the exact gate rejects (A, D)
    val pairs = Dedup.ngramJaccardViaLsh(all, blockCols = Seq("lang", "source"))
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 20L), (10L, 20L)), s"unexpected pair capture: $pairs")

    val root = Files.createTempDirectory("graft_inc_merge").toString
    IncrementalDedup.upsertBatch(batch1, root)
    assert(corpusSet(root).map(_._1) == Set(1L, 10L))
    IncrementalDedup.upsertBatch(batch2, root)
    assert(corpusSet(root).map(_._1) == Set(1L))
    // the losing representative was recorded, not rewritten
    val merges = spark.read.parquet(s"$root/merges")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(merges == Set((10L, 1L)))
    // cluster view resolves every doc to the surviving label
    val cl = IncrementalDedup.clusters(spark, root)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cl == Map(1L -> 1L, 10L -> 1L, 20L -> 1L))
  }

  test("band index as a bucketed table: the historic side of the band join plans with no exchange") {
    // the documented evolution path for the incremental-dedup index
    // (IncrementalDedup scale notes): store the band rows bucketed on
    // band_hash and the per-cycle join stops shuffling the historic
    // side — only the (small) batch side moves. Same schema, same join
    // keys as upsertBatch's index join.
    spark.sql("DROP TABLE IF EXISTS band_idx_b")
    val docs = Tables.documents(spark, sf)
    // the REAL band rows — same shared builders upsertBatch uses
    val banded = Dedup.lshBands(
      Dedup.lshTokens(docs, Seq("lang", "source")), Seq("lang", "source"))
    banded.write.bucketBy(8, "band", "band_hash", "lang", "source")
      .sortBy("band", "band_hash", "lang", "source")
      .format("parquet").saveAsTable("band_idx_b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val hist = spark.table("band_idx_b")
      val batch = banded.limit(100) // stand-in for an incoming micro-batch
        .withColumnRenamed("doc_id", "id_a")
      val j = batch.join(hist.withColumnRenamed("doc_id", "id_b"),
        Seq("band", "band_hash", "lang", "source"))
      val plan = j.queryExecution.executedPlan.toString
      // ONE exchange (the batch side aligning to the bucket layout);
      // the bucketed historic scan must not shuffle
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges <= 1, s"historic side still shuffles ($exchanges exchanges):\n$plan")
      assert(j.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS band_idx_b")
    }
  }

  test("connectedComponentsAuto: driver and distributed paths agree with the eager loop") {
    import spark.implicits._
    // chain 1-2-3, pair 10-11, singleton edge 20-21, cross-chain 3-20
    val pairs = Seq((2L, 1L), (2L, 3L), (10L, 11L), (20L, 21L), (3L, 20L))
      .toDF("id_a", "id_b")
    def labelSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    val eager = labelSet(Dedup.connectedComponents(pairs)
      .select("node", "cluster_id"))
    val driver = labelSet(Dedup.connectedComponentsAuto(pairs))
    val dist = labelSet(Dedup.connectedComponentsAuto(pairs, maxDriverEdges = 0L))
    assert(driver == eager, s"driver path $driver != eager $eager")
    assert(dist == eager, s"distributed path $dist != eager $eager")
    assert(eager.exists(_ == (21L -> 1L)), "cross-chain merge missing")
  }

  test("connectedComponentsAuto: non-long id types route to the distributed loop and label correctly") {
    import spark.implicits._
    val pairs = Seq((2, 1), (2, 3), (10, 11)).toDF("id_a", "id_b") // IntegerType ids
    val got = Dedup.connectedComponentsAuto(pairs)
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toSet
    assert(got == Set(1 -> 1, 2 -> 1, 3 -> 1, 10 -> 10, 11 -> 10))
  }

  test("LSH banding is word-ORDER invariant (k=1 shingles): reordered near-dups share all bands") {
    import spark.implicits._
    // the d19/d22/d23 recall argument rests on this: the signature
    // minhashes the word SET, so a fully reordered duplicate collides
    // in every band (3-shingle signatures would see it as dissimilar)
    val words = (1 to 50).map(i => s"o$i")
    val docs = Seq((1L, words.mkString(" ")), (2L, words.reverse.mkString(" ")))
      .toDF("doc_id", "text")
    val bands = Dedup.lshBands(Dedup.lshTokens(docs, Seq.empty), Seq.empty)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    val byDoc = bands.groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSet).toMap
    assert(byDoc(1L) == byDoc(2L), "reordered duplicate landed in different band buckets")
  }

  test("surrogateIds with a reliable checkpoint dir: same ids, checkpoint files on disk") {
    import graft.operators.Silver
    val dim = Tables.part(spark, sf)
      .select(col("p_brand"), col("p_type")).distinct()
    val expected = dim.withColumn("sid",
      dense_rank().over(org.apache.spark.sql.expressions.Window
        .orderBy("p_brand", "p_type")).cast("long"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val ckpt = Files.createTempDirectory("graft_sid_ckpt").toString
    val got = withCheckpointDir(Some(ckpt)) {
      Silver.surrogateIds(dim, Seq("p_brand", "p_type"), "sid", partitions = 8)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    }
    assert(got == expected)
    // the pinned layout really landed on reliable storage
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt))
      .filter(java.nio.file.Files.isRegularFile(_)).count()
    assert(files > 0, "no checkpoint files written")
  }

  test("multimodal decoder seam: an alternate codec rides the same pipeline unchanged") {
    import graft.multimodal.Multimodal
    import spark.implicits._
    // a fake "real" codec: features that depend on payload content in a
    // different way than the stub — proves the seam carries the codec,
    // not that one decode is hardwired into the plumbing
    object XorDecoder extends Multimodal.MediaDecoder {
      def decode(r: Multimodal.MediaRow): Multimodal.MediaFeatures = {
        var x = 0L
        r.payload.foreach(b => x ^= (b & 0xffL))
        Multimodal.MediaFeatures(r.doc_id, r.media_type,
          r.payload.length.toLong, r.width, r.height, Array.fill(16)(x), x, "xor")
      }
    }
    val media = Multimodal.asMediaTable(spark, sf).as[Multimodal.MediaRow]
    val viaSeam = Multimodal.decodeWith(media, XorDecoder).collect()
    assert(viaSeam.nonEmpty)
    viaSeam.foreach { f =>
      assert(f.histogram.toSet == Set(f.checksum)) // the codec's own shape
    }
    // and the registered stub path is exactly the seam + stub codec
    val stub = Multimodal.decodeStub(media).collect().map(f => f.doc_id -> f.checksum).toMap
    val direct = Multimodal.decodeWith(media, Multimodal.ByteHistogramDecoder)
      .collect().map(f => f.doc_id -> f.checksum).toMap
    assert(stub == direct)
  }

  test("IVF incremental append: probes equal a one-shot index with the same centroids; only touched buckets change") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val initial = emb.filter(col("vec_id") >= 100)
    val added = emb.filter(col("vec_id") >= 10 && col("vec_id") < 100)
    val queries = emb.filter(col("vec_id") < 10)

    val incPath = Files.createTempDirectory("graft_ivf_inc").toString + "/idx"
    val cents = Similarity.buildIvfIndex(initial, k = 16, iters = 2, incPath)

    // bucket dirs not hit by the append must keep their exact file set
    def filesPerBucket(p: String): Map[String, Set[String]] =
      new java.io.File(p).listFiles().filter(_.getName.startsWith("bucket="))
        .map(d => d.getName -> d.listFiles().map(_.getName).toSet).toMap
    val before = filesPerBucket(incPath)
    Similarity.appendToIvfIndex(added, cents, incPath)
    val after = filesPerBucket(incPath)
    val touched = Similarity.assign(added, cents).select("bucket")
      .distinct().collect().map(r => s"bucket=${r.getInt(0)}").toSet
    before.foreach { case (b, fs) =>
      if (!touched.contains(b))
        assert(after(b) == fs, s"untouched $b changed")
    }
    assert(touched.forall(b => after.getOrElse(b, Set.empty).size >
      before.getOrElse(b, Set.empty).size), "a touched bucket gained no file")

    // one-shot oracle: the SAME centroids over the full corpus
    val fullPath = Files.createTempDirectory("graft_ivf_full").toString + "/idx"
    Similarity.appendToIvfIndex(initial.union(added), cents, fullPath)
    def probeSet(p: String) = Similarity.probeIvfIndex(spark, p, cents, queries)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(probeSet(incPath) == probeSet(fullPath))
    assert(probeSet(incPath).nonEmpty)

    // replay guard: an at-least-once re-delivery of the same batch must
    // not duplicate vectors (the index is the authority)
    val rowsBefore = spark.read.parquet(incPath).count()
    Similarity.appendToIvfIndex(added, cents, incPath)
    assert(spark.read.parquet(incPath).count() == rowsBefore, "replayed append duplicated vectors")
    assert(probeSet(incPath) == probeSet(fullPath))
  }

  test("parseOrderPayloads: duplicate and null legIds degrade per-payload, never crash the batch") {
    import spark.implicits._
    import graft.operators.Chains
    val payloads = Seq(
      // dup legId 1 (first occurrence must win), a null legId (skipped),
      // and an execution leg with no matching order leg (dropped)
      """{"orderId":1,"orderLegCollection":[
        |{"legId":1,"instruction":"BUY","symbol":"A"},
        |{"legId":1,"instruction":"SELL","symbol":"B"},
        |{"legId":null,"instruction":"BUY","symbol":"C"},
        |{"legId":2,"instruction":"SELL","symbol":"D"}],
        |"orderActivityCollection":[{"activityId":1,"executionLegs":[
        |{"legId":1,"quantity":5.0,"price":10.0},
        |{"legId":2,"quantity":1.0,"price":2.0},
        |{"legId":3,"quantity":9.0,"price":9.0}]}]}""".stripMargin.replace("\n", "")
    ).toDF("payload")
    val (flat, quarantined) = Chains.parseOrderPayloads(payloads)
    assert(quarantined.count() == 0)
    val rows = flat.orderBy("leg_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(3), r.getString(4), r.getDouble(7)))
    assert(rows.toSeq == Seq(
      (1L, 1, "BUY", "A", -10.0),  // first occurrence of dup legId wins
      (1L, 2, "SELL", "D", 2.0)))  // legId 3 exec dropped, null leg skipped
  }

  test("ivfAppendStream: streamed appends probe identically to the batch append") {
    import graft.operators.Similarity
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val initial = emb.filter(col("vec_id") >= 100)
    val queries = emb.filter(col("vec_id") < 10)
    val path = Files.createTempDirectory("graft_ivf_str").toString + "/idx"
    val cents = Similarity.buildIvfIndex(initial, k = 16, iters = 2, path)

    val rows = emb.filter(col("vec_id") >= 10 && col("vec_id") < 100)
      .as[(Long, Array[Float])].collect()
    val input = MemoryStream[(Long, Array[Float])]
    val q = EventStream.ivfAppendStream(
      input.toDF().toDF("vec_id", "embedding"), cents, path,
      Files.createTempDirectory("graft_ivf_str_ck").toString)
    input.addData(rows.take(rows.length / 2))
    q.processAllAvailable()
    input.addData(rows.drop(rows.length / 2))
    q.processAllAvailable()
    q.stop()

    val batchPath = Files.createTempDirectory("graft_ivf_bat").toString + "/idx"
    Similarity.appendToIvfIndex(emb.filter(col("vec_id") >= 10), cents, batchPath)
    def probeSet(p: String) = Similarity.probeIvfIndex(spark, p, cents, queries)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(probeSet(path) == probeSet(batchPath))
    assert(probeSet(path).nonEmpty)
  }

  test("funnel candidate prune: below-cutoff candidates die, the witness survives") {
    import EventStream.FunnelProcessor.prune
    // everything above the cutoff and ≤ threshold is retained
    assert(prune(List(5L, 9L, 10L, 15L), 10L, Long.MinValue).sorted.toSeq == Seq(5L, 9L, 10L))
    // below-cutoff non-witness candidates are evicted (state shrink)
    assert(prune(List(5L, 9L, 10L, 15L), 10L, 8L).sorted.toSeq == Seq(9L, 10L))
    // the achieved threshold witness survives even below the cutoff
    assert(prune(List(5L, 10L, 15L), 10L, 12L).toSeq == Seq(10L))
    // no witness achieved (threshold = MAX): pure cutoff eviction
    assert(prune(List(5L, 9L), Long.MaxValue, 8L).toSeq == Seq(9L))
  }

  test("funnel maxClickLateness: an over-late click no longer refines; a live click still does") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.streaming.EventStream.Tick
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[Tick]
      val q = EventStream.funnelStream(input.toDS(),
          maxClickLateness = Some(java.time.Duration.ofMinutes(30))).toDF()
        .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Update)
        .format("memory").queryName("funnel_late_out").start()
      def lastRow(user: Long) = spark.table("funnel_late_out")
        .filter(col("user_id") === user).collect().lastOption
      // batch 1: an early view, then the user's frontier moves to 12:00
      input.addData(Seq(
        Tick(1L, ts("2024-01-10 10:00:00"), 7L, "view", 1.0),
        Tick(2L, ts("2024-01-10 12:00:00"), 7L, "view", 1.0)))
      q.processAllAvailable()
      // batch 2: click at 08:00 — 4h behind the 12:00 frontier, beyond
      // the 30-minute lateness bound: declared dead, must NOT refine
      input.addData(Seq(Tick(3L, ts("2024-01-10 08:00:00"), 7L, "click", 1.0)))
      q.processAllAvailable()
      assert(lastRow(7L).get.isNullAt(1), "over-late click refined tc")
      // batch 3: a click EXACTLY maxClickLateness behind the frontier
      // is in-contract ("MORE than the lateness behind" is dead) — it
      // refines, and qualifies the RETAINED 12:00 view (not the pruned
      // 10:00 one, which only a dead click could have re-qualified)
      input.addData(Seq(Tick(4L, ts("2024-01-10 11:30:00"), 7L, "click", 1.0)))
      q.processAllAvailable()
      val r = lastRow(7L).get
      assert(r.getTimestamp(1) == ts("2024-01-10 11:30:00"))
      assert(r.getTimestamp(2) == ts("2024-01-10 12:00:00"))
      q.stop()
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("incremental dedup: null block-column docs never pair and survive, both paths") {
    import spark.implicits._
    // SQL join semantics: a null block key matches nothing, itself
    // included — so a null-lang doc can never be paired and is always
    // kept. Both paths must agree (the batch path's band join and the
    // incremental index join share the same key columns).
    val base = (1 to 40).map(i => s"t$i").mkString(" ")
    val docs = Seq(
      (1L, base, "en", "web"),
      (2L, base, "en", "web"),          // exact dup of 1 in-block → dropped
      (3L, base, null.asInstanceOf[String], "web"), // null lang: kept
      (4L, base, "en", null.asInstanceOf[String])   // null source: kept
    ).toDF("doc_id", "text", "lang", "source")
    val expected = Dedup.dedupedCorpus(docs,
        Dedup.ngramJaccardViaLsh(docs, blockCols = Seq("lang", "source"))
          .select("id_a", "id_b"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(expected == Set(1L, 3L, 4L))
    val root = Files.createTempDirectory("graft_inc_nullblock").toString
    IncrementalDedup.upsertBatch(docs.filter(col("doc_id") <= 2), root, buckets = 8)
    IncrementalDedup.upsertBatch(docs.filter(col("doc_id") > 2), root, buckets = 8)
    val got = IncrementalDedup.corpus(spark, root)
      .collect().map(_.getLong(0)).toSet
    assert(got == expected)
  }

  test("incremental dedup: chained merges across batches resolve multi-hop (30->20->10)") {
    // sliding 90-word windows over one word line: offset 8 ⇒ jaccard
    // 82/98 ≈ 0.837 (links), offset 16 ⇒ 74/106 ≈ 0.698 (no link)
    // "wc" prefix chosen so the FIXED permutations capture all four
    // link pairs (0.837 jaccard has ~93% capture per pair; a miss is
    // deterministic for a given vocabulary, so re-rolling the word
    // names until the precondition holds is sound, not flaky)
    def win(start: Int) = (start until start + 90).map(i => s"wc$i").mkString(" ")
    import spark.implicits._
    val b1 = Seq((10L, win(1), "en", "web"), (20L, win(17), "en", "web"),
      (30L, win(33), "en", "web")).toDF("doc_id", "text", "lang", "source")
    val c40 = Seq((40L, win(25), "en", "web")).toDF("doc_id", "text", "lang", "source") // links 20-30
    val c50 = Seq((50L, win(9), "en", "web")).toDF("doc_id", "text", "lang", "source") // links 10-20
    // precondition: the fixed permutations capture exactly the link pairs
    val pairs = Dedup.ngramJaccardViaLsh(b1.union(c40).union(c50),
        blockCols = Seq("lang", "source"))
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((10L, 50L), (20L, 50L), (20L, 40L), (30L, 40L)),
      s"unexpected capture: $pairs")

    val root = Files.createTempDirectory("graft_inc_chain").toString
    IncrementalDedup.upsertBatch(b1, root)
    assert(corpusSet(root).map(_._1) == Set(10L, 20L, 30L))
    IncrementalDedup.upsertBatch(c40, root) // merges 30 into 20
    assert(corpusSet(root).map(_._1) == Set(10L, 20L))
    IncrementalDedup.upsertBatch(c50, root) // merges 20 into 10 → chain
    assert(corpusSet(root).map(_._1) == Set(10L))
    val merges = spark.read.parquet(s"$root/merges")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(merges == Set((30L, 20L), (20L, 10L)), s"log: $merges")
    // 30 must resolve through the CHAIN 30→20→10, not stop at dead 20
    val cl = IncrementalDedup.clusters(spark, root)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cl == Map(10L -> 10L, 20L -> 10L, 30L -> 10L, 40L -> 10L, 50L -> 10L))
  }

  test("nearDupInsertStream: micro-batches + query restart land the batch corpus") {
    val root = Files.createTempDirectory("graft_inc_stream").toString
    val ckpt = Files.createTempDirectory("graft_inc_ckpt").toString
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val rows = Tables.documents(spark, sf)
      .select("doc_id", "text", "lang", "source")
      .as[(Long, String, String, String)].collect()
    val (first, second) = rows.partition(_._1 % 2 == 0)

    val in1 = MemoryStream[(Long, String, String, String)]
    val q1 = EventStream.nearDupInsertStream(
      in1.toDF().toDF("doc_id", "text", "lang", "source"), root, ckpt)
    in1.addData(first.take(first.length / 2))
    q1.processAllAvailable()
    in1.addData(first.drop(first.length / 2))
    q1.processAllAvailable()
    q1.stop()

    // "restart": a NEW query against the same store re-delivers part of
    // the first half (at-least-once) plus the rest of the corpus
    val in2 = MemoryStream[(Long, String, String, String)]
    val q2 = EventStream.nearDupInsertStream(
      in2.toDF().toDF("doc_id", "text", "lang", "source"), root,
      Files.createTempDirectory("graft_inc_ckpt2").toString)
    in2.addData(first.take(100) ++ second)
    q2.processAllAvailable()
    q2.stop()

    assert(corpusSet(root) == batchCorpus)
  }
}
