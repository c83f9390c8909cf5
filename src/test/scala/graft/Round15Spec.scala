package graft

/** Round-15 fixes: DirMemo reentrancy (build forced OUTSIDE the
  * ConcurrentHashMap bin lock), concurrent build-once. */
class Round15Spec extends SparkSpec {

  test("DirMemo: a build may itself call DirMemo.cached (reentrant), any key") {
    val dir = java.nio.file.Files.createTempDirectory("graft_memo_re").toFile
    java.nio.file.Files.write(new java.io.File(dir, "t.bin").toPath, "v".getBytes)
    // nested cached calls from inside a build used to run INSIDE
    // ConcurrentHashMap.compute — a same-bin nested compute throws
    // IllegalStateException("Recursive update"). Exercise many tags so
    // same-bin collisions actually occur.
    (0 until 64).foreach { i =>
      val v = graft.ops.DirMemo.cached(spark, dir.getPath, s"outer$i") {
        val inner = graft.ops.DirMemo.cached(spark, dir.getPath, s"inner$i") { s"in$i" }
        s"out$i:" + inner
      }
      assert(v == s"out$i:in$i")
    }
  }

  test("d2_sigs: signatures are exactly the longs the d2 LSH pipeline bands") {
    import org.apache.spark.sql.functions._
    // the registered signature entry must agree with what minhashLsh
    // actually computes (same expression, same params) — pin the wiring
    // so the oracle keeps gating the real d2 arithmetic
    val sigs = graft.operators.Dedup.minhashSigs(spark, sf)
    assert(sigs.columns.toSeq == Seq("doc_id", "perm", "sig_val"))
    val perDoc = sigs.groupBy("doc_id").count().select("count").distinct().collect()
    assert(perDoc.map(_.getLong(0)).toSeq == Seq(16L), "16 perms per doc")
    // rebuild one doc's signature through the expression directly
    val one = Tables.documents(spark, sf)
      .select(col("doc_id"),
        split(regexp_replace(lower(col("text")), "\\s+", " "), " ").as("ws"))
      .filter(size(col("ws")) >= 3)
      .withColumn("sig",
        graft.functions.VectorExprs.minhashShingleSig(col("ws"), 3, 16))
      .select(col("doc_id"), posexplode(col("sig")).as(Seq("perm", "sig_val")))
    assert(sigs.exceptAll(one).count() == 0 && one.exceptAll(sigs).count() == 0)
  }

  test("q65 SKIP TO NEXT ROW: overlapping matches, per-attempt kill semantics") {
    import spark.implicits._
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    // user 1: view@0 click view@2 click purchase@4
    //   -> TWO overlapping matches sharing the purchase: (v0, n_mid=3), (v2, n_mid=1)
    // user 2: view@0 error view@2 purchase@3
    //   -> 'other' kills ALL open attempts; only (v2, n_mid=0) matches
    // user 3: view@0 view@1 purchase@2
    //   -> interior view is mid for v0 AND opens its own: (v0,1), (v1,0)
    // user 4: view@0 click purchase@5000 (span expired) -> no match
    // user 5: click purchase@1 -> no attempt, no match
    val rows = Seq(
      (1L, 0L, "view"), (1L, 1L, "click"), (1L, 2L, "view"), (1L, 3L, "click"),
      (1L, 4L, "purchase"),
      (2L, 0L, "view"), (2L, 1L, "error"), (2L, 2L, "view"), (2L, 3L, "purchase"),
      (3L, 0L, "view"), (3L, 1L, "view"), (3L, 2L, "purchase"),
      (4L, 0L, "view"), (4L, 1L, "click"), (4L, 5000L, "purchase"),
      (5L, 0L, "click"), (5L, 1L, "purchase"))
      .zipWithIndex.map { case ((u, m, t), i) => (u, ts(m), i.toLong, t) }
      .toDF("user_id", "ts", "event_id", "event_type")
    val got = graft.operators.Cep.eventPatternOf(rows,
        midTypes = Seq("click", "view"), skipToNextRow = true)
      .select("user_id", "start_ts", "end_ts", "n_mid")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime / 60000L,
        r.getTimestamp(2).getTime / 60000L, r.getInt(3))).toSeq
    assert(got == Seq(
      (1L, 0L, 4L, 3), (1L, 2L, 4L, 1),
      (2L, 2L, 3L, 0),
      (3L, 0L, 2L, 1), (3L, 1L, 2L, 0)), s"got $got")

    // degenerate pin: with DISJOINT sets skip-to-next has one open
    // attempt and must equal SKIP PAST LAST ROW exactly (real corpus)
    val ev = Tables.events(spark, sf)
    val pastLast = graft.operators.Cep.eventPatternOf(ev)
    val skipNext = graft.operators.Cep.eventPatternOf(ev, skipToNextRow = true)
    assert(pastLast.exceptAll(skipNext).count() == 0 &&
      skipNext.exceptAll(pastLast).count() == 0)

    // overlap sets without skip-to-next must be rejected loudly
    intercept[IllegalArgumentException] {
      graft.operators.Cep.eventPatternOf(ev, midTypes = Seq("click", "view"))
    }
  }

  test("cepSkipToNextStream: arbitrary arrival order + flush == batch q65 matches") {
    val k = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(k)
    spark.conf.set(k,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import spark.implicits._
      implicit val sc = spark.sqlContext
      val ticks = Tables.events(spark, sf)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .as[graft.streaming.EventStream.Tick].collect().toSeq
        // deterministic shuffle: settle order must come from the
        // processor's (ts, event_id) sort, not arrival order
        .sortBy(t => graft.sources.TickSource.mix(11L, t.event_id))
      val flush = ticks.map(_.user_id).distinct.map(u =>
        graft.streaming.EventStream.Tick(-1L,
          new java.sql.Timestamp(4102444800000L), u, "flush", 0.0))
      val input = MemoryStream[graft.streaming.EventStream.Tick]
      val q = graft.streaming.EventStream.cepSkipToNextStream(
          input.toDS(), java.time.Duration.ofDays(3650)).toDF()
        .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .format("memory").queryName("cep_skip").start()
      Seq(ticks.take(ticks.size / 2), ticks.drop(ticks.size / 2), flush)
        .foreach { c => input.addData(c); q.processAllAvailable() }
      q.stop()
      val got = spark.table("cep_skip").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getInt(5)))
        .sortBy(m => (m._1, m._2)).toSeq
      val want = graft.operators.Cep.eventPatternSkipToNext(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getInt(5))).toSeq
      assert(want.nonEmpty, "batch q65 fixture produced no matches — fixture rot")
      // overlap must actually occur or the multi-attempt path is untested
      assert(want.map(m => (m._1, m._3)).distinct.size < want.size,
        "no overlapping matches in the fixture — q65 degenerated")
      assert(got == want, s"streamed != batch (got ${got.size}, want ${want.size})")
    } finally prev match {
      case Some(p) => spark.conf.set(k, p)
      case None => spark.conf.unset(k)
    }
  }

  test("DirMemo: concurrent first callers build exactly once") {
    val dir = java.nio.file.Files.createTempDirectory("graft_memo_cc").toFile
    java.nio.file.Files.write(new java.io.File(dir, "t.bin").toPath, "v".getBytes)
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futs = (0 until 8).map { _ =>
        pool.submit(new java.util.concurrent.Callable[String] {
          def call(): String =
            graft.ops.DirMemo.cached(spark, dir.getPath, "cc") {
              Thread.sleep(50); s"b${builds.incrementAndGet()}"
            }
        })
      }
      val got = futs.map(_.get()).toSet
      assert(got == Set("b1"), s"built ${builds.get()} times: $got")
    } finally pool.shutdown()
  }
}
