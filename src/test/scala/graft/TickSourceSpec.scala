package graft

import org.apache.spark.sql.functions._

class TickSourceSpec extends SparkSpec {

  private def ticks(rows: Long, parts: Int) =
    spark.read.format("graft-ticks")
      .option("rows", rows.toString).option("partitions", parts.toString).load()

  test("DSv2 tick source generates exactly N rows across P partitions") {
    val df = ticks(10000, 8)
    assert(df.count() == 10000)
    assert(df.rdd.getNumPartitions == 8)
    assert(df.select("event_id").distinct().count() == 10000)
  }

  test("deterministic: same seed → identical data; partition-count-invariant") {
    val a = ticks(5000, 4)
    val b = ticks(5000, 16)
    assert(a.exceptAll(b).count() == 0)
    assert(b.exceptAll(a).count() == 0)
  }

  test("event_id range predicates push into the source: generation is narrowed, results exact") {
    val df = ticks(100000, 8)
    val sliced = df.filter(col("event_id") >= 1000 && col("event_id") < 2000)
    // the scan itself reports the narrowed range (generation, not
    // post-filter, does the pruning)
    val plan = sliced.queryExecution.executedPlan.toString
    assert(plan.contains("range=[1000,2000)"), s"range not pushed:\n$plan")
    assert(sliced.count() == 1000)
    // pushed results identical to unpushed semantics
    val want = df.collect().filter(r => r.getLong(0) >= 1000 && r.getLong(0) < 2000)
    assert(sliced.collect().toSet == want.toSet)
    // point lookup narrows to a single row's range
    val pt = df.filter(col("event_id") === 42)
    assert(pt.queryExecution.executedPlan.toString.contains("range=[42,43)"))
    assert(pt.count() == 1)
    // contradictory bounds → empty range, zero partitions planned, no crash
    assert(df.filter(col("event_id") > 500 && col("event_id") < 100).count() == 0)
    // non-range predicates stay residual and still evaluate correctly
    val res = df.filter(col("event_id") < 1000 && col("event_type") === "click")
    assert(res.collect().forall(r => r.getString(3) == "click"))
  }

  test("Long.MaxValue boundary filters don't overflow the range math") {
    val df = ticks(1000, 4)
    // > MaxValue matches nothing (ids live in [0, rows)); the unguarded
    // +1 used to overflow lo negative → clamp to 0 → ALL rows returned
    assert(df.filter(col("event_id") > Long.MaxValue).count() == 0)
    // = MaxValue likewise empty (hi+1 used to overflow to MinValue)
    assert(df.filter(col("event_id") === Long.MaxValue).count() == 0)
    // <= MaxValue matches everything (hi+1 used to overflow → 0 rows)
    assert(df.filter(col("event_id") <= Long.MaxValue).count() == 1000)
    // >= MaxValue needs no +1 but must still be exactly empty
    assert(df.filter(col("event_id") >= Long.MaxValue).count() == 0)
  }

  test("column pruning reaches the source: reader fills only projected fields") {
    val df = ticks(10000, 4).select("user_id", "value")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("cols=[user_id,value]"), s"columns not pruned:\n$plan")
    assert(df.count() == 10000)
    // pruned values match the full-schema read
    val full = ticks(10000, 4).select("user_id", "value")
    assert(df.exceptAll(full).count() == 0)
  }

  test("source composes with graft operators (bars over generated ticks)") {
    val df = ticks(20000, 8).withColumn("props", lit("{}"))
    df.createOrReplaceTempView("gen_ticks")
    // hourly bars per user over the generated stream
    val bars = df.groupBy(col("user_id"), date_trunc("hour", col("ts")).as("bar"))
      .agg(count(lit(1)).as("n"), max("value").as("high_v"), min("value").as("low_v"))
    assert(bars.count() > 0)
    assert(bars.filter(col("low_v") > col("high_v")).count() == 0)
  }

  // ---- micro-batch streaming read -----------------------------------

  test("readStream replay: micro-batched rows equal the batch scan, in multiple batches") {
    val q = spark.readStream.format("graft-ticks")
      .option("rows", "5000").option("rowsperbatch", "1024").load()
      .writeStream.outputMode("append")
      .format("memory").queryName("tick_stream").start()
    q.processAllAvailable()
    val batches = q.recentProgress.count(_.numInputRows > 0)
    q.stop()
    assert(batches >= 5, s"expected >=5 non-empty micro-batches, saw $batches")
    val streamed = spark.table("tick_stream")
    assert(streamed.count() == 5000)
    assert(streamed.exceptAll(ticks(5000, 4)).count() == 0 &&
      ticks(5000, 4).exceptAll(streamed).count() == 0,
      "streamed content != batch scan content")
  }

  test("readStream composes with the CEP processor: source-driven matches equal batch q57") {
    val k = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(k)
    spark.conf.set(k,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      import spark.implicits._
      // the generated stream is in (ts, event_id) order already, so a
      // small lateness settles everything each trigger; matches flow
      // with NO flush sentinel — the live-deployment shape
      val src = spark.readStream.format("graft-ticks")
        .option("rows", "20000").option("rowsperbatch", "4096").load()
        .as[graft.streaming.EventStream.Tick]
      val q = graft.streaming.EventStream.cepStream(src,
        java.time.Duration.ofSeconds(1)).toDF()
        .writeStream.outputMode("append")
        .format("memory").queryName("tick_cep").start()
      q.processAllAvailable()
      q.stop()
      val got = spark.table("tick_cep").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getInt(5)))
        .sortBy(m => (m._1, m._2)).toSeq
      val want = graft.operators.Cep.eventPatternOf(
        spark.read.format("graft-ticks").option("rows", "20000").load()).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getInt(5))).toSeq
      // each key's tail (inside ITS final lateness window) never
      // settles without a flush — batch matches closing in those
      // per-user tails are the only legal difference: streamed ⊆ batch,
      // at most one pending attempt per user missing
      assert(got.nonEmpty, "no matches flowed from the source")
      val missing = want.toSet -- got.toSet
      assert(got.toSet.subsetOf(want.toSet),
        s"streamed a match batch never produces: ${got.toSet -- want.toSet}")
      assert(missing.size <= 150,
        s"${missing.size} batch matches missing — more than one per user")
    } finally prev match {
      case Some(p) => spark.conf.set(k, p)
      case None => spark.conf.unset(k)
    }
  }

  test("CEP restart: automaton state + source offsets survive a query restart") {
    val k = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(k)
    spark.conf.set(k,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      import spark.implicits._
      val base = java.nio.file.Files.createTempDirectory("graft_cepmb").toString
      def run(rows: Int): Unit = {
        val src = spark.readStream.format("graft-ticks")
          .option("rows", rows.toString).option("rowsperbatch", "4096").load()
          .as[graft.streaming.EventStream.Tick]
        val q = graft.streaming.EventStream.cepStream(src,
          java.time.Duration.ofSeconds(1)).toDF()
          .writeStream.outputMode("append")
          .option("checkpointLocation", s"$base/ckpt")
          .format("parquet").option("path", s"$base/out").start()
        q.processAllAvailable()
        q.stop()
      }
      // first run sees half the stream; the restart extends the range —
      // matches STRADDLING the 10000 boundary exist iff the machine's
      // open attempts (CepCore.attempts) survived the restart
      run(10000)
      run(20000)
      val got = spark.read.parquet(s"$base/out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getInt(5))).toSeq
      val want = graft.operators.Cep.eventPatternOf(
        spark.read.format("graft-ticks").option("rows", "20000").load()).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getInt(5))).toSeq
      assert(got.toSet.subsetOf(want.toSet) && got.size == got.toSet.size,
        "restart duplicated or fabricated matches")
      val straddling = got.filter(m => m._2 < 10000 && m._3 >= 10000)
      assert(straddling.nonEmpty,
        "no boundary-straddling matches — automaton state did not survive the restart")
      assert((want.toSet -- got.toSet).size <= 150,
        "more than one missing match per key — lost state beyond the lateness tail")
    } finally prev match {
      case Some(p) => spark.conf.set(k, p)
      case None => spark.conf.unset(k)
    }
  }

  test("readStream replay: restart resumes from the checkpointed offset, no duplicates") {
    val base = java.nio.file.Files.createTempDirectory("graft_tickmb").toString
    val out = s"$base/out"
    val ckpt = s"$base/ckpt"
    def run(rows: Int): Unit = {
      val q = spark.readStream.format("graft-ticks")
        .option("rows", rows.toString).option("rowsperbatch", "1000").load()
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", out).start()
      q.processAllAvailable()
      q.stop()
    }
    run(5000)
    assert(spark.read.parquet(out).count() == 5000)
    run(5000) // same range again: cursor is at hi — nothing may land
    assert(spark.read.parquet(out).count() == 5000,
      "restart over a drained range duplicated rows")
    run(8000) // extended range: resumes AT 5000, emits exactly the tail
    val ids = spark.read.parquet(out).select("event_id").collect().map(_.getLong(0))
    assert(ids.length == 8000 && ids.toSet == (0L until 8000L).toSet,
      s"restart tail wrong: ${ids.length} rows, ${ids.toSet.size} distinct")
  }
}
