package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

/** Round-12 fifth-pass additions: q57 MATCH_RECOGNIZE-style CEP. */
class Round12eSpec extends SparkSpec {

  private def ts(min: Long): Timestamp = new Timestamp(min * 60000L)

  test("q57 CEP: planted fixture covers restart, expiry, abort, star-count and skip-past-last-row") {
    import spark.implicits._
    val spanUs = 60L * 60000000L // 60 minutes for the fixture
    // user 1: view C2 clicks purchase -> match (2 clicks); then a purchase
    //   with no fresh view (skip-past-last-row) -> no second match
    // user 2: view, clicks, VIEW (restart), click, purchase -> match from
    //   the SECOND view with 1 click
    // user 3: view, clicks, then purchase past the 60-min span -> nothing
    // user 4: view, error aborts, purchase -> nothing
    // user 5: lone clicks/purchase with no view -> nothing
    val rows = Seq(
      (1L, 10L, "view"), (2L, 11L, "click"), (3L, 12L, "click"), (4L, 13L, "purchase"),
      (5L, 14L, "purchase"),
      (10L, 10L, "view"), (11L, 20L, "click"), (12L, 30L, "view"), (13L, 40L, "click"),
      (14L, 50L, "purchase"),
      (20L, 0L, "view"), (21L, 30L, "click"), (22L, 70L, "purchase"),
      (30L, 0L, "view"), (31L, 5L, "error"), (32L, 10L, "purchase"),
      (40L, 0L, "click"), (41L, 5L, "purchase")
    ).map { case (eid, m, et) =>
      val uid = eid / 10
      (eid, ts(m), uid, et)
    }.toDF("event_id", "ts", "user_id", "event_type")
    val got = graft.operators.Cep.eventPatternOf(rows, spanUs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getInt(5))).toSeq
    assert(got == Seq((0L, 1L, 4L, 2), (1L, 12L, 14L, 1)),
      s"fixture matches diverged: $got")
  }

  test("q57 CEP: arrival order is irrelevant (sort is part of the operator)") {
    import spark.implicits._
    val base = Seq(
      (1L, ts(0), 1L, "view"), (2L, ts(1), 1L, "click"), (3L, ts(2), 1L, "purchase"))
    val shuffled = scala.util.Random.shuffle(base)
      .toDF("event_id", "ts", "user_id", "event_type")
    val got = graft.operators.Cep.eventPatternOf(shuffled, 60L * 60000000L).collect()
    assert(got.length == 1 && got.head.getInt(5) == 1)
  }

  test("q57 CEP: matches the driver-side reference automaton on real events") {
    val events = Tables.events(spark, sf)
      .select("user_id", "ts", "event_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime * 1000L, r.getLong(2), r.getString(3)))
    val span = graft.operators.Cep.SpanUs
    val want = events.groupBy(_._1).toSeq.flatMap { case (uid, evs) =>
      var started = false; var sTs = 0L; var sId = 0L; var nMid = 0
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Int)]
      evs.sortBy(e => (e._2, e._3)).foreach { case (_, t, id, et) =>
        val inSpan = started && t - sTs <= span
        if (inSpan && et == "purchase") { out += ((uid, sId, id, nMid)); started = false }
        else if (inSpan && et == "click") nMid += 1
        else if (et == "view") { started = true; sTs = t; sId = id; nMid = 0 }
        else started = false
      }
      out
    }.sortBy(m => (m._1, m._2))
    val got = graft.operators.Cep.eventPattern(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getInt(5))).toSeq
    assert(got.nonEmpty, "no matches on real events — fixture power too low")
    assert(got == want, s"engine vs reference automaton: ${got.length} vs ${want.length} matches")
  }

  // ---- q58 / q59 ----------------------------------------------------

  test("q58 cohort retention: planted cohorts produce the expected matrix") {
    import spark.implicits._
    // 2024-01-01 is a Monday: week0 = Jan 1-7, week1 = Jan 8-14, week2 = Jan 15-21
    def t(d: Int) = java.sql.Timestamp.valueOf(f"2024-01-$d%02d 12:00:00")
    // u1, u2 join week0; u1 active weeks 0,1,2; u2 only week 0.
    // u3 joins week1, active weeks 1,2.
    val ev = Seq(
      (1L, t(5), 1L), (2L, t(6), 2L), (3L, t(8), 1L), (4L, t(16), 1L),
      (5L, t(9), 3L), (6L, t(17), 3L), (7L, t(3), 2L)
    ).map { case (eid, ts, uid) => (eid, ts, uid, "view", 0.0) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = graft.operators.TimeSeries.cohortRetentionOf(ev).collect()
      .map(r => (r.getDate(0).toString, r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq(
      ("2024-01-01", 0, 2L, 2L), ("2024-01-01", 1, 1L, 2L), ("2024-01-01", 2, 1L, 2L),
      ("2024-01-08", 0, 1L, 1L), ("2024-01-08", 1, 1L, 1L)),
      s"retention matrix diverged: $got")
  }

  test("q58 cohort retention: offset-0 row is the whole cohort, retention bounded") {
    val rows = graft.operators.TimeSeries.cohortRetention(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getInt(1) >= 0 && r.getDouble(4) <= 1.0 + 1e-12)
      if (r.getInt(1) == 0)
        assert(r.getLong(2) == r.getLong(3), s"offset-0 active != cohort size: $r")
    }
  }

  test("q59 attribution: latest prior wins, stale and missing priors emit NULL") {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      // u1: view, click, purchase -> attributed to the CLICK (latest)
      (1L, t("2024-01-01 10:00:00"), 1L, "view"),
      (2L, t("2024-01-01 11:00:00"), 1L, "click"),
      (3L, t("2024-01-01 12:00:00"), 1L, "purchase"),
      // u2: view then purchase 3 days later -> stale, NULL attribution
      (10L, t("2024-01-01 00:00:00"), 2L, "view"),
      (11L, t("2024-01-04 00:00:00"), 2L, "purchase"),
      // u3: purchase with no prior at all -> NULL
      (20L, t("2024-01-02 00:00:00"), 3L, "purchase"),
      // u4: prior is another PURCHASE only -> NULL (non-purchase touch required)
      (30L, t("2024-01-02 00:00:00"), 4L, "purchase"),
      (31L, t("2024-01-02 01:00:00"), 4L, "purchase")
    ).map { case (eid, ts, uid, et) => (eid, ts, uid, et, 0.0) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = graft.operators.TimeSeries.lastTouchAttributionOf(ev).collect()
      .map(r => (r.getLong(0), Option(r.get(3)).map(_.asInstanceOf[Long]),
        Option(r.get(4)).map(_.toString), Option(r.get(5)).map(_.asInstanceOf[Long]))).toSeq
    assert(got == Seq(
      (3L, Some(2L), Some("click"), Some(3600000000L)),
      (11L, None, None, None),
      (20L, None, None, None),
      (30L, None, None, None),
      (31L, None, None, None)),
      s"attribution rows diverged: $got")
  }

  test("q60 event paths: session boundaries split paths, counts and tie-break order hold") {
    val rows = graft.operators.TimeSeries.eventPaths(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(rows.nonEmpty && rows.length <= 50)
    // deterministic ordering: count desc, then path asc
    val resorted = rows.sortBy { case (p, n) => (-n, p) }.toSeq
    assert(rows.toSeq == resorted, "top-50 ordering is not (count desc, path)")
    // every path is a '>' chain of known event types
    val types = Set("view", "click", "purchase", "signup", "error")
    assert(rows.forall(_._1.split('>').forall(types.contains)), "malformed path atom")
  }

  test("q61 error bursts: maximal runs only, sub-threshold and split runs excluded") {
    import spark.implicits._
    def t(m: Long) = new java.sql.Timestamp(m * 60000L)
    val ev = Seq(
      // u1: e e e e -> one burst of 4
      (1L, t(0), 1L, "error"), (2L, t(1), 1L, "error"),
      (3L, t(2), 1L, "error"), (4L, t(3), 1L, "error"),
      // u1 later: e e (split by a view from the run above) -> no burst
      (5L, t(4), 1L, "view"), (6L, t(5), 1L, "error"), (7L, t(6), 1L, "error"),
      // u2: e e e split across nothing -> one burst of 3
      (10L, t(0), 2L, "error"), (11L, t(1), 2L, "error"), (12L, t(2), 2L, "error")
    ).map { case (eid, ts, uid, et) => (eid, ts, uid, et, 0.0) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = graft.operators.TimeSeries.errorBurstsOf(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(5))).toSeq
    assert(got == Seq((1L, 1L, 4L, 4L), (2L, 10L, 12L, 3L)), s"bursts diverged: $got")
    // and the registered entry runs green on real data with sane shapes
    val real = graft.operators.TimeSeries.errorBursts(spark, sf).collect()
    assert(real.nonEmpty && real.forall(_.getLong(5) >= 3))
  }

  test("q62 SCD2: intervals chain half-open, last version open and current") {
    import spark.implicits._
    def t(m: Long) = new java.sql.Timestamp(m * 60000L)
    val ev = Seq(
      (1L, t(0), 1L, "view", 10.0), (2L, t(5), 1L, "view", 20.0),
      (3L, t(9), 1L, "view", 30.0),
      (10L, t(2), 2L, "view", 7.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = graft.operators.TimeSeries.scd2BuildOf(ev).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2),
        r.getTimestamp(3), Option(r.getTimestamp(4)), r.getBoolean(5))).toSeq
    assert(got == Seq(
      (1L, 1, 10.0, t(0), Some(t(5)), false),
      (1L, 2, 20.0, t(5), Some(t(9)), false),
      (1L, 3, 30.0, t(9), None, true),
      (2L, 1, 7.0, t(2), None, true)),
      s"SCD2 intervals diverged: $got")
    // invariant on real data: per key, valid_to(v) == valid_from(v+1),
    // exactly one open current version
    val real = graft.operators.TimeSeries.scd2Build(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getTimestamp(3), Option(r.getTimestamp(4))))
      .groupBy(_._1)
    real.foreach { case (uid, vs) =>
      val sorted = vs.sortBy(_._2)
      assert(sorted.init.forall(_._4.isDefined) && sorted.last._4.isEmpty,
        s"user $uid: open/closed versions malformed")
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._4.contains(b._3), s"user $uid: interval gap at v${a._2}")
        case _ =>
      }
    }
  }

  test("q62 SCD2 + as-of join: point-in-time lookup equals interval containment") {
    // dimension history from the change stream, probed at arbitrary
    // times through the custom AsOf plan — the temporal-join use an
    // SCD2 table exists for. Truth: the version whose half-open
    // interval contains the probe time.
    val dim = graft.operators.TimeSeries.scd2Build(spark, sf)
      .select(col("user_id").as("u"), col("value").as("dim_value"),
        col("valid_from").as("vf"))
    val probes = Tables.events(spark, sf)
      .filter(col("event_id") % 7 === 0)
      .select(col("event_id"), col("user_id"), col("ts"))
    val viaAsof = graft.plans.AsOf.join(
        probes, dim.select(col("u").as("user_id_r"), col("vf").as("q_ts"),
          col("dim_value").as("q_value")),
        "user_id", "ts", "q_ts")
      .select(col("event_id"), col("q_value")).collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).toMap
    val intervals = graft.operators.TimeSeries.scd2Build(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(2), r.getTimestamp(3), Option(r.getTimestamp(4))))
      .groupBy(_._1)
    val want = probes.collect().map { r =>
      val (eid, uid, ts) = (r.getLong(0), r.getLong(1), r.getTimestamp(2))
      val hit = intervals.getOrElse(uid, Array.empty).find { case (_, _, vf, vt) =>
        !ts.before(vf) && vt.forall(ts.before)
      }
      (eid, hit.map(_._2))
    }.toMap
    assert(viaAsof.nonEmpty && viaAsof.keySet == want.keySet)
    want.foreach { case (eid, v) =>
      assert(viaAsof(eid).map(_.asInstanceOf[Double]) == v,
        s"PIT lookup diverged for probe $eid")
    }
  }

  test("q62 streaming SCD2: change stream → upsertHistoric log (with replay) → intervals equal batch") {
    // the streaming SCD2 recipe: land the raw change stream through
    // the replay-idempotent historic sink (exactly-once by the
    // store-authority anti-join), derive intervals by reading the log —
    // version numbering is a pure function of the landed rows, so
    // stream ≡ batch for ANY micro-batch split including re-delivery
    val changes = Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val store = java.nio.file.Files.createTempDirectory("graft_scd2").toString + "/log"
    val chunks = changes.collect().grouped(2000).toSeq
    def land(rows: Array[org.apache.spark.sql.Row]): Unit = {
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toSeq, 2), changes.schema)
      graft.sources.Sinks.upsertHistoric(df, store, Seq("event_id"))
    }
    chunks.foreach(land)
    land(chunks.head) // full replay of the first batch: must land nothing
    val fromLog = graft.operators.TimeSeries.scd2BuildOf(
      spark.read.parquet(store).select("event_id", "ts", "user_id", "event_type", "value"))
      .collect().map(_.toSeq).toSeq
    val fromBatch = graft.operators.TimeSeries.scd2BuildOf(changes)
      .collect().map(_.toSeq).toSeq
    assert(fromLog == fromBatch,
      s"streamed SCD2 diverged from batch (${fromLog.size} vs ${fromBatch.size} rows)")
  }

  // ---- d63 subset prune ---------------------------------------------

  test("d63 subset prune: quote dropped, exact-dup set keeps min id, unrelated kept") {
    import spark.implicits._
    val host = (1 to 200).map(i => s"tok$i").mkString(" ")
    val quote = (1 to 20).map(i => s"tok$i").mkString(" ")
    val dup = (500 to 549).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, host), (2L, quote), (3L, dup), (4L, dup),
      (5L, (900 to 950).map(i => s"tok$i").mkString(" "))
    ).map { case (id, t) => (id, "en", "s", t, t.length.toLong) }
      .toDF("doc_id", "lang", "source", "text", "n_chars")
    val kept = graft.operators.Dedup.subsetPruneOf(docs).collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(1L, 3L, 5L), s"survivors diverged: $kept")
  }

  // ---- streaming twin -----------------------------------------------

  private def withRocksDb(body: => Unit): Unit = {
    val k = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(k)
    spark.conf.set(k,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(p) => spark.conf.set(k, p)
      case None => spark.conf.unset(k)
    }
  }

  private def eventTicks(): Seq[graft.streaming.EventStream.Tick] = {
    import spark.implicits._
    Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[graft.streaming.EventStream.Tick].collect().toSeq
  }

  private def flushTicks(ticks: Seq[graft.streaming.EventStream.Tick]) =
    ticks.map(_.user_id).distinct.map(u =>
      graft.streaming.EventStream.Tick(-1L,
        new java.sql.Timestamp(4102444800000L), u, "flush", 0.0))

  private def runCepStream(chunks: Seq[Seq[graft.streaming.EventStream.Tick]],
      lateness: java.time.Duration, name: String): Unit = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[graft.streaming.EventStream.Tick]
    val q = graft.streaming.EventStream.cepStream(input.toDS(), lateness).toDF()
      .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .format("memory").queryName(name).start()
    chunks.foreach { c => input.addData(c); q.processAllAvailable() }
    q.stop()
  }

  private def collectMatches(name: String): Seq[(Long, Long, Long, Int)] =
    spark.table(name).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getInt(5)))
      .sortBy(m => (m._1, m._2)).toSeq

  private def batchMatches(): Seq[(Long, Long, Long, Int)] =
    graft.operators.Cep.eventPattern(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getInt(5))).toSeq

  test("cepStream: ARBITRARY arrival order + flush == batch q57 matches") {
    withRocksDb {
      val ticks = eventTicks().sortBy(t => graft.sources.TickSource.mix(7L, t.event_id))
      runCepStream(
        Seq(ticks.take(ticks.size / 2), ticks.drop(ticks.size / 2), flushTicks(ticks)),
        java.time.Duration.ofDays(3650), "cep_shuffled")
      val got = collectMatches("cep_shuffled")
      val want = batchMatches()
      assert(want.nonEmpty, "batch fixture produced no matches — fixture rot")
      assert(got == want, s"streamed matches != batch (got ${got.size}, want ${want.size})")
    }
  }

  test("cepStream: in-order chunks settle incrementally (matches before flush), final parity") {
    withRocksDb {
      val ticks = eventTicks().sortBy(t => (t.ts.getTime, t.event_id))
      val n = ticks.size
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import spark.implicits._
      implicit val sc = spark.sqlContext
      val input = MemoryStream[graft.streaming.EventStream.Tick]
      val q = graft.streaming.EventStream.cepStream(input.toDS(),
        java.time.Duration.ofMinutes(10)).toDF()
        .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .format("memory").queryName("cep_inc").start()
      input.addData(ticks.take(n / 2)); q.processAllAvailable()
      val mid = spark.table("cep_inc").count()
      input.addData(ticks.drop(n / 2)); q.processAllAvailable()
      input.addData(flushTicks(ticks)); q.processAllAvailable()
      q.stop()
      assert(mid > 0, "nothing settled before the flush — frontier is not advancing")
      assert(collectMatches("cep_inc") == batchMatches(),
        "incremental settle diverged from batch")
    }
  }

  test("q57 CEP: event_matches is reachable from plain spark.sql") {
    Graft.install(spark)
    Tables.events(spark, sf).createOrReplaceTempView("ev_sql")
    val viaSql = spark.sql(
      s"""SELECT user_id, m.start_event_id, m.end_event_id, m.n_mid
         |FROM (
         |  SELECT user_id, explode(event_matches(
         |    sort_array(collect_list(struct(ts, event_id,
         |      CASE event_type WHEN 'view' THEN 0 WHEN 'click' THEN 1
         |           WHEN 'purchase' THEN 2 ELSE 3 END AS tag))),
         |    ${graft.operators.Cep.SpanUs}L)) AS m
         |  FROM ev_sql GROUP BY user_id)
         |ORDER BY user_id, m.start_event_id""".stripMargin).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    val api = graft.operators.Cep.eventPattern(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getInt(5))).toSeq
    assert(viaSql == api, "SQL-surface CEP diverged from the DataFrame API")
  }

  test("q57 CEP: parameterized pattern — signup (view|click)* purchase on a planted stream") {
    import spark.implicits._
    def t(m: Long) = new java.sql.Timestamp(m * 60000L)
    val ev = Seq(
      // u1: signup, view, click, purchase -> activation match, 2 mids
      (1L, t(0), 1L, "signup"), (2L, t(1), 1L, "view"),
      (3L, t(2), 1L, "click"), (4L, t(3), 1L, "purchase"),
      // u2: view (NOT a start under this pattern), purchase -> nothing
      (10L, t(0), 2L, "view"), (11L, t(1), 2L, "purchase"),
      // u3: signup, error aborts, purchase -> nothing
      (20L, t(0), 3L, "signup"), (21L, t(1), 3L, "error"), (22L, t(2), 3L, "purchase")
    ).map { case (eid, ts, uid, et) => (eid, ts, uid, et, 0.0) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = graft.operators.Cep.eventPatternOf(ev, 60L * 60000000L,
      startTypes = Seq("signup"), midTypes = Seq("view", "click"),
      endTypes = Seq("purchase")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getInt(5))).toSeq
    assert(got == Seq((1L, 1L, 4L, 2)), s"activation pattern diverged: $got")
    // empty mid set: strict adjacency start->end
    val strict = graft.operators.Cep.eventPatternOf(ev, 60L * 60000000L,
      startTypes = Seq("signup"), midTypes = Seq.empty,
      endTypes = Seq("purchase")).count()
    assert(strict == 0, "strict-adjacency pattern matched through mids")
  }

  test("q57 CEP: one key shuffle, no window, no cartesian") {
    val plan = graft.operators.Cep.eventPattern(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "CEP plan grew a window")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }
}
