package graft

import graft.ops.Monitoring

class MonitoringSpec extends SparkSpec {

  test("metrics listener observes action durations and outcomes") {
    val l = Monitoring.install(spark)
    try {
      Tables.nation(spark, sf).groupBy("n_regionkey").count().collect()
      // listener callbacks are async; poll briefly
      var tries = 0
      while (l.metrics.isEmpty && tries < 50) { Thread.sleep(100); tries += 1 }
      val ms = l.drain()
      assert(ms.nonEmpty, "no metrics captured")
      assert(ms.exists(m => !m.failed && m.durationMs >= 0))
    } finally spark.listenerManager.unregister(l)
  }

  test("runWithRestarts retries flaky work with backoff and succeeds") {
    var calls = 0
    val (result, attempts) = Monitoring.runWithRestarts(maxRestarts = 3, backoffMs = 10) {
      calls += 1
      if (calls < 3) throw new RuntimeException("transient")
      42
    }
    assert(result == 42 && attempts == 3)
  }

  test("runWithRestarts rethrows after exhausting restarts") {
    var calls = 0
    val e = intercept[RuntimeException] {
      Monitoring.runWithRestarts(maxRestarts = 2, backoffMs = 1) {
        calls += 1
        throw new RuntimeException("permanent")
      }
    }
    assert(e.getMessage == "permanent" && calls == 3)
  }

  test("freshness monitor: gauges, two-poll debounce, event lag, re-arm") {
    var now = 0L
    val m = new Monitoring.FreshnessMonitor(maxCommitAgeMs = 1000,
      maxEventLagMs = 5000, clock = () => now)
    // registered-but-never-committed reads stale from stream start
    m.register("sink_a")
    assert(m.gauges() == Seq(Monitoring.SinkFreshness("sink_a", -1L, -1L, stale = true)))
    assert(!m.poll(), "first violating poll must only arm, not fire")
    assert(m.poll(), "second consecutive violating poll must fire")
    assert(!m.poll(), "after firing the debounce must re-arm")
    // a commit with an event time makes it fresh and resets the arm
    now = 10000L
    m.record("sink_a", Some(9500L))
    assert(m.gauges() == Seq(Monitoring.SinkFreshness("sink_a", 0L, 500L, stale = false)))
    assert(!m.poll())
    // commit age crosses the threshold -> stale again
    now = 11500L
    assert(m.gauges().head.stale)
    // an EMPTY heartbeat commit proves the sink alive (commit age
    // resets) but leaves the event-time frontier, so lag keeps growing
    m.record("sink_a", None)
    val g = m.gauges().head
    assert(g.lastCommitAgeMs == 0L && g.eventLagMs == 2000L && !g.stale)
    // frozen event frontier alone trips once lag passes maxEventLagMs
    now = 15000L
    m.record("sink_a", None)
    assert(m.gauges().head.eventLagMs == 5500L && m.gauges().head.stale)
    // one stale sink among fresh ones still violates the tick
    m.register("sink_b")
    m.record("sink_b", None)
    assert(!m.poll() && m.poll(), "any-sink staleness must drive the debounce")
  }

  test("freshness monitor reset: synthetic commit grants a grace window, keeps the event frontier") {
    var now = 0L
    val m = new Monitoring.FreshnessMonitor(maxCommitAgeMs = 1000,
      maxEventLagMs = 5000, clock = () => now)
    m.register("sink_a")
    m.record("sink_a", Some(0L))
    // quiet feed: commit age crosses the bound
    now = 2000L
    assert(m.gauges().head.stale)
    // the controller's restart stamp: full commit-age grace, but the
    // event-time frontier is NOT forged forward (lag keeps gauging)
    m.reset("sink_a")
    val g = m.gauges().head
    assert(g.lastCommitAgeMs == 0L && g.eventLagMs == 2000L && !g.stale)
    // without reset a quiet feed would re-trip every other poll; with
    // it the next trip needs the grace window to elapse again
    assert(!m.poll())
    now = 3500L
    assert(!m.poll() && m.poll(), "stale again only after the full grace window")
  }

  test("stream controller: restarts a wedged stream on the staleness alert; store stays exact") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    var now = 1700000000000L
    val mon = new Monitoring.FreshnessMonitor(maxCommitAgeMs = 60000, clock = () => now)
    val base = java.nio.file.Files.createTempDirectory("graft_ctl").toString
    val input = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val ctl = new Monitoring.StreamController(Some(mon), maxRestarts = 2)
    def start() = graft.streaming.EventStream.dedupInsertStream(
      input.toDF().toDF("event_id", "ts", "value"),
      s"$base/data", s"$base/ckpt", Seq("event_id"), monitor = Some(mon))
    val q0 = ctl.register("silver_ingest", () => start(), sinkKey = Some(s"$base/data"))
    try {
      input.addData((1L, java.sql.Timestamp.valueOf("2024-01-10 00:00:00"), 1.0))
      q0.processAllAvailable()
      assert(ctl.tick().isEmpty, "healthy stream must not be touched")
      // WEDGE: the query is alive but the store goes stale past the
      // bound — first tick arms the debounce, second fires and restarts
      now += 120000L
      assert(ctl.tick().isEmpty)
      val actions = ctl.tick()
      assert(actions == Seq("restarted silver_ingest (stale, attempt 1)"), actions.toString)
      val q1 = ctl.query("silver_ingest").get
      assert(q1.isActive && q1.runId != q0.runId,
        "restart must produce a NEW run resuming the same checkpoint")
      // the restarted run resumes the checkpoint: overlapping re-sent
      // rows are absorbed by the store guard, new rows land exactly once
      input.addData(
        (1L, java.sql.Timestamp.valueOf("2024-01-10 00:00:00"), 1.0),
        (2L, java.sql.Timestamp.valueOf("2024-01-10 00:01:00"), 2.0))
      q1.processAllAvailable()
      val got = spark.read.parquet(s"$base/data").select("event_id")
        .collect().map(_.getLong(0)).toSet
      assert(got == Set(1L, 2L), s"store must hold exactly {1,2}, got $got")
      assert(ctl.tick().isEmpty, "fresh after restart — no action")
      // CRASH path: a dead query restarts without any monitor involvement
      q1.stop()
      assert(ctl.tick() == Seq("restarted silver_ingest (crashed, attempt 2)"))
      // restart budget exhausted: next failure gives up, later ticks report down
      ctl.query("silver_ingest").get.stop()
      assert(ctl.tick().head.startsWith("gave up silver_ingest"))
      assert(ctl.tick() == Seq("down silver_ingest (gave up after 2 restarts)"))
    } finally ctl.stopAll()
  }

  test("freshness monitor: frozen dedup-insert sink trips, resumed stream clears") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    var now = 1700000000000L
    val mon = new Monitoring.FreshnessMonitor(maxCommitAgeMs = 60000,
      clock = () => now)
    val base = java.nio.file.Files.createTempDirectory("graft_fresh").toString
    val input = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val q = graft.streaming.EventStream.dedupInsertStream(
      input.toDF().toDF("event_id", "ts", "value"),
      s"$base/data", s"$base/ckpt", Seq("event_id"),
      monitor = Some(mon))
    try {
      input.addData((1L, java.sql.Timestamp.valueOf("2024-01-10 00:00:00"), 1.0))
      q.processAllAvailable()
      assert(!mon.gauges().head.stale, "sink just committed — must read fresh")
      assert(!mon.poll())
      // FREEZE: no new commits while the wall clock walks past the bound
      now += 120000L
      assert(mon.gauges().head.stale, "frozen sink must gauge stale")
      assert(!mon.poll() && mon.poll(), "frozen sink trips on the second poll")
      // RESUME: a new micro-batch commits and the gauge clears
      input.addData((2L, java.sql.Timestamp.valueOf("2024-01-10 00:01:00"), 2.0))
      q.processAllAvailable()
      val g = mon.gauges().head
      assert(!g.stale && g.lastCommitAgeMs == 0L, s"resumed sink must clear: $g")
      assert(!mon.poll())
    } finally q.stop()
  }
}
