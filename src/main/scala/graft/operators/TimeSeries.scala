package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Time-series operators mirroring the reference's gold-layer SQL
  * (SP_PROCESS_VERTS / SP_OPTION_TIMESERIES_BACKFILL / stream→bars).
  *
  * All windows partition by user_id (high cardinality at scale) so state
  * is bounded per key and the sort is a per-partition sort after one
  * hash exchange — never a global sort. Rolling means use exact decimal
  * sums (order-independent) divided by window counts, keeping results
  * identical across engines and partition layouts.
  */
object TimeSeries {

  private val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")

  /** q8: N-row trailing rolling mean per key.
    * Reference analog: VERT_TS AVG_R — `AVG(O) OVER (PARTITION BY VID
    * ORDER BY T ROWS BETWEEN 10 PRECEDING AND CURRENT ROW)`
    * (/root/reference/docs/sql_server.md SP_PROCESS_VERTS step 2f).
    */
  def rollingAvg(s: SparkSession, d: String): DataFrame = {
    val w = byUser.rowsBetween(-10, 0)
    Tables.events(s, d)
      .withColumn("roll_avg",
        sum(col("value").cast(DecimalType(18, 4))).over(w).cast("double") /
          count(lit(1)).over(w))
      .select("event_id", "user_id", "ts", "value", "roll_avg")
      .orderBy("event_id")
  }

  /** q9: outlier flag from preceding/following window means.
    * Reference analog: SP_PROCESS_VERTS step 2c — AVG over ROWS BETWEEN
    * 5 PRECEDING AND 1 PRECEDING vs 1 FOLLOWING AND 5 FOLLOWING, outlier
    * iff the point is >0.5 away from both on the same side.
    */
  def outlierFilter(s: SparkSession, d: String): DataFrame = {
    val pre = byUser.rowsBetween(-5, -1)
    val fol = byUser.rowsBetween(1, 5)
    def wavg(w: org.apache.spark.sql.expressions.WindowSpec) =
      sum(col("value").cast(DecimalType(18, 4))).over(w).cast("double") /
        count(lit(1)).over(w)
    val thresh = lit(50.0)
    Tables.events(s, d)
      .withColumn("avg_pre", wavg(pre))
      .withColumn("avg_fol", wavg(fol))
      .withColumn("is_outlier",
        when(((col("avg_pre") - col("value") > thresh) && (col("avg_fol") - col("value") > thresh)) ||
             ((col("value") - col("avg_pre") > thresh) && (col("value") - col("avg_fol") > thresh)), 1)
          .otherwise(0))
      .select("event_id", "user_id", "ts", "value", "avg_pre", "avg_fol", "is_outlier")
      .orderBy("event_id")
  }

  /** q10: self-join on an offset key — vertical-spread pairing.
    * Reference analog: SP_PROCESS_VERTS step 2b — short leg S joined to
    * long leg L at S.SS = L.SS ± W, same T and CP; net price SO − LO.
    * Here: consecutive lineitems of the same order (linenumber offset 1).
    * Scale: equi-join on the shared parent key (l_orderkey) — one
    * shuffle, colocated pairing, no range explosion.
    */
  def selfJoinOffset(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
    val short = li.select(col("l_orderkey"), col("l_linenumber").as("s_line"),
      col("l_extendedprice").as("s_price"))
    val long = li.select(col("l_orderkey").as("lo_key"), col("l_linenumber").as("l_line"),
      col("l_extendedprice").as("l_price"))
    short.join(long,
        col("l_orderkey") === col("lo_key") && col("s_line") === col("l_line") + 1)
      .select(col("l_orderkey"), col("s_line"), col("l_line"),
        col("s_price"), col("l_price"),
        (col("s_price") - col("l_price")).as("net"))
      .orderBy("l_orderkey", "s_line")
  }

  /** q11: latest row per key.
    * Reference analog: the Redis latest-quote cache
    * (services/schwab_stream.py set_latest_quote) — last tick per
    * symbol. row_number over (ts DESC, event_id DESC) → deterministic.
    */
  def latestPerKey(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("user_id", "ts", "event_type", "value")
      .orderBy("user_id")
  }

  /** q12: daily grid + last-observation-carried-forward.
    * Reference analog: SP_OPTION_TIMESERIES_BACKFILL — builds a dense
    * time grid and fills gaps between sparse marks so multi-leg pricing
    * aligns. Grid = users × days (generated distributively via
    * sequence+explode, no driver loop); fill = last(ignoreNulls) window.
    */
  def locfGapfill(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val dayW = Window.partitionBy("user_id", "day").orderBy(col("ts").desc, col("event_id").desc)
    val daily = ev
      .withColumn("day", to_date(col("ts")))
      .withColumn("rn", row_number().over(dayW))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("day"), col("value").as("close_v"))
    val bounds = ev.agg(to_date(min(col("ts"))).as("d0"), to_date(max(col("ts"))).as("d1"))
    val days = bounds.select(explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("day"))
    val grid = ev.select("user_id").distinct().crossJoin(broadcast(days))
    val fillW = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, 0)
    grid.join(daily, Seq("user_id", "day"), "left")
      .withColumn("filled_close", last(col("close_v"), ignoreNulls = true).over(fillW))
      .select("user_id", "day", "close_v", "filled_close")
      .orderBy("user_id", "day")
  }

  /** q15: gap-based sessionization (30-minute inactivity boundary).
    * Reference analog: market-session awareness across services
    * (get_next_session, session padding). lag + cumulative-sum-of-flags
    * assigns session ids in one pass per key.
    */
  def sessionize(s: SparkSession, d: String): DataFrame = {
    val gapMin = 30L
    val lagTs = lag(col("ts"), 1).over(byUser)
    val newSess = when(lagTs.isNull ||
      (unix_micros(col("ts")) - unix_micros(lagTs)) > gapMin * 60L * 1000000L, 1L).otherwise(0L)
    Tables.events(s, d)
      .withColumn("new_sess", newSess)
      .withColumn("session_id",
        sum(col("new_sess")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("t_start"), max(col("ts")).as("t_end"),
        Relational.dsum(col("value")).as("session_value"))
      .orderBy("user_id", "session_id")
  }

  /** q16: as-of join — for each 'purchase' event, the latest 'view'
    * value of the same user at or before it.
    * Reference analog: aligning sparse option marks to the underlying
    * tick stream (UL vs OPTM in SP_PROCESS_VERTS). Implemented as
    * union + last(ignoreNulls) window: ONE shuffle on the key, linear
    * state, no per-row probe or range join — the scalable as-of pattern.
    */
  def asofJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).filter(col("event_type").isin("view", "purchase"))
    val tagged = ev
      .withColumn("quote_v", when(col("event_type") === "view", col("value")))
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    tagged
      .withColumn("last_view_value", last(col("quote_v"), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "value", "last_view_value")
      .orderBy("event_id")
  }

  /** q26: as-of join via the custom AsOfJoin plan node
    * (graft.plans.AsOfJoin: LogicalPlan + SparkStrategy + sort-merge
    * BinaryExecNode). Same semantics as q16 but executed as a single
    * linear merge per key-partition instead of a window over the
    * unioned stream — the shape that scales when the quote side is
    * 1000× the trade side (no union materialization).
    */
  def asofJoinCustom(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val trades = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "value")
    val quotes = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("user_id_r"), col("ts").as("q_ts"),
        col("value").as("q_value"), col("event_id").as("q_event_id"))
    // seq columns make ts ties deterministic: a view at the exact same
    // timestamp as the purchase counts only if its event_id is smaller —
    // identical to the q16/oracle (ORDER BY ts, event_id) window order.
    graft.plans.AsOf.join(trades, quotes, "user_id", "ts", "q_ts",
        leftSeqCol = Some("event_id"), rightSeqCol = Some("q_event_id"))
      .select("event_id", "user_id", "ts", "value", "q_value", "q_ts")
      .orderBy("event_id")
  }

  /** q17: tick→OHLC bar construction.
    * Reference analog: HISTORIC.MINUTE bars fed by the tick stream
    * (sql/opt.sql PYTHON.MINUTE → HISTORIC.MINUTE). open/close selected
    * by deterministic row_number (ts, event_id tie-break), not first()/
    * last() which are partition-order-sensitive.
    */
  def ohlcBars(s: SparkSession, d: String): DataFrame =
    ohlcBarsOf(Tables.events(s, d)).orderBy("user_id", "bar")

  /** Core hourly-OHLC aggregation over any (user_id, ts, event_id,
    * value) tick frame — the q17 entry's core, and what a parquet
    * landing of the tick stream (the production path) feeds. */
  def ohlcBarsOf(ticks: DataFrame): DataFrame = {
    val ev = ticks.withColumn("bar", date_trunc("hour", col("ts")))
    val wAsc = Window.partitionBy("user_id", "bar").orderBy(col("ts").asc, col("event_id").asc)
    val wDesc = Window.partitionBy("user_id", "bar").orderBy(col("ts").desc, col("event_id").desc)
    ev.withColumn("rn_a", row_number().over(wAsc))
      .withColumn("rn_d", row_number().over(wDesc))
      .groupBy(col("user_id"), col("bar"))
      .agg(
        max(when(col("rn_a") === 1, col("value"))).as("open_v"),
        max(col("value")).as("high_v"),
        min(col("value")).as("low_v"),
        max(when(col("rn_d") === 1, col("value"))).as("close_v"),
        count(lit(1)).as("n_ticks"),
        Relational.dsum(col("value")).as("volume"))
  }

  /** q28: the verticals gold pipeline end-to-end (SP_PROCESS_VERTS,
    * /root/reference/docs/sql_server.md steps 2b–2f): pair consecutive
    * per-user events (spread construction), net price, outlier filter
    * via preceding/following means, clamp to [0, W], then the 10-row
    * rolling average over the surviving series. Windows share ONE
    * partitioning (user_id) so Catalyst reuses a single exchange+sort.
    */
  def verticalsPipeline(s: SparkSession, d: String): DataFrame =
    verticalsOf(Tables.events(s, d)).orderBy("event_id")

  /** Core verticals build over any (event_id, user_id, ts, value) tick
    * frame — the q28 entry's core. All windows share the user_id
    * partitioning: ONE exchange. */
  def verticalsOf(ticks: DataFrame): DataFrame = {
    val w = lit(10.0)
    val lagW = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val paired = ticks
      .withColumn("prev_value", lag(col("value"), 1).over(lagW))
      .withColumn("prev_ts", lag(col("ts"), 1).over(lagW))
      .filter(col("prev_value").isNotNull)
      .withColumn("net", col("value") - col("prev_value"))
    val pre = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-5, -1)
    val fol = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(1, 5)
    def wavg(ws: org.apache.spark.sql.expressions.WindowSpec) =
      sum(col("net").cast(DecimalType(18, 4))).over(ws).cast("double") /
        count(lit(1)).over(ws)
    val thresh = lit(50.0)
    val flagged = paired
      .withColumn("avg_pre", wavg(pre))
      .withColumn("avg_fol", wavg(fol))
      // coalesce(false): window-edge rows (null pre/fol mean) are kept,
      // matching the reference's CASE...ELSE 0 outlier indicator
      .filter(!coalesce(
        ((col("avg_pre") - col("net") > thresh) && (col("avg_fol") - col("net") > thresh)) ||
        ((col("net") - col("avg_pre") > thresh) && (col("net") - col("avg_fol") > thresh)),
        lit(false)))
      .withColumn("o", least(greatest(col("net"), lit(0.0)), w))
    val roll = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-10, 0)
    flagged
      .withColumn("avg_r",
        sum(col("o").cast(DecimalType(18, 4))).over(roll).cast("double") /
          count(lit(1)).over(roll))
      .select("event_id", "user_id", "ts", "net", "o", "avg_r")
  }

  /** q20: time-of-day session filter + rollup.
    * Reference analog: market-hours gate 06:30–13:00 in
    * SP_IMPORT_PARQUET_OPT_DATA (`CAST(T AS TIME(0)) BETWEEN '06:30'
    * AND '13:00'`) and the service-side session padding checks.
    */
  def sessionFilter(s: SparkSession, d: String): DataFrame = {
    val minuteOfDay = hour(col("ts")) * 60 + minute(col("ts"))
    Tables.events(s, d)
      .filter(minuteOfDay >= 390 && minuteOfDay <= 780)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        Relational.dsum(col("value")).as("total_value"))
      .orderBy("event_type")
  }

  /** q21: tumbling time-window aggregation (epoch-aligned 6h windows) —
    * batch twin of the Structured Streaming windowed agg in
    * graft.streaming.EventStream. Window start computed arithmetically
    * so the DuckDB oracle reproduces it exactly.
    */
  def windowAggTime(s: SparkSession, d: String): DataFrame = {
    val winSec = 6L * 3600L
    val ws = timestamp_seconds(floor(unix_micros(col("ts")) / (winSec * 1000000L)) * winSec)
    Tables.events(s, d)
      .withColumn("ws", ws)
      .groupBy(col("ws"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        Relational.dsum(col("value")).as("total_value"))
      .orderBy("ws", "event_type")
  }

  /** q31: market-calendar classification — weekday/weekend session
    * gating per day, in-session vs out-of-session activity.
    * Reference analog: the market-hours service
    * (services/schwab_market_service.py) writing SCHWAB.MARKET_HOURS
    * (is_open, session times) and every collector gating on it.
    * weekday(ts)+1 here == DuckDB isodow (1=Mon..7=Sun) for the oracle.
    */
  def sessionCalendar(s: SparkSession, d: String): DataFrame = {
    val dow = weekday(col("ts")) + 1
    val inSession = (hour(col("ts")) * 60 + minute(col("ts"))).between(390, 780)
    Tables.events(s, d)
      .withColumn("day", to_date(col("ts")))
      .withColumn("is_open", (dow <= 5).cast("int"))
      .withColumn("in_session", ((dow <= 5) && inSession).cast("int"))
      .groupBy(col("day"), col("is_open"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("in_session")).as("n_in_session"),
        Relational.dsum(when(col("in_session") === 1, col("value"))).as("session_value"))
      .orderBy("day")
  }

  /** q39: timezone-aware session rollup — the reference's market-hours
    * gate is PACIFIC wall clock (06:30–13:00 PST/PDT:
    * `CAST(T AS TIME(0)) BETWEEN '06:30' AND '13:00'` after
    * EpochMsToPST_ITVF, docs/sql_server.md; convert_epoch_to_pacific in
    * tools/utils.py). Convert UTC instants to America/Los_Angeles wall
    * time (DST-correct), then classify and roll up per Pacific day.
    */
  def tzSession(s: SparkSession, d: String): DataFrame = {
    val pac = from_utc_timestamp(col("ts"), "America/Los_Angeles")
    val minuteOfDay = hour(pac) * 60 + minute(pac)
    Tables.events(s, d)
      .withColumn("pac_day", to_date(pac))
      .withColumn("in_session",
        (minuteOfDay >= 390 && minuteOfDay <= 780).cast("int"))
      .groupBy(col("pac_day"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("in_session").cast("long")).as("n_in_session"),
        Relational.dsum(when(col("in_session") === 1, col("value"))).as("session_value"))
      .orderBy("pac_day")
  }

  /** q36: VWAP — value-weighted average price per user per day (the
    * canonical finance rollup; weights = tick counts stand in for
    * volume via props k). Decimal-exact numerator/denominator, double
    * division at the edge.
    */
  def vwap(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .withColumn("vol", get_json_object(col("props"), "$.k").cast("long"))
    ev.withColumn("day", to_date(col("ts")))
      .groupBy(col("user_id"), col("day"))
      .agg(
        sum(col("value").cast(DecimalType(18, 4)) * col("vol"))
          .cast(DecimalType(28, 4)).cast("double").as("num"),
        sum(col("vol")).as("total_vol"),
        count(lit(1)).as("n_ticks"))
      .filter(col("total_vol") > 0) // zero-volume groups have no VWAP
      .withColumn("vwap", col("num") / col("total_vol").cast("double"))
      .select("user_id", "day", "vwap", "total_vol", "n_ticks")
      .orderBy("user_id", "day")
  }

  /** q37: bar resampling — hourly bars reaggregated into daily bars
    * (open = first hour's open, close = last hour's close, hi/lo/vol
    * merge). Reference analog: PYTHON.MINUTE → HISTORIC.DAY
    * (sql/opt.sql SP_PY_PROCESS_OHLC). Two window+agg levels sharing
    * the user partitioning.
    */
  def barResample(s: SparkSession, d: String): DataFrame = {
    val hourly = ohlcBars(s, d) // user_id, bar, open_v..close_v, n_ticks, volume
      .withColumn("day", to_date(col("bar")))
    val wAsc = Window.partitionBy("user_id", "day").orderBy(col("bar").asc)
    val wDesc = Window.partitionBy("user_id", "day").orderBy(col("bar").desc)
    hourly
      .withColumn("rn_a", row_number().over(wAsc))
      .withColumn("rn_d", row_number().over(wDesc))
      .groupBy(col("user_id"), col("day"))
      .agg(
        max(when(col("rn_a") === 1, col("open_v"))).as("open_v"),
        max(col("high_v")).as("high_v"),
        min(col("low_v")).as("low_v"),
        max(when(col("rn_d") === 1, col("close_v"))).as("close_v"),
        sum(col("n_ticks")).as("n_ticks"),
        sum(col("volume").cast(DecimalType(18, 4))).cast("double").as("volume"))
      .orderBy("user_id", "day")
  }

  /** q38: running maximum + drawdown per key (peak-to-trough tracking
    * over the value stream — the risk metric every trading pipeline
    * computes). Single cumulative window, single binary ops only.
    */
  def drawdown(s: SparkSession, d: String): DataFrame = {
    val w = byUser.rowsBetween(Window.unboundedPreceding, 0)
    Tables.events(s, d)
      .withColumn("run_max", max(col("value")).over(w))
      .withColumn("drawdown", col("run_max") - col("value"))
      .select("event_id", "user_id", "ts", "value", "run_max", "drawdown")
      .orderBy("event_id")
  }

  /** q41: SLIDING (overlapping) time windows — 6h windows every 2h,
    * epoch-aligned: each event lands in exactly 3 panes (the streaming
    * `window(ts, "6 hours", "2 hours")` semantics, batch-computed).
    */
  def slidingWindowAgg(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    ev.withColumn("win", window(col("ts"), "6 hours", "2 hours"))
      .select(col("win.start").as("ws"), col("event_type"), col("value"))
      .groupBy(col("ws"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        Relational.dsum(col("value")).as("total_value"))
      .orderBy("ws", "event_type")
  }

  /** q42: ordered funnel — users progressing click → view (after the
    * first click) → purchase (after that view). The event-analytics
    * staple; each step is a broadcastable per-user min-timestamp join.
    */
  def funnel(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val c = ev.filter(col("event_type") === "click")
      .groupBy("user_id").agg(min("ts").as("tc"))
    val v = ev.filter(col("event_type") === "view")
      .join(c, "user_id").filter(col("ts") > col("tc"))
      .groupBy("user_id").agg(min("ts").as("tv"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(v, "user_id").filter(col("ts") > col("tv"))
      .groupBy("user_id").agg(min("ts").as("tp"))
    c.select(lit(1).as("k"), col("user_id"))
      .groupBy("k").agg(count(lit(1)).as("n_step1"))
      .join(v.select(lit(1).as("k")).groupBy("k").agg(count(lit(1)).as("n_step2")), "k")
      .join(p.select(lit(1).as("k")).groupBy("k").agg(count(lit(1)).as("n_step3")), "k")
      .drop("k")
  }

  /** q48: Bollinger bands — 20-row rolling mean ± 2σ per key. The
    * variance comes from exact decimal window sums of x and x²
    * ((Σx² − (Σx)²/n)/(n−1)), NOT stddev_samp: engines disagree on
    * streaming-variance rounding, exact moments they can't.
    */
  def bollinger(s: SparkSession, d: String): DataFrame = {
    val w = byUser.rowsBetween(-19, 0)
    val s1 = sum(col("value").cast(DecimalType(18, 4))).over(w).cast("double")
    val s2 = sum((col("value").cast(DecimalType(18, 4)) *
      col("value").cast(DecimalType(18, 4))).cast(DecimalType(28, 8))).over(w)
      .cast("double")
    val n = count(lit(1)).over(w).cast("double")
    Tables.events(s, d)
      .withColumn("mid", s1 / n)
      .withColumn("variance",
        when(n > 1, (s2 - (s1 * s1) / n) / (n - 1.0)).otherwise(lit(0.0)))
      .withColumn("upper", col("mid") + lit(2.0) * sqrt(greatest(col("variance"), lit(0.0))))
      .withColumn("lower", col("mid") - lit(2.0) * sqrt(greatest(col("variance"), lit(0.0))))
      .select("event_id", "user_id", "ts", "value", "mid", "upper", "lower")
      .orderBy("event_id")
  }

  /** q22: bounded clamp.
    * Reference analog: SP_PROCESS_VERTS step 2e — vertical price floored
    * at 0 and capped at the spread width W. Pure projection: stays in
    * one codegen stage, no shuffle.
    */
  def clampBounds(s: SparkSession, d: String): DataFrame = {
    val w = lit(10.0)
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("value"),
        least(greatest(col("value") - 100.0, lit(0.0)), w).as("clamped"))
      .orderBy("event_id")
  }

  /** q58: cohort retention — the classic cohort × offset activity
    * matrix (every product-analytics engine's bread and butter; the
    * reference's account-activity rollups are the same
    * first-seen-then-active shape). cohort(u) = WEEK of u's first
    * event (the events table spans one month, so weekly cohorts give
    * the matrix structure monthly ones can't); n_active = distinct
    * users of that cohort active k weeks later; retention =
    * n_active / cohort size.
    *
    * Scale shape: two user_id hash shuffles (first-seen min and the
    * distinct (user, week) dedup), a user_id equi-join, then one
    * small (cohort, offset) aggregate with the cohort-size table
    * broadcast back — no window, nothing single-partition. Week
    * arithmetic stays integer (Monday-aligned DATEs ⇒ day diffs
    * divisible by 7) in both engines.
    */
  def cohortRetention(s: SparkSession, d: String): DataFrame =
    cohortRetentionOf(Tables.events(s, d))

  /** Core of [[cohortRetention]]. */
  def cohortRetentionOf(ev: DataFrame): DataFrame = {
    val cohorts = ev.groupBy("user_id")
      .agg(trunc(min(col("ts")).cast("date"), "week").as("cohort"))
    val activity = ev
      .select(col("user_id"), trunc(col("ts").cast("date"), "week").as("m"))
      .distinct()
    val sizes = cohorts.groupBy("cohort").agg(count(lit(1)).as("n_cohort"))
    activity.join(cohorts, "user_id")
      .withColumn("offset_w", expr("datediff(m, cohort) div 7").cast("int"))
      .groupBy("cohort", "offset_w")
      .agg(countDistinct(col("user_id")).as("n_active"))
      .join(sizes, "cohort")
      .withColumn("retention", col("n_active").cast("double") / col("n_cohort"))
      .select("cohort", "offset_w", "n_active", "n_cohort", "retention")
      .orderBy("cohort", "offset_w")
  }

  /** q62: SCD Type-2 dimension build — turn a change stream into
    * versioned validity intervals (the warehouse staple the
    * reference's historic tables approximate with full snapshots):
    * per key ordered by (ts, event_id), each change opens a version at
    * its own timestamp and closes at the NEXT change's (half-open
    * [valid_from, valid_to)); the latest version stays open
    * (valid_to NULL, is_current). One lead() + row_number() on a
    * single user_id window — one shuffle, state linear per key; at
    * open key cardinality the window rides the usual two-level
    * range-partition scheme.
    */
  def scd2Build(s: SparkSession, d: String): DataFrame =
    scd2BuildOf(Tables.events(s, d))

  /** Core of [[scd2Build]]. */
  def scd2BuildOf(ev: DataFrame): DataFrame =
    ev
      .withColumn("version", row_number().over(byUser).cast("int"))
      .withColumn("valid_to", lead(col("ts"), 1).over(byUser))
      .select(col("user_id"), col("version"), col("value"),
        col("ts").as("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"))
      .orderBy("user_id", "version")

  /** q60: session path analysis — the top event-type SEQUENCES across
    * 30-minute sessions (the Sankey/user-journey view; the d29 n-gram
    * idea applied to behavioral event streams). Sessions come from the
    * q15 gap rule; each session's path is its event types joined in
    * exact (ts, event_id) order; output = the 50 most frequent paths
    * with deterministic (count desc, path) ties.
    *
    * Scale shape: one user_id shuffle for the session window, one
    * (user, session) aggregate building the path string, one path
    * aggregate — counts come map-side-combined, and the top-50 is a
    * global sort of the path-distinct rows only.
    */
  def eventPaths(s: SparkSession, d: String): DataFrame = {
    val gapMin = 30L
    val lagTs = lag(col("ts"), 1).over(byUser)
    val newSess = when(lagTs.isNull ||
      (unix_micros(col("ts")) - unix_micros(lagTs)) > gapMin * 60L * 1000000L, 1L).otherwise(0L)
    Tables.events(s, d)
      .withColumn("new_sess", newSess)
      .withColumn("session_id",
        sum(col("new_sess")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(concat_ws(">", expr(
        "transform(sort_array(collect_list(struct(ts, event_id, event_type))), x -> x.event_type)"))
        .as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(50)
  }

  /** q61: error-burst detection — per user, MAXIMAL runs of
    * consecutive 'error' events with ≥ 3 members (the ops-alerting
    * CEP complement of q57: pattern `error{3,}` needs no automaton —
    * greedy maximal-run semantics ARE gaps-and-islands, so both the
    * Spark side and the oracle are plain windows, depth-unbounded at
    * any scale where q57's row-stepping recursive oracle gives out).
    * run_id = running count of run STARTS (an error whose predecessor
    * isn't one); one user_id shuffle carries both windows and the
    * run aggregate.
    */
  def errorBursts(s: SparkSession, d: String): DataFrame =
    errorBurstsOf(Tables.events(s, d))

  /** Core of [[errorBursts]]. */
  def errorBurstsOf(ev: DataFrame): DataFrame = {
    val isErr = col("event_type") === "error"
    val prevType = lag(col("event_type"), 1).over(byUser)
    ev
      .withColumn("run_start",
        when(isErr && (prevType.isNull || prevType =!= "error"), 1L).otherwise(0L))
      .withColumn("run_id",
        sum(col("run_start")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .filter(isErr)
      .groupBy(col("user_id"), col("run_id"))
      // struct-argmin/argmax on the (ts, event_id) order key: run
      // endpoints are ORDER extremes, not per-column mins (event_id is
      // monotone with ts on this data, but the operator shouldn't
      // depend on it)
      .agg(count(lit(1)).as("n_errors"),
        min(struct(col("ts"), col("event_id"))).as("s"),
        max(struct(col("ts"), col("event_id"))).as("e"))
      .filter(col("n_errors") >= 3)
      .select(col("user_id"), col("s.event_id").as("start_event_id"),
        col("s.ts").as("start_ts"), col("e.event_id").as("end_event_id"),
        col("e.ts").as("end_ts"), col("n_errors"))
      .orderBy("user_id", "start_event_id")
  }

  /** q59: last-touch attribution — each purchase attributed to the
    * user's most recent PRIOR non-purchase event within 48 h (the
    * marketing-attribution / trade-cause shape; the reference's
    * order-to-quote pairing in SP_PROCESS_TRANSACTIONS is the same
    * latest-preceding-row lookup). Implemented as last(..., ignoreNulls)
    * over an unbounded-preceding row window — one shuffle on user_id;
    * at open-ended key cardinality the per-key window rides the same
    * two-level range-partition scheme as Silver.surrogateIds. Purchases
    * whose latest prior event is stale (> 48 h) emit NULL attribution
    * (kept: the unattributed-conversion row is the interesting one).
    */
  def lastTouchAttribution(s: SparkSession, d: String): DataFrame =
    lastTouchAttributionOf(Tables.events(s, d))

  /** Core of [[lastTouchAttribution]]. */
  def lastTouchAttributionOf(ev: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    ev
      .withColumn("attr", last(
        when(col("event_type") =!= "purchase",
          struct(col("ts").as("ts"), col("event_id").as("id"),
            col("event_type").as("t"))),
        ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      // µs-integer gap arithmetic: exact and identical cross-engine
      // (second-granularity epoch floors diverge at ulp boundaries)
      .withColumn("gap_us", unix_micros(col("ts")) - unix_micros(col("attr.ts")))
      .withColumn("fresh",
        col("attr").isNotNull && col("gap_us") <= 48L * 3600L * 1000000L)
      .select(col("event_id"), col("user_id"), col("ts"),
        when(col("fresh"), col("attr.id")).as("attr_event_id"),
        when(col("fresh"), col("attr.t")).as("attr_type"),
        when(col("fresh"), col("gap_us")).as("gap_us"))
      .orderBy("event_id")
  }
}
