package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming twin of the reference's tick pipeline
  * (services/schwab_stream.py): a quote stream feeds (a) windowed
  * aggregates and (b) a latest-value-per-key state store (the Redis
  * `set_latest_quote` analog), with watermarking bounding state.
  *
  * Batch/stream parity: `TimeSeries.windowAggTime` is the batch twin of
  * [[windowedAgg]]; `TimeSeries.latestPerKey` of [[latestPerKey]].
  */
object EventStream {

  /** Schema of the events stream (matches the events parquet minus the
    * nanos quirk — streaming sources feed µs timestamps). */
  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  case class Tick(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)
  case class Latest(user_id: Long, ts: java.sql.Timestamp, value: Double, n_seen: Long, last_event_id: Long)

  /** Watermarked tumbling-window aggregate over a streaming DataFrame.
    * At scale: state is bounded by the 10-minute watermark; each window
    * pane shuffles once on (window, event_type).
    */
  def windowedAgg(stream: DataFrame): DataFrame =
    stream
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("ws"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Stateful latest-value-per-key (Redis latest-quote analog) via
    * mapGroupsWithState. State per user is O(1) but lives FOREVER unless
    * `idleTimeout` is set: pass Some(duration) on churning key
    * populations to evict idle keys via processing-time timeout (the
    * final quote is re-emitted on eviction; a fresh tick re-creates the
    * state). Default None keeps the store unbounded — fine for a fixed
    * key universe (one state per instrument), and required by bounded
    * smoke runs: a pending processing-time timeout schedules recurring
    * no-data micro-batches, so `processAllAvailable` never settles.
    */
  def latestPerKey(stream: Dataset[Tick],
      idleTimeout: Option[String] = None): Dataset[Latest] = {
    import stream.sparkSession.implicits._
    val conf = if (idleTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout
               else GroupStateTimeout.NoTimeout
    stream
      .groupByKey(_.user_id)
      .mapGroupsWithState(conf)(
        (user: Long, ticks: Iterator[Tick], state: GroupState[Latest]) => {
          if (state.hasTimedOut) {
            val out = state.get // idle key: emit final value, evict
            state.remove()
            out
          } else {
            val prev = state.getOption
            var best = prev
            var seen = prev.map(_.n_seen).getOrElse(0L)
            ticks.foreach { t =>
              seen += 1
              val cmp = if (best.isEmpty) 1 else t.ts.compareTo(best.get.ts)
              if (cmp > 0 || (cmp == 0 && t.event_id > best.get.last_event_id))
                best = Some(Latest(user, t.ts, t.value, seen, t.event_id))
            }
            val out = best.get.copy(n_seen = seen)
            state.update(out)
            idleTimeout.foreach(state.setTimeoutDuration)
            out
          }
        })
  }

  /** Latest-value-per-key on the Spark 4 `transformWithState` API with
    * NATIVE state TTL — the modern replacement for [[latestPerKey]]'s
    * timeout machinery. The TTL is enforced by the state store itself:
    * expired values read back as absent and RocksDB compaction reclaims
    * them, so idle-key eviction costs no per-key timers and no
    * re-emission on evict (the value simply ages out, exactly like the
    * Redis key expiry it mirrors). NOTE the bounded-run caveat still
    * applies to the TTL mode: it runs in TimeMode.ProcessingTime, which
    * (measured, like GroupStateTimeout.ProcessingTimeTimeout) schedules
    * recurring micro-batches — `processAllAvailable()` does NOT settle;
    * bounded smoke runs must poll-and-stop. TTL-less mode
    * (TimeMode.None) settles normally. Requires the RocksDB state store
    * provider (spark.sql.streaming.stateStore.providerClass).
    *
    * Reference analog: the Redis latest-quote cache with key expiry
    * (services/schwab_stream.py set_latest_quote), state-store-native.
    */
  class LatestProcessor(ttl: Option[java.time.Duration])
      extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[Long, Tick, Latest, Latest] {
    @transient private var state: org.apache.spark.sql.streaming.ValueState[Latest] = _
    /** Batch-snapshot bootstrap (the Redis-cache-restore analog): seed
      * each key's state from a q11-shaped row so a restarted stream
      * resumes from the snapshot instead of replaying history. Runs
      * once per snapshot key on the first micro-batch. */
    override def handleInitialState(user: Long, snap: Latest,
        tv: org.apache.spark.sql.streaming.TimerValues): Unit =
      state.update(snap)
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      val ttlConf = ttl.map(org.apache.spark.sql.streaming.TTLConfig(_))
        .getOrElse(org.apache.spark.sql.streaming.TTLConfig.NONE)
      state = getHandle.getValueState[Latest]("latest",
        org.apache.spark.sql.Encoders.product[Latest], ttlConf)
    }
    override def handleInputRows(user: Long, ticks: Iterator[Tick],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[Latest] = {
      var best = if (state.exists()) Option(state.get()) else None
      var seen = best.map(_.n_seen).getOrElse(0L)
      ticks.foreach { t =>
        seen += 1
        val cmp = if (best.isEmpty) 1 else t.ts.compareTo(best.get.ts)
        if (cmp > 0 || (cmp == 0 && t.event_id > best.get.last_event_id))
          best = Some(Latest(user, t.ts, t.value, seen, t.event_id))
      }
      val out = best.get.copy(n_seen = seen)
      state.update(out)
      Iterator.single(out)
    }
  }

  case class FunnelRow(user_id: Long, tc: Option[java.sql.Timestamp],
      tv: Option[java.sql.Timestamp], tp: Option[java.sql.Timestamp])

  /** Streaming funnel — the stateful twin of batch q42's minimal
    * click→view→purchase chain (tc = min click; tv = min view AFTER
    * tc; tp = min purchase AFTER tv), correct under ARBITRARY
    * out-of-order arrival by monotone refinement: tc only ever
    * decreases, so the eligible-view set only grows and tv only
    * decreases (likewise tp). That forces the one non-obvious state
    * decision: a view at t ≤ current tv must be RETAINED even when not
    * currently eligible (t ≤ tc), because a later-arriving earlier
    * click can make it eligible; views above tv are discarded forever
    * (tv is monotone ↓). State per user = min click (ValueState) + the
    * retained view/purchase candidate lists (ListState, pruned to
    * ≤ tv / ≤ tp each batch) — bounded by the user's below-threshold
    * event counts. CAVEAT on that bound: a user with NO click yet has
    * tc = tv = tp = MAX, so every one of THAT user's views and
    * purchases is retained indefinitely — required for exactness
    * (an arbitrarily late first click can make any of them the
    * funnel's tv/tp), but it means state for clickless users grows
    * with their stream length. `maxClickLatenessUs` is the opt-in
    * bound for deployments that can declare very-late clicks dead:
    * with it set, a click more than the lateness behind the USER'S OWN
    * event-time frontier (a per-key high-watermark, kept in state) no
    * longer refines, and candidates at or below that cutoff are
    * dropped — except the current tv/tp witnesses, which future
    * outputs still need. The per-key frontier deliberately replaces
    * the global watermark here: Spark's event-time mode drops EVERY
    * behind-watermark input row before the processor sees it (killing
    * mildly-late views the exact semantics must absorb), and a global
    * cutoff couples one user's state bound to other users' event
    * times. The drop is LOSSLESS under the declared bound: a candidate
    * at t ≤ cutoff can only become newly eligible via a future click
    * strictly below it, and every such click is itself ≤ cutoff and
    * therefore dead — so state is bounded by the key's event density
    * inside one lateness window (+2 witnesses), and outputs equal the
    * exact processor's whenever no over-late click actually arrives
    * (spec-gated both ways). Default None keeps the exact semantics —
    * the batch-parity spec feeds fully reversed input.
    *
    * Emits the user's refined (tc, tv, tp) on every update (Update
    * mode); the funnel step counts are a trivial aggregate over the
    * latest row per user. TimeMode.None either way: settles in
    * bounded runs.
    */
  class FunnelProcessor(maxClickLatenessUs: Option[Long] = None)
      extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[Long, Tick, FunnelRow, FunnelRow] {
    @transient private var minClick: org.apache.spark.sql.streaming.ValueState[Long] = _
    @transient private var views: org.apache.spark.sql.streaming.ListState[Long] = _
    @transient private var purchases: org.apache.spark.sql.streaming.ListState[Long] = _
    @transient private var frontier: org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      val none = org.apache.spark.sql.streaming.TTLConfig.NONE
      minClick = getHandle.getValueState[Long]("min_click",
        org.apache.spark.sql.Encoders.scalaLong, none)
      views = getHandle.getListState[Long]("views",
        org.apache.spark.sql.Encoders.scalaLong, none)
      purchases = getHandle.getListState[Long]("purchases",
        org.apache.spark.sql.Encoders.scalaLong, none)
      frontier = getHandle.getValueState[Long]("frontier",
        org.apache.spark.sql.Encoders.scalaLong, none)
    }
    /** Batch-snapshot bootstrap: seed the funnel from its own last
      * output row — tc plus the achieved tv/tp WITNESSES. The snapshot
      * deliberately carries no other candidates (the batch output
      * doesn't have them), so history is FROZEN at its refined values:
      * a tail click that out-of-order-undercut the snapshot's tc could
      * only re-qualify the carried witnesses, not arbitrary historic
      * views — the same declared-dead trade as `maxClickLatenessUs`,
      * and the Redis-restore semantics of the reference (the cache
      * restores the latest snapshot, not the event history). For tails
      * at or after the snapshot frontier — the normal restart case —
      * outputs equal the batch query over the FULL input for every key
      * whose funnel had started (spec-gated both ways). */
    override def handleInitialState(user: Long, snap: FunnelRow,
        tv0: org.apache.spark.sql.streaming.TimerValues): Unit = {
      snap.tc.foreach(t => minClick.update(tsToUs(t)))
      snap.tv.foreach(t => views.put(Array(tsToUs(t))))
      snap.tp.foreach(t => purchases.put(Array(tsToUs(t))))
      val seen = Seq(snap.tc, snap.tv, snap.tp).flatten.map(tsToUs)
      if (seen.nonEmpty) frontier.update(seen.max)
    }

    override def handleInputRows(user: Long, ticks: Iterator[Tick],
        tv0: org.apache.spark.sql.streaming.TimerValues): Iterator[FunnelRow] = {
      val MAX = Long.MaxValue
      val evs = ticks.toArray
      // candidates at or below the cutoff are dead unless they are the
      // current eligible witness (see class doc for the proof). The
      // frontier advances BEFORE the batch is applied: lateness is
      // measured against the newest event time this key has ever seen,
      // at batch granularity.
      val cutoffUs = maxClickLatenessUs.map { l =>
        val prev = if (frontier.exists()) frontier.get() else Long.MinValue
        val front = (prev +: evs.map(t => tsToUs(t.ts))).max
        frontier.update(front)
        front - l
      }.getOrElse(Long.MinValue)
      var tc = if (minClick.exists()) minClick.get() else MAX
      var vs = views.get().toList
      var ps = purchases.get().toList
      evs.foreach { t =>
        val us = tsToUs(t.ts)
        t.event_type match {
          // >=: a click EXACTLY maxClickLateness behind the frontier is
          // still in-contract ("MORE than the lateness behind" is dead)
          case "click" => if (us < tc && us >= cutoffUs) tc = us
          case "view" => vs ::= us
          case "purchase" => ps ::= us
          case _ =>
        }
      }
      // refine: tv = min view strictly after tc; tp = min purchase
      // strictly after tv. Prune candidates above the (monotone ↓)
      // thresholds; keep everything at or below — a future tc drop can
      // re-qualify them — except, under the lateness bound, candidates
      // at or below the cutoff (minus the witness), which no live
      // click can ever re-qualify.
      val tv = vs.filter(_ > tc).minOption.getOrElse(MAX)
      val tp = ps.filter(_ > tv).minOption.getOrElse(MAX)
      minClick.update(tc)
      // the store rejects EMPTY list writes — a fully-pruned list is a clear
      def putList(st: org.apache.spark.sql.streaming.ListState[Long], a: Array[Long]): Unit =
        if (a.isEmpty) st.clear() else st.put(a)
      putList(views, FunnelProcessor.prune(vs, tv, cutoffUs))
      putList(purchases, FunnelProcessor.prune(ps, tp, cutoffUs))
      def opt(x: Long) = if (x == MAX) None else Some(usToTs(x))
      Iterator.single(FunnelRow(user, opt(tc), opt(tv), opt(tp)))
    }
  }

  object FunnelProcessor {
    /** Keep candidates ≤ threshold (the monotone-↓ refinement bound)
      * that are above the lateness cutoff, plus the threshold witness
      * itself (the achieved tv/tp must survive for future outputs).
      * Pure — spec'd directly for the state-shrink contract. */
    private[graft] def prune(xs: List[Long], threshold: Long, cutoffUs: Long): Array[Long] =
      xs.filter(x => x <= threshold && (x > cutoffUs || x == threshold))
        .distinct.toArray
  }

  /** See [[FunnelProcessor]].
    * @param maxClickLateness opt-in clickless-state bound: clicks
    *   arriving more than this behind the user's own event-time
    *   frontier no longer refine, and dead candidates are evicted.
    *   None (default) = exact semantics, unbounded clickless state. */
  def funnelStream(stream: Dataset[Tick],
      maxClickLateness: Option[java.time.Duration] = None,
      initial: Option[Dataset[FunnelRow]] = None): Dataset[FunnelRow] = {
    import stream.sparkSession.implicits._
    val proc = new FunnelProcessor(maxClickLateness.map(_.toMillis * 1000L))
    val timeMode = org.apache.spark.sql.streaming.TimeMode.None()
    initial match {
      case Some(snap) => stream.groupByKey(_.user_id)
        .transformWithState(proc, timeMode, OutputMode.Update(),
          snap.groupByKey(_.user_id))
      case None => stream.groupByKey(_.user_id)
        .transformWithState(proc, timeMode, OutputMode.Update())
    }
  }

  /** See [[LatestProcessor]]. TimeMode.None when no TTL (pure data
    * state), ProcessingTime when a TTL is set (the store tracks expiry
    * wall-clock). Snapshot × TTL: handleInitialState writes through
    * the SAME TTL-configured state as live updates, so snapshot-seeded
    * keys expire `ttl` after the seeding batch like any other write —
    * a snapshot is a head start, not an immortal row (spec-pinned in
    * Round8Spec). */
  def latestPerKeyTtl(stream: Dataset[Tick],
      ttl: Option[java.time.Duration] = None,
      initial: Option[Dataset[Latest]] = None): Dataset[Latest] = {
    import stream.sparkSession.implicits._
    val timeMode =
      if (ttl.isDefined) org.apache.spark.sql.streaming.TimeMode.ProcessingTime()
      else org.apache.spark.sql.streaming.TimeMode.None()
    val proc = new LatestProcessor(ttl)
    initial match {
      case Some(snap) => stream.groupByKey(_.user_id)
        .transformWithState(proc, timeMode, OutputMode.Update(),
          snap.groupByKey(_.user_id))
      case None => stream.groupByKey(_.user_id)
        .transformWithState(proc, timeMode, OutputMode.Update())
    }
  }

  /** Stream-stream interval join: each trade (purchase) joins quotes
    * (views) of the same user within [trade.ts - lookback, trade.ts].
    * Reference analog: the live trader consuming option ticks joined to
    * the underlying SPX tick stream (schwab_stream.py feeds both).
    * Watermarks on BOTH sides bound the join state; the time-range
    * predicate lets Spark drop quote state older than the lookback.
    */
  def tradesWithRecentQuotes(trades: DataFrame, quotes: DataFrame,
      lookback: String = "30 minutes"): DataFrame = {
    val t = trades.withWatermark("ts", "10 minutes")
      .select(col("event_id").as("t_id"), col("user_id"),
        col("ts").as("t_ts"), col("value").as("t_value"))
    val q = quotes.withWatermark("ts", "10 minutes")
      .select(col("user_id").as("q_user"), col("ts").as("q_ts"),
        col("value").as("q_value"))
    t.join(q,
      col("user_id") === col("q_user") &&
      col("q_ts") <= col("t_ts") &&
      col("q_ts") >= col("t_ts") - expr(s"interval $lookback"))
      .drop("q_user")
  }

  case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long, closed: Boolean)
  case class SessState(start: Long, end: Long, n: Long) // start/end in epoch µs

  /** µs-exact Timestamp conversions — getTime() alone is ms and silently
    * truncates the sub-ms part real tick data carries. */
  private def tsToUs(t: java.sql.Timestamp): Long =
    t.getTime / 1000L * 1000000L + t.getNanos / 1000L
  private def usToTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(us / 1000L)
    t.setNanos(((us % 1000000L) * 1000L).toInt)
    t
  }

  /** Streaming gap-based sessionization (the stateful twin of batch
    * q15): events accumulate into a per-user session; a 30-minute
    * event-time gap closes it. An EVENT-TIME timeout at session_end +
    * gap closes and evicts idle sessions once the watermark passes, so
    * state is bounded: every session either closes on the next event's
    * gap or on watermark advance — never parked forever.
    */
  def sessionize(stream: Dataset[Tick], gapMinutes: Int = 30,
      watermarkDelay: String = "10 minutes"): Dataset[SessionOut] = {
    import stream.sparkSession.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    val gapMs = gapMinutes * 60L * 1000L
    stream
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (user: Long, ticks: Iterator[Tick], state: GroupState[SessState]) => {
          def emit(ss: SessState) = SessionOut(user,
            usToTs(ss.start), usToTs(ss.end), ss.n, closed = true)
          if (state.hasTimedOut) {
            // watermark passed session_end + gap: the gap elapsed in
            // event time with no new tick — close and evict
            val ss = state.get
            state.remove()
            Iterator.single(emit(ss))
          } else {
            val sorted = ticks.toSeq.sortBy(t => (tsToUs(t.ts), t.event_id))
            val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
            var cur = state.getOption
            sorted.foreach { t =>
              val us = tsToUs(t.ts)
              cur match {
                case Some(ss) if us - ss.end <= gapUs =>
                  cur = Some(ss.copy(end = us, n = ss.n + 1))
                case Some(ss) =>
                  out += emit(ss)
                  cur = Some(SessState(us, us, 1))
                case None =>
                  cur = Some(SessState(us, us, 1))
              }
            }
            cur.foreach { ss =>
              state.update(ss)
              // must be strictly ahead of the current watermark
              state.setTimeoutTimestamp(
                math.max(ss.end / 1000L + gapMs, state.getCurrentWatermarkMs + 1))
            }
            out.iterator
          }
        })
  }

  /** Gap-based sessionization on the `transformWithState` API with
    * EVENT-TIME TIMERS — the third leg of the modern stateful surface
    * (value/list state: [[FunnelProcessor]]; TTL: [[LatestProcessor]];
    * timers: here). Same semantics as [[sessionize]]: a 30-minute
    * event-time gap closes a session, either on the next in-gap event
    * or when the watermark passes session_end + gap (the registered
    * timer fires — no session is parked forever). One timer per key is
    * live at a time: re-registration deletes the previous one, and a
    * fired timer is ignored as stale if the session has since been
    * extended past it. Event-time timers fire on watermark advance
    * only, so bounded runs settle (the safe mode, per the
    * ProcessingTime caveat on [[latestPerKeyTtl]]).
    */
  class SessionProcessor(gapMinutes: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Tick, SessionOut] {
    private val gapUs = gapMinutes * 60L * 1000000L
    private val gapMs = gapMinutes * 60L * 1000L
    @transient private var sess: org.apache.spark.sql.streaming.ValueState[SessState] = _
    @transient private var timer: org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      val none = org.apache.spark.sql.streaming.TTLConfig.NONE
      sess = getHandle.getValueState[SessState]("session",
        org.apache.spark.sql.Encoders.product[SessState], none)
      timer = getHandle.getValueState[Long]("timer_at",
        org.apache.spark.sql.Encoders.scalaLong, none)
    }
    private def emit(user: Long, ss: SessState) =
      SessionOut(user, usToTs(ss.start), usToTs(ss.end), ss.n, closed = true)
    override def handleInputRows(user: Long, ticks: Iterator[Tick],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[SessionOut] = {
      val sorted = ticks.toSeq.sortBy(t => (tsToUs(t.ts), t.event_id))
      val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
      var cur = if (sess.exists()) Option(sess.get()) else None
      sorted.foreach { t =>
        val us = tsToUs(t.ts)
        cur match {
          case Some(ss) if us - ss.end <= gapUs =>
            cur = Some(ss.copy(end = math.max(ss.end, us), n = ss.n + 1))
          case Some(ss) =>
            out += emit(user, ss)
            cur = Some(SessState(us, us, 1))
          case None =>
            cur = Some(SessState(us, us, 1))
        }
      }
      cur.foreach { ss =>
        sess.update(ss)
        // one live timer per key, strictly ahead of the watermark
        val at = math.max(ss.end / 1000L + gapMs, tv.getCurrentWatermarkInMs + 1)
        if (!timer.exists() || timer.get() != at) {
          if (timer.exists()) getHandle.deleteTimer(timer.get())
          getHandle.registerTimer(at)
          timer.update(at)
        }
      }
      out.iterator
    }
    override def handleExpiredTimer(user: Long,
        tv: org.apache.spark.sql.streaming.TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[SessionOut] = {
      if (!sess.exists()) { timer.clear(); return Iterator.empty }
      val ss = sess.get()
      // stale timer: the session was extended past this expiry by later
      // input in the SAME batch ordering — let the live timer handle it
      if (ss.end / 1000L + gapMs > info.getExpiryTimeInMs) return Iterator.empty
      sess.clear(); timer.clear()
      Iterator.single(emit(user, ss))
    }
  }

  /** See [[SessionProcessor]]. */
  def sessionizeTws(stream: Dataset[Tick], gapMinutes: Int = 30,
      watermarkDelay: String = "10 minutes"): Dataset[SessionOut] = {
    import stream.sparkSession.implicits._
    stream.withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor(gapMinutes),
        org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Append())
  }

  /** Streaming OHLC bar construction — the reference's core stream
    * consumer (ticks → HISTORIC.MINUTE bars; here hourly to mirror the
    * batch q17). min_by/max_by on (ts, event_id) give deterministic
    * open/close under any arrival order; the watermark closes a bar
    * one delay after its hour passes, bounding state to the open bars.
    * Batch twin: TimeSeries.ohlcBars (parity-tested).
    */
  def ohlcBars(stream: DataFrame, watermarkDelay: String = "10 minutes"): DataFrame =
    stream
      .withWatermark("ts", watermarkDelay)
      .withColumn("seq", struct(col("ts"), col("event_id")))
      .groupBy(col("user_id"), window(col("ts"), "1 hour"))
      .agg(
        min_by(col("value"), col("seq")).as("open_v"),
        max(col("value")).as("high_v"),
        min(col("value")).as("low_v"),
        max_by(col("value"), col("seq")).as("close_v"),
        count(lit(1)).as("n_ticks"))
      .select(col("user_id"), col("window.start").as("bar"),
        col("open_v"), col("high_v"), col("low_v"), col("close_v"), col("n_ticks"))

  /** Streaming silver import — the on-the-wire twin of the q54 batch
    * composite (SP_IMPORT_PARQUET_OPT_DATA): parse symbols as they
    * arrive, gate to PST market hours, and maintain the
    * per-(contract, minute) best-quality mark as a watermarked windowed
    * aggregate (state bounded to open minutes). Surrogate-id assignment
    * stays batch-side (dim tables mutate transactionally, not per-tick)
    * — the stream emits natural-key series rows for the batch MERGE to
    * upsert. Shares the narrow parse/gate/rank stages with
    * operators.Silver (identical per-row semantics, parity-tested).
    *
    * @param staged streaming frame with (symbol, source, mark, ts)
    */
  def silverSeries(staged: DataFrame,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val parsed = graft.operators.Silver.gateAndRank(
      graft.operators.Silver.parseStaged(staged.withWatermark("ts", watermarkDelay)))
    // shared all-primitive-buffer aggregation (Silver.bestMarkAggs) —
    // one definition with the batch import, cannot diverge
    val aggs = graft.operators.Silver.bestMarkAggs
    parsed
      .groupBy(window(col("ts"), "1 minute"),
        col("strike"), col("cp"), col("expiry"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("strike"), col("cp"), col("expiry"),
        col("window.start").as("t"),
        col("best_rank"), graft.operators.Silver.bestMark.as("mark"),
        col("n_obs"))
  }

  case class VertOut(event_id: Long, user_id: Long, ts: java.sql.Timestamp,
      net: Double, o: Double, avg_r: Double)
  case class VertBuf(event_id: Long, ts_us: Long, value: Double)
  case class VertPend(event_id: Long, ts_us: Long, net: Double,
      avg_pre: Double, has_pre: Boolean, fol_sum4: Long, fol_cnt: Int)
  case class VertCore(frontier: Long, cutoff: Long, prev_val: Double,
      has_prev: Boolean, pre_nets4: Array[Long], roll_o4: Array[Long])

  /** Streaming verticals pipeline — the stateful twin of batch q28
    * (TimeSeries.verticalsOf: pair→net→outlier filter→clamp→rolling
    * avg). The batch query is ROW-window shaped (lag 1, 5-preceding /
    * 5-FOLLOWING means, 10-row rolling over survivors), so no
    * watermarked aggregate expresses it: the 5-FOLLOWING lookahead
    * means a row's outlier verdict is only decidable after 5 later
    * rows exist. Like funnelStream, the processor runs TimeMode.None
    * with a SELF-MANAGED per-key event-time frontier (Spark's
    * event-time mode would drop mildly-late ticks before the processor
    * sees them): arrivals buffer until they fall `maxLateness` behind
    * the key's own frontier, then settle in exact (ts, event_id) order
    * through the same arithmetic as the batch windows —
    *  - lag-1 pairing against the last settled value,
    *  - avg_pre from a ≤5 ring of scaled-DECIMAL(18,4) nets,
    *  - a FIFO of paired rows each accumulating its ≤5 following nets;
    *    a row finalizes (emits or drops) when its 5th follower settles,
    *  - survivors clamp to [0, 10] and average over a ≤10 ring of
    *    surviving o's.
    * All means use the batch's exact decimal discipline (HALF_UP scale-4
    * longs, exact sum, decimal→double, one double division), and the
    * outlier test replicates SQL three-valued logic at window edges —
    * Round12Spec proves byte-exact row parity against verticalsOf on
    * replayed (and mildly reordered) ticks.
    *
    * Contract: ticks later than `maxLateness` behind the key's frontier
    * are DROPPED (the funnel lateness trade); an `event_type == "flush"`
    * sentinel settles everything buffered and finalizes pending rows
    * with their partial followers — batch end-of-input semantics —
    * and terminates the key's timeline. State per key is bounded by
    * the tick density inside one lateness window + the ≤6-deep pending
    * FIFO + the two fixed rings.
    */
  class VertProcessor(latenessUs: Long, threshold: Double = 50.0,
      wClamp: Double = 10.0)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Tick, VertOut] {
    @transient private var core: org.apache.spark.sql.streaming.ValueState[VertCore] = _
    @transient private var buf: org.apache.spark.sql.streaming.ListState[VertBuf] = _
    @transient private var pend: org.apache.spark.sql.streaming.ListState[VertPend] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      val none = org.apache.spark.sql.streaming.TTLConfig.NONE
      core = getHandle.getValueState[VertCore]("core",
        org.apache.spark.sql.Encoders.product[VertCore], none)
      buf = getHandle.getListState[VertBuf]("buf",
        org.apache.spark.sql.Encoders.product[VertBuf], none)
      pend = getHandle.getListState[VertPend]("pend",
        org.apache.spark.sql.Encoders.product[VertPend], none)
    }

    // Spark's double→DECIMAL(18,4) cast: BigDecimal.valueOf (shortest
    // decimal repr) then HALF_UP — replicated exactly, so the scaled
    // longs sum to the same decimal the batch exchange accumulates.
    private def scale4(d: Double): Long =
      java.math.BigDecimal.valueOf(d)
        .setScale(4, java.math.RoundingMode.HALF_UP).unscaledValue().longValueExact()
    private def dec4(sum: Long): Double =
      java.math.BigDecimal.valueOf(sum, 4).doubleValue()

    // SQL three-valued logic for the edge-row outlier test (null
    // avg_pre/avg_fol), matching the batch coalesce(..., false) keep
    private def and3(a: Option[Boolean], b: Option[Boolean]): Option[Boolean] =
      if (a.contains(false) || b.contains(false)) Some(false)
      else if (a.isEmpty || b.isEmpty) None else Some(true)
    private def or3(a: Option[Boolean], b: Option[Boolean]): Option[Boolean] =
      if (a.contains(true) || b.contains(true)) Some(true)
      else if (a.isEmpty || b.isEmpty) None else Some(false)

    override def handleInputRows(user: Long, ticks: Iterator[Tick],
        tv0: org.apache.spark.sql.streaming.TimerValues): Iterator[VertOut] = {
      val evs = ticks.toArray
      val isFlush = evs.exists(_.event_type == "flush")
      val incoming = evs.filter(_.event_type != "flush")
        .map(t => VertBuf(t.event_id, tsToUs(t.ts), t.value))
      var c = if (core.exists()) core.get()
        else VertCore(Long.MinValue, Long.MinValue, 0.0, has_prev = false,
          Array.empty, Array.empty)
      val front = (c.frontier +: incoming.map(_.ts_us)).max
      // cutoff is monotone; guard the no-rows-yet underflow
      val cut =
        if (isFlush) Long.MaxValue
        else if (front == Long.MinValue) Long.MinValue
        else math.max(front - latenessUs, c.cutoff)
      // rows at or behind the PREVIOUS cutoff arrived over-late: dropped
      val live = (buf.get().map(identity).toArray ++ incoming)
        .filter(_.ts_us > c.cutoff)
      val (settle, stay) = live.partition(_.ts_us <= cut)
      val pq = scala.collection.mutable.ArrayDeque.from(pend.get().map(identity))
      val out = scala.collection.mutable.ArrayBuffer.empty[VertOut]

      def finalizeRow(p: VertPend): Unit = {
        val avgPre = if (p.has_pre) Some(p.avg_pre) else None
        val avgFol = if (p.fol_cnt > 0) Some(dec4(p.fol_sum4) / p.fol_cnt) else None
        val outlier = or3(
          and3(avgPre.map(_ - p.net > threshold), avgFol.map(_ - p.net > threshold)),
          and3(avgPre.map(p.net - _ > threshold), avgFol.map(p.net - _ > threshold))
        ).getOrElse(false)
        if (!outlier) {
          val o = math.min(math.max(p.net, 0.0), wClamp)
          val win = c.roll_o4 :+ scale4(o)
          val avgR = dec4(win.sum) / win.length
          c = c.copy(roll_o4 = win.takeRight(10))
          out += VertOut(p.event_id, user, usToTs(p.ts_us), p.net, o, avgR)
        }
      }

      settle.sortBy(r => (r.ts_us, r.event_id)).foreach { r =>
        if (c.has_prev) {
          val net = r.value - c.prev_val
          val avgPre =
            if (c.pre_nets4.nonEmpty) dec4(c.pre_nets4.sum) / c.pre_nets4.length
            else 0.0
          // feed this net to every waiting row, THEN enqueue it: fol_cnt
          // is monotone non-increasing along the FIFO, so completions
          // always pop from the head in paired order
          val n4 = scale4(net)
          for (i <- pq.indices)
            pq(i) = pq(i).copy(fol_sum4 = pq(i).fol_sum4 + n4,
              fol_cnt = pq(i).fol_cnt + 1)
          pq.append(VertPend(r.event_id, r.ts_us, net,
            avgPre, has_pre = c.pre_nets4.nonEmpty, 0L, 0))
          while (pq.nonEmpty && pq.head.fol_cnt >= 5)
            finalizeRow(pq.removeHead())
          c = c.copy(pre_nets4 = (c.pre_nets4 :+ n4).takeRight(5))
        }
        c = c.copy(prev_val = r.value, has_prev = true)
      }
      if (isFlush) {
        // batch end-of-input: finalize with however many followers exist
        pq.foreach(finalizeRow)
        pq.clear()
      }

      core.update(c.copy(frontier = front, cutoff = cut))
      def putList[T](st: org.apache.spark.sql.streaming.ListState[T],
          a: Array[T]): Unit = if (a.isEmpty) st.clear() else st.put(a)
      putList(buf, stay)
      putList(pend, pq.toArray)
      out.iterator
    }
  }

  /** See [[VertProcessor]]. */
  def verticalsStream(stream: Dataset[Tick],
      maxLateness: java.time.Duration = java.time.Duration.ofMinutes(10)
  ): Dataset[VertOut] = {
    import stream.sparkSession.implicits._
    stream.groupByKey(_.user_id)
      .transformWithState(new VertProcessor(maxLateness.toMillis * 1000L),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
  }

  // ---- q57 CEP streaming twin ---------------------------------------

  case class CepMatch(user_id: Long, start_event_id: Long,
      start_ts: java.sql.Timestamp, end_event_id: Long,
      end_ts: java.sql.Timestamp, n_mid: Int)
  case class CepBuf(event_id: Long, ts_us: Long, tag: Int)
  case class CepCore(frontier: Long, cutoff: Long, started: Boolean,
      s_ts: Long, s_id: Long, n_mid: Int)

  /** Streaming twin of batch q57 ([[graft.operators.Cep.eventPatternOf]]):
    * the `view click* purchase` CEP automaton run incrementally per
    * user — the Flink-CEP execution model. Like funnelStream /
    * verticalsStream, TimeMode.None with a SELF-MANAGED per-key
    * event-time frontier (Spark's event-time mode would drop mildly
    * late rows before the processor sees them): arrivals buffer until
    * they fall `latenessUs` behind the key's own frontier, then settle
    * through the same transition function
    * [[graft.functions.EventMatches]] runs, in exact (ts, event_id)
    * order. A match is emitted exactly once, at the micro-batch its
    * closing purchase settles in (Append mode). Ticks more than the
    * lateness behind the frontier are DROPPED (the declared-dead
    * trade); an `event_type == "flush"` sentinel settles the whole
    * buffer — batch end-of-input semantics. State per key = one
    * automaton register + the ticks inside one lateness window.
    */
  class CepProcessor(latenessUs: Long, spanUs: Long,
      startTypes: Set[String] = Set("view"),
      midTypes: Set[String] = Set("click"),
      endTypes: Set[String] = Set("purchase"))
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Tick, CepMatch] {
    @transient private var core: org.apache.spark.sql.streaming.ValueState[CepCore] = _
    @transient private var buf: org.apache.spark.sql.streaming.ListState[CepBuf] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      val none = org.apache.spark.sql.streaming.TTLConfig.NONE
      core = getHandle.getValueState[CepCore]("core",
        org.apache.spark.sql.Encoders.product[CepCore], none)
      buf = getHandle.getListState[CepBuf]("buf",
        org.apache.spark.sql.Encoders.product[CepBuf], none)
    }
    private def tagOf(et: String): Int =
      if (startTypes(et)) 0
      else if (midTypes(et)) 1
      else if (endTypes(et)) 2
      else 3
    override def handleInputRows(user: Long, ticks: Iterator[Tick],
        tv0: org.apache.spark.sql.streaming.TimerValues): Iterator[CepMatch] = {
      val evs = ticks.toArray
      val isFlush = evs.exists(_.event_type == "flush")
      val incoming = evs.filter(_.event_type != "flush")
        .map(t => CepBuf(t.event_id, tsToUs(t.ts), tagOf(t.event_type)))
      var c = if (core.exists()) core.get()
        else CepCore(Long.MinValue, Long.MinValue, started = false, 0L, 0L, 0)
      val front = (c.frontier +: incoming.map(_.ts_us)).max
      val cut =
        if (isFlush) Long.MaxValue
        else if (front == Long.MinValue) Long.MinValue
        else math.max(front - latenessUs, c.cutoff)
      // rows at or behind the PREVIOUS cutoff arrived over-late: dropped
      val live = (buf.get().map(identity).toArray ++ incoming)
        .filter(_.ts_us > c.cutoff)
      val (settle, stay) = live.partition(_.ts_us <= cut)
      val out = scala.collection.mutable.ArrayBuffer.empty[CepMatch]
      settle.sortBy(r => (r.ts_us, r.event_id)).foreach { r =>
        // EventMatches' transition function, verbatim
        val inSpan = c.started && r.ts_us - c.s_ts <= spanUs
        if (inSpan && r.tag == 2) {
          out += CepMatch(user, c.s_id, usToTs(c.s_ts), r.event_id,
            usToTs(r.ts_us), c.n_mid)
          c = c.copy(started = false)
        } else if (inSpan && r.tag == 1) {
          c = c.copy(n_mid = c.n_mid + 1)
        } else if (r.tag == 0) {
          c = c.copy(started = true, s_ts = r.ts_us, s_id = r.event_id, n_mid = 0)
        } else {
          c = c.copy(started = false)
        }
      }
      core.update(c.copy(frontier = front, cutoff = cut))
      if (stay.isEmpty) buf.clear() else buf.put(stay)
      out.iterator
    }
  }

  /** See [[CepProcessor]]. Pattern tag sets mirror
    * [[graft.operators.Cep.eventPatternOf]]'s (same disjointness
    * contract; defaults = the q57 pattern). */
  def cepStream(stream: Dataset[Tick],
      maxLateness: java.time.Duration = java.time.Duration.ofMinutes(10),
      spanUs: Long = graft.operators.Cep.SpanUs,
      startTypes: Set[String] = Set("view"),
      midTypes: Set[String] = Set("click"),
      endTypes: Set[String] = Set("purchase")): Dataset[CepMatch] = {
    import stream.sparkSession.implicits._
    stream.groupByKey(_.user_id)
      .transformWithState(new CepProcessor(maxLateness.toMillis * 1000L, spanUs,
          startTypes, midTypes, endTypes),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
  }

  // ---- q65 CEP streaming twin (AFTER MATCH SKIP TO NEXT ROW) ---------

  case class CepAttempt(s_ts: Long, s_id: Long, n_mid: Int)
  case class CepSkipCore(frontier: Long, cutoff: Long, attempts: Seq[CepAttempt])

  /** Streaming twin of batch q65
    * ([[graft.operators.Cep.eventPatternSkipToNext]]): the
    * overlapping-match automaton run incrementally per key — the same
    * buffer-and-settle discipline as [[CepProcessor]] (TimeMode.None,
    * self-managed per-key event-time frontier, over-late drops, flush
    * sentinel), but the automaton register is the LIST of open attempts
    * ([[graft.functions.EventMatches]] skipToNext mode, verbatim): a
    * start∩mid row (tag 4) advances every open attempt AND opens its
    * own; an end row closes all in-span attempts, emitting one match
    * per surviving start in start order; pure starts/others kill all;
    * overflow/expiry kill per-attempt. State per key = the open-attempt
    * list (bounded by the start rows inside one span window) + the
    * ticks inside one lateness window. */
  class CepSkipProcessor(latenessUs: Long, spanUs: Long,
      startTypes: Set[String], midTypes: Set[String], endTypes: Set[String],
      minMid: Int = 0, maxMid: Int = Int.MaxValue)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Tick, CepMatch] {
    @transient private var core: org.apache.spark.sql.streaming.ValueState[CepSkipCore] = _
    @transient private var buf: org.apache.spark.sql.streaming.ListState[CepBuf] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      val none = org.apache.spark.sql.streaming.TTLConfig.NONE
      core = getHandle.getValueState[CepSkipCore]("core",
        org.apache.spark.sql.Encoders.product[CepSkipCore], none)
      buf = getHandle.getListState[CepBuf]("buf",
        org.apache.spark.sql.Encoders.product[CepBuf], none)
    }
    private def tagOf(et: String): Int =
      if (startTypes(et) && midTypes(et)) 4
      else if (startTypes(et)) 0
      else if (midTypes(et)) 1
      else if (endTypes(et)) 2
      else 3
    override def handleInputRows(user: Long, ticks: Iterator[Tick],
        tv0: org.apache.spark.sql.streaming.TimerValues): Iterator[CepMatch] = {
      val evs = ticks.toArray
      val isFlush = evs.exists(_.event_type == "flush")
      val incoming = evs.filter(_.event_type != "flush")
        .map(t => CepBuf(t.event_id, tsToUs(t.ts), tagOf(t.event_type)))
      val c = if (core.exists()) core.get()
        else CepSkipCore(Long.MinValue, Long.MinValue, Seq.empty)
      val front = (c.frontier +: incoming.map(_.ts_us)).max
      val cut =
        if (isFlush) Long.MaxValue
        else if (front == Long.MinValue) Long.MinValue
        else math.max(front - latenessUs, c.cutoff)
      val live = (buf.get().map(identity).toArray ++ incoming)
        .filter(_.ts_us > c.cutoff)
      val (settle, stay) = live.partition(_.ts_us <= cut)
      val out = scala.collection.mutable.ArrayBuffer.empty[CepMatch]
      // EventMatches' skip-to-next transition function in its O(1)/row
      // form (see graft.functions.EventMatches.OpenAtt): a global mid
      // counter + per-attempt midAtOpen replace the per-row all-attempts
      // advance, and both eviction conditions (span expiry, overflow)
      // pop front-monotonically. The PERSISTED state keeps absolute
      // n_mid (schema unchanged, restart-compatible): restored attempts
      // enter the deque as midAtOpen = -n_mid against a counter starting
      // at 0 — they were appended in s_ts order with monotone
      // non-increasing n_mid, so midAtOpen still ascends along the deque.
      var midCount = 0L
      val open = scala.collection.mutable.ArrayDeque.empty[(Long, Long, Long)]
      c.attempts.foreach(a => open.append((a.s_ts, a.s_id, -a.n_mid.toLong)))
      settle.sortBy(r => (r.ts_us, r.event_id)).foreach { r =>
        while (open.nonEmpty && r.ts_us - open.head._1 > spanUs) open.removeHead()
        r.tag match {
          case 2 =>
            open.foreach { case (sTs, sId, midAtOpen) =>
              val nMid = midCount - midAtOpen
              if (nMid >= minMid && nMid <= maxMid)
                out += CepMatch(user, sId, usToTs(sTs), r.event_id,
                  usToTs(r.ts_us), nMid.toInt)
            }
            open.clear()
          case 1 =>
            midCount += 1
            while (open.nonEmpty && midCount - open.head._3 > maxMid.toLong)
              open.removeHead()
          case 0 =>
            open.clear()
            open.append((r.ts_us, r.event_id, midCount))
          case 4 =>
            midCount += 1
            while (open.nonEmpty && midCount - open.head._3 > maxMid.toLong)
              open.removeHead()
            open.append((r.ts_us, r.event_id, midCount))
          case _ =>
            open.clear()
        }
      }
      val kept = open.iterator.map { case (sTs, sId, midAtOpen) =>
        CepAttempt(sTs, sId, (midCount - midAtOpen).toInt)
      }.toSeq
      core.update(CepSkipCore(front, cut, kept))
      if (stay.isEmpty) buf.clear() else buf.put(stay)
      out.iterator
    }
  }

  /** See [[CepSkipProcessor]]. Defaults = the q65 pattern
    * (`view (click|view)* purchase`). */
  def cepSkipToNextStream(stream: Dataset[Tick],
      maxLateness: java.time.Duration = java.time.Duration.ofMinutes(10),
      spanUs: Long = graft.operators.Cep.SpanUs,
      startTypes: Set[String] = Set("view"),
      midTypes: Set[String] = Set("click", "view"),
      endTypes: Set[String] = Set("purchase")): Dataset[CepMatch] = {
    import stream.sparkSession.implicits._
    stream.groupByKey(_.user_id)
      .transformWithState(new CepSkipProcessor(maxLateness.toMillis * 1000L, spanUs,
          startTypes, midTypes, endTypes),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
  }

  /** Streaming exact dedup: drop re-delivered events by id within the
    * watermark horizon (at-least-once source → effectively-once sink).
    * State = seen ids inside the watermark window, evicted as event
    * time advances — bounded regardless of stream length.
    */
  def dedupStream(stream: DataFrame, watermark: String = "30 minutes"): DataFrame =
    stream.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream→parquet landing: the reference's core flow (ticks piped
    * directly into daily parquet files, tools/parquet_writer.py +
    * schwab_stream.py). foreachBatch reuses the batch daily sink, so
    * the landing layout (hive day partitions) is identical for batch
    * backfill and live streaming — one reader downstream.
    */
  def landToDailyParquet(stream: DataFrame, path: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.sources.Sinks.writeDaily(batch.toDF(), "ts", path)
      }
      .start()

  /** Streaming incremental dedup-insert: every micro-batch upserts into
    * a persistent date-partitioned historic parquet table with the
    * LEFT-JOIN-IS-NULL guard (Sinks.upsertHistoric) — the streaming
    * form of the reference's staging → anti-join vs HISTORIC → insert →
    * truncate cycle (sql/opt.sql:347-391; schwab_ohlc_service.py runs
    * it on a timer; here each micro-batch IS the cycle). The historic
    * table, not the checkpoint, is the dedup authority: a restarted
    * query — even with a fresh checkpoint replaying old input — cannot
    * re-insert rows the table already holds.
    *
    * `keys` must determine the row's day (see upsertHistoric's
    * partition-prune contract).
    */
  def dedupInsertStream(stream: DataFrame, path: String, checkpoint: String,
      keys: Seq[String], tsCol: String = "ts",
      monitor: Option[graft.ops.Monitoring.FreshnessMonitor] = None
  ): org.apache.spark.sql.streaming.StreamingQuery = {
    monitor.foreach(_.register(path))
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        // the upsert's own bounds pass returns the event-time frontier
        // (no second scan of the micro-batch source per commit; None
        // for an empty batch — proves the sink alive, moves no frontier)
        val frontier = graft.sources.Sinks.upsertHistoric(batch.toDF(), path, keys, tsCol)
        // AFTER the store committed: the gauge tracks the authority's
        // freshness, so a crash between upsert and record reads stale
        // (safe direction) rather than fresh-but-missing
        monitor.foreach(_.record(path, frontier))
      }
      .start()
  }

  /** Streaming incremental NEAR-dup dedup: every micro-batch is
    * MinHash-banded against the persisted historic band index, verified
    * with exact jaccard, and only novel content is inserted — the
    * near-dup generalization of [[dedupInsertStream]] and the streaming
    * twin of batch d22 (see graft.operators.IncrementalDedup for the
    * layout, parity and crash-safety contracts). Like dedupInsertStream,
    * the PERSISTED STORE — not the checkpoint — is the dedup authority:
    * a restart replaying old input re-derives identical labels and the
    * docs-store guard drops already-landed rows.
    */
  def nearDupInsertStream(stream: DataFrame, root: String, checkpoint: String,
      threshold: Double = 0.8, blockCols: Seq[String] = Seq("lang", "source"),
      buckets: Int = 64, bucketedIndex: Boolean = false,
      monitor: Option[graft.ops.Monitoring.FreshnessMonitor] = None
  ): org.apache.spark.sql.streaming.StreamingQuery = {
    monitor.foreach(_.register(root))
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.operators.IncrementalDedup.upsertBatch(
          batch.toDF(), root, threshold, blockCols, buckets,
          bucketedIndex = bucketedIndex)
        // doc batches carry no event-time column: commit-age gauge only
        monitor.foreach(_.record(root))
      }
      .start()
  }

  /** Streaming CURATED corpus ingestion: the full training-data intake
    * path as one sink — each micro-batch runs the stateless curation
    * gates (scrub → word floor → repetition gate → benchmark
    * decontamination, graft.operators.CorpusPipeline.curateBatch) and
    * only the survivors enter the near-dup incremental store. The
    * benchmark's gram set is computed ONCE at stream start (eval suites
    * are tiny and static; each batch's decon gate is then a broadcast
    * semi-join). Replay-idempotent like the sinks above: the gates are
    * row-deterministic, so a replayed batch re-derives the same keep
    * set and the docs-store guard anti-join drops already-landed rows.
    */
  def curatedInsertStream(stream: DataFrame, root: String, checkpoint: String,
      benchmark: Option[DataFrame] = None, minWords: Int = 5,
      maxRepFrac: Double = 1.0, threshold: Double = 0.8,
      blockCols: Seq[String] = Seq("lang", "source"), buckets: Int = 64,
      bucketedIndex: Boolean = false,
      monitor: Option[graft.ops.Monitoring.FreshnessMonitor] = None,
      qualityModel: Option[graft.operators.Classifier.Model] = None,
      bloomGate: Boolean = false
  ): org.apache.spark.sql.streaming.StreamingQuery = {
    // decon gate, chosen once at stream start. Exact (default): the
    // bench gram set is cached and each batch runs the d24 broadcast
    // semi-join — zero false positives. Bloom (`bloomGate`, the d68
    // 100 TB shape): the grams compress into ONE 512 KB plan constant
    // and each batch pays a narrow probe filter instead of shipping a
    // benchmark-sized gram table — at the price of the deterministic
    // hash-arithmetic FP set (the Bloom-gated corpus is a spec-proven
    // SUBSET of the exact-gated one; no false negatives either way).
    // Both gates are pure functions of the row, so replay idempotence
    // is identical.
    val benchBloom = if (bloomGate) benchmark.map(
      graft.operators.CorpusPipeline.benchmarkBloom(_)) else None
    // materialized once; every batch closure reuses the cached grams
    val benchGrams = if (bloomGate) None else benchmark.map { b =>
      val g = graft.operators.CorpusPipeline.benchmarkGrams(b).cache()
      g.count()
      g
    }
    monitor.foreach(_.register(root))
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val curated = graft.operators.CorpusPipeline.curateBatch(
          batch.toDF(), benchGrams, minWords, maxRepFrac, qualityModel,
          bloomBits = benchBloom)
        graft.operators.IncrementalDedup.upsertBatch(
          curated, root, threshold, blockCols, buckets,
          bucketedIndex = bucketedIndex)
        monitor.foreach(_.record(root))
      }
      .start()
  }

  /** Streaming ANN-index maintenance: each micro-batch of new
    * embeddings (vec_id, embedding) appends into a persisted IVF index
    * by assignment to the FROZEN centroids — the streaming face of
    * Similarity.appendToIvfIndex (same drift trade, same bucket-only
    * touch set). Each batch's IvfDrift gauge feeds `onDrift` (wire a
    * [[graft.ops.Monitoring.IvfDriftTracker]] to latch the evidence-
    * driven re-cluster trigger); re-clustering itself stays a
    * batch-side job (Similarity.reclusterIvfIndex) the maintenance
    * loop schedules when the tracker trips, like the dim-table
    * rebuilds in the reference's batch MERGE layer. The callback runs
    * on the stream execution thread — keep it cheap and thread-safe.
    */
  def ivfAppendStream(stream: DataFrame, cents: DataFrame, path: String,
      checkpoint: String,
      onDrift: graft.operators.Similarity.IvfDrift => Unit = _ => (),
      monitor: Option[graft.ops.Monitoring.FreshnessMonitor] = None
  ): org.apache.spark.sql.streaming.StreamingQuery = {
    monitor.foreach(_.register(path))
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        onDrift(graft.operators.Similarity.appendToIvfIndex(batch.toDF(), cents, path))
        monitor.foreach(_.record(path))
      }
      .start()
  }

  /** Streaming HARD-TRIPLET mining — continual training-data
    * generation for retrieval models (the streaming face of d71):
    * each micro-batch of (vec_id, embedding) vectors is appended into
    * the persisted IVF index (frozen centroids — appendToIvfIndex's
    * replay-idempotent store-authority append), then every batch
    * vector is mined as an ANCHOR against the post-append index:
    * strongest positive + hardest sub-threshold negative among its
    * multi-probed buckets ([[graft.operators.Similarity.hardTripletsAgainst]]).
    *
    * Contract: triplets reflect the index state AT INSERTION TIME —
    * later arrivals do not retro-update earlier anchors (the
    * training-data-as-it-streams semantics; a periodic batch re-mine
    * over the full index is the refresh path, same trade as the IVF
    * drift/re-cluster discipline). The store is a MANIFEST: every
    * processed anchor gets exactly one row, with NULL pos/neg when no
    * triplet existed at insertion time — recording the drop decision
    * is what makes redelivery exact (an anchor whose future positive
    * arrives later must NOT re-qualify; filter `pos_id IS NOT NULL`
    * for the training pairs). Replay-idempotent end to end: the index
    * append is guarded by the index itself, the mine is a
    * deterministic function of the post-append state, and
    * already-manifested anchors are anti-joined away BEFORE mining.
    *
    * The manifest is hive-partitioned by
    * `abucket = pmod(hash(anchor_id), manifestBuckets)` and the
    * restart guard reads it through [[graft.sources.Sinks.readPruned]]:
    * bucket-dir prune (only the batch's anchor buckets are listed)
    * plus per-file anchor_id footer-stats pruning against the batch's
    * id box — manifest files cluster by insertion batch, so a
    * REPLAYED batch touches exactly the files its failed attempt
    * wrote and a fresh monotone-id batch skips the entire history,
    * instead of anti-joining a manifest scan that grows with corpus
    * lifetime (the IncrementalDedup.upsertBatch guard discipline).
    * Duplicate vec_ids within a micro-batch resolve to the
    * (hash(embedding), embedding)-min row — deterministic across
    * first deliveries, where an arbitrary dropDuplicates pick would
    * freeze a nondeterministic winner into index + manifest. */
  def tripletMineStream(stream: DataFrame, cents: DataFrame,
      indexPath: String, outPath: String, checkpoint: String,
      monitor: Option[graft.ops.Monitoring.FreshnessMonitor] = None,
      manifestBuckets: Int = 64
  ): org.apache.spark.sql.streaming.StreamingQuery = {
    monitor.foreach(_.register(outPath))
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val s = batch.sparkSession
        val b = dedupVectors(batch.toDF()).localCheckpoint(eager = true)
        graft.operators.Similarity.appendToIvfIndex(b, cents, indexPath): Unit
        // ---- pruned restart guard: the manifest is the authority ---
        val outP = new org.apache.hadoop.fs.Path(outPath)
        val fs = outP.getFileSystem(s.sparkContext.hadoopConfiguration)
        // a pre-r19 store is FLAT (no abucket partition): keep writing
        // its layout (a partitioned append into a flat store leaves a
        // mixed directory neither reader can parse) and skip the
        // abucket dir prune — the anchor_id footer-box prune still
        // applies to root-level files
        val legacyStore = fs.exists(outP) &&
          !s.read.parquet(outPath).schema.fieldNames.contains("abucket")
        val novel =
          if (!fs.exists(outP)) b
          else {
            // ONE bounded driver action for both prune inputs
            // (≤ manifestBuckets ints + the id box)
            val stats = b.agg(
              collect_set(pmod(hash(col("vec_id")), lit(manifestBuckets)))
                .as("bks"),
              min(col("vec_id")).as("lo"), max(col("vec_id")).as("hi"))
              .head()
            if (stats.isNullAt(1)) b.limit(0)
            else {
              val bks = stats.getSeq[Int](0)
              val exact = 1L << 53
              // box-prune only when ids are Longs inside the exact
              // double range; otherwise degrade to a bucket-filtered
              // scan — and only filter on abucket when the store HAS
              // it (a pre-partitioned legacy manifest doesn't)
              val longIds = b.schema("vec_id").dataType ==
                org.apache.spark.sql.types.LongType
              val boxed =
                if (!longIds) None
                else {
                  val (lo, hi) = (stats.getLong(1), stats.getLong(2))
                  if (lo <= -exact || hi >= exact) None else Some((lo, hi))
                }
              val seen = boxed match {
                case Some((lo, hi)) =>
                  val keepDirs: String => Boolean =
                    if (legacyStore) _ => true
                    else bks.map(bk => s"abucket=$bk").toSet
                  graft.sources.Sinks.readPruned(s, outPath,
                      Seq(("anchor_id", lo.toDouble, hi.toDouble)), keepDirs)
                    .select("anchor_id")
                case None =>
                  val manifest = s.read.parquet(outPath)
                  val scoped =
                    if (legacyStore) manifest
                    else manifest.filter(col("abucket").isin(bks: _*))
                  scoped.select("anchor_id")
              }
              b.join(seen, col("vec_id") === seen("anchor_id"), "left_anti")
            }
          }
        if (!novel.isEmpty) {
          // full manifest: scored anchors with nullable sides, plus a
          // left join so even zero-candidate anchors get their row;
          // mining runs on NOVEL anchors only (replays skip it)
          val trips = novel.select(col("vec_id").as("anchor_id"))
            .join(graft.operators.Similarity.hardTripletsAgainst(
              novel, s.read.parquet(indexPath), cents, requireBoth = false),
              Seq("anchor_id"), "left")
          if (legacyStore)
            trips.write.mode("append").parquet(outPath)
          else {
            // repartition on the partition column FIRST (the tasks×dirs
            // tiny-file rule): one file set per insertion batch
            trips
              .withColumn("abucket",
                pmod(hash(col("anchor_id")), lit(manifestBuckets)))
              .repartition(col("abucket"))
              .write.mode("append").partitionBy("abucket").parquet(outPath)
          }
        }
        b.unpersist()
        monitor.foreach(_.record(outPath))
      }
      .start()
  }

  /** Deterministic within-batch duplicate pick for (vec_id, embedding)
    * vector batches: the (hash(embedding), embedding)-min row wins —
    * replay- and arrival-order-stable, where dropDuplicates would
    * freeze an arbitrary winner into a persisted store. */
  private def dedupVectors(batch: DataFrame): DataFrame =
    batch.select("vec_id", "embedding")
      .groupBy("vec_id")
      .agg(min(struct(hash(col("embedding")).as("h"),
        col("embedding").as("e"))).as("p"))
      .select(col("vec_id"), col("p.e").as("embedding"))

  /** Streaming k-NN NEIGHBOR-TABLE maintenance — the incremental face
    * of batch d72 ([[graft.operators.Similarity.knnGraphOf]]): each
    * micro-batch of (vec_id, embedding) vectors is appended into the
    * persisted IVF index (frozen centroids), mined for its OWN top-k
    * neighbors, and — the retro half a production neighbor table
    * needs — pushed into the lists of every EARLIER anchor whose probe
    * buckets the batch landed in. Three persisted stores:
    *
    *  - `indexPath`: the IVF index (appendToIvfIndex's store-authority
    *    append; single-assign bucket partitions).
    *  - `subPath`: the SUBSCRIPTION table, hive-partitioned by
    *    `pbucket` — each anchor appears once per probe bucket
    *    (multiAssign rows) with its embedding. "Which anchors must see
    *    a new vector in bucket B?" becomes a PARTITION-PRUNED read of
    *    `pbucket=B`, never an index scan (the guard discipline that
    *    fixed tripletMineStream, applied at write-time design).
    *  - `logPath`: an APPEND-ONLY candidate log (q_id, vec_id, cos).
    *    Per batch, each affected anchor appends its top-k of THAT
    *    batch's candidates; the current table is the
    *    [[graft.operators.Similarity.knnFromLog]] read view (max-cos
    *    dedup + bounded TopKByScore). Per-batch top-k truncation is
    *    LOSSLESS for the view: a pair in the global top-k beats fewer
    *    than k rivals globally, hence fewer than k within its own
    *    batch, so it survives its batch cut.
    *
    * Stream ≡ batch: the union of per-batch appends covers exactly the
    * [[graft.operators.Similarity.knnGraphAgainst]] candidate set
    * (insertion-time mining covers pairs whose anchor arrives last,
    * subscription retro-mining covers pairs whose candidate arrives
    * last, same-batch pairs come from insertion mining of both ends),
    * and scores are the identical frozen-centroid dot — so the read
    * view equals the one-shot batch twin row-for-row under ANY split.
    * Replay-idempotent WITHOUT a log guard: a re-delivered batch
    * appends byte-identical (q_id, vec_id, cos) rows, which collapse
    * in the view's max-cos dedup before the top-k — duplicates can
    * never occupy two slots. The index append keeps its own guard;
    * duplicate subscription rows likewise only duplicate candidate
    * rows, which collapse. Bootstrap: stream history through an empty
    * index — pre-loaded index vectors without subscription rows would
    * never gain retro updates.
    *
    * `compactEvery` > 0 runs the three store compactions in-stream
    * after every N-th micro-batch (keyed on batchId, so a replayed
    * batch re-compacts — harmless: every compaction is
    * view-identity-preserving at every crash point): compactKnnLog on
    * the candidate log, and [[graft.sources.Sinks.compactAppendOnly]]
    * on the subscription and index stores — the two stores every
    * batch re-reads, whose per-batch file accretion (not pair volume)
    * measured as 15.7 → 68.2 s per-batch wall growth over 20
    * uncompacted batches on the ScaleSmoke stage. At 0 the stores
    * grow unboundedly in files and compaction is the caller's
    * scheduler contract — all three calls are safe between batches by
    * design. */
  def knnMaintainStream(stream: DataFrame, cents: DataFrame,
      indexPath: String, subPath: String, logPath: String,
      checkpoint: String, kNeighbors: Int = 5, multiAssign: Int = 2,
      monitor: Option[graft.ops.Monitoring.FreshnessMonitor] = None,
      compactEvery: Int = 0
  ): org.apache.spark.sql.streaming.StreamingQuery = {
    monitor.foreach(_.register(logPath))
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val s = batch.sparkSession
        val Sim = graft.operators.Similarity
        val b = dedupVectors(batch.toDF()).localCheckpoint(eager = true)
        if (!b.isEmpty) {
          Sim.appendToIvfIndex(b, cents, indexPath): Unit
          // batch probe rows: (vec_id, embedding, pbucket) × multiAssign
          val probes = b.select(col("vec_id"), col("embedding"),
              explode(graft.functions.VectorExprs.nearestBuckets(
                col("embedding"), Sim.centroidSetOf(cents), multiAssign,
                cosine = false)).as("nb"))
            .select(col("vec_id"), col("embedding"),
              col("nb.bucket").as("pbucket"))
            .localCheckpoint(eager = true)
          // ---- subscription append (guarded like the manifest) ----
          val subP = new org.apache.hadoop.fs.Path(subPath)
          val fs = subP.getFileSystem(s.sparkContext.hadoopConfiguration)
          val subNovel =
            if (!fs.exists(subP)) probes
            else {
              val stats = probes.agg(
                collect_set(col("pbucket")).as("bks"),
                min(col("vec_id")).as("lo"), max(col("vec_id")).as("hi"))
                .head()
              // a non-empty batch can still probe NOTHING (all-null
              // embeddings drop in the nearestBuckets explode) — the
              // min/max unbox below would NPE the streaming query
              if (stats.isNullAt(1)) probes.limit(0)
              else {
                val bks = stats.getSeq[Int](0)
                val exact = 1L << 53
                val longIds = probes.schema("vec_id").dataType ==
                  org.apache.spark.sql.types.LongType
                val boxed =
                  if (!longIds) None
                  else {
                    val (lo, hi) = (stats.getLong(1), stats.getLong(2))
                    if (lo <= -exact || hi >= exact) None
                    else Some((lo, hi))
                  }
                val seen = boxed match {
                  case Some((lo, hi)) =>
                    graft.sources.Sinks.readPruned(s, subPath,
                        Seq(("vec_id", lo.toDouble, hi.toDouble)),
                        bks.map(bk => s"pbucket=$bk").toSet)
                      .select("vec_id", "pbucket")
                  case None =>
                    s.read.parquet(subPath)
                      .filter(col("pbucket").isin(bks: _*))
                      .select("vec_id", "pbucket")
                }
                // cut: consumed by both the isEmpty probe and the write
                // (the multi-consumed-frame rule — the anti-join's
                // pruned read must not run twice per micro-batch)
                probes.join(seen, Seq("vec_id", "pbucket"), "left_anti")
                  .localCheckpoint(eager = true)
              }
            }
          if (!subNovel.isEmpty)
            subNovel.repartition(col("pbucket"))
              .write.mode("append").partitionBy("pbucket").parquet(subPath)
          if (!(subNovel eq probes)) subNovel.unpersist()
          // ---- insertion-time mining: batch anchors vs the post-
          // append index, restricted to their probe buckets ----------
          val pbks = probes.select("pbucket").distinct()
            .collect().map(_.getInt(0)).toSeq
          val idx = s.read.parquet(indexPath)
            .filter(col("bucket").isin(pbks: _*))
            .select(col("vec_id").as("c_id"), col("embedding").as("v_b"),
              col("bucket").as("pbucket"))
          val own = probes
            .select(col("vec_id").as("q_id"), col("embedding").as("v_a"),
              col("pbucket"))
            .join(idx, Seq("pbucket"))
            .filter(col("q_id") =!= col("c_id"))
          // ---- retro mining: earlier subscribed anchors vs the
          // batch's single-assigned vectors (partition-pruned read;
          // same-batch anchors excluded — insertion mining covers
          // them, and identical re-appends would only collapse) ------
          val assigned = b.join(
            Sim.assign(b, cents).select("vec_id", "bucket"), "vec_id")
          val sbks = assigned.select("bucket").distinct()
            .collect().map(_.getInt(0)).toSeq
          val subs = s.read.parquet(subPath)
            .filter(col("pbucket").isin(sbks: _*))
            .join(b.select("vec_id"), Seq("vec_id"), "left_anti")
            .select(col("vec_id").as("q_id"), col("embedding").as("v_a"),
              col("pbucket"))
          val retro = subs.join(
              assigned.select(col("vec_id").as("c_id"),
                col("embedding").as("v_b"), col("bucket").as("pbucket")),
              Seq("pbucket"))
            .filter(col("q_id") =!= col("c_id"))
          // per-(anchor, batch) top-k append; multi-probe duplicate
          // (q, c) scores are identical, max-dedup before the cut
          def nrm(c: org.apache.spark.sql.Column) =
            sqrt(graft.functions.VectorExprs.dotF(c, c))
          val contrib = own.unionByName(retro)
            .withColumn("cos",
              graft.functions.VectorExprs.dotF(col("v_a"), col("v_b"))
                / (nrm(col("v_a")) * nrm(col("v_b"))))
            .groupBy(col("q_id"), col("c_id").as("vec_id"))
            .agg(max(col("cos")).as("cos"))
          // cut: consumed by both the isEmpty probe and the write —
          // without it the whole own∪retro mining join runs twice
          val topk = contrib
            .groupBy("q_id")
            .agg(graft.functions.TopKAgg.topKByScore(
              struct(col("cos"), col("vec_id")), kNeighbors).as("top"))
            .select(col("q_id"), explode(col("top")).as("t"))
            .select(col("q_id"), col("t.id").as("vec_id"),
              col("t.score").as("cos"))
            .localCheckpoint(eager = true)
          if (!topk.isEmpty)
            topk.write.mode("append").parquet(logPath)
          topk.unpersist()
          probes.unpersist()
        }
        b.unpersist()
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0) {
          Sim.compactKnnLog(s, logPath, kNeighbors)
          // the subscription and index stores accrete ≤ one file per
          // touched partition per batch, and BOTH are re-read every
          // batch — measured on the ScaleSmoke 20-batch stage, footer
          // scans over the accreted files (not pair volume) grew the
          // per-batch wall 15.7 → 68.2 s. compactAppendOnly is the
          // crash-safe fix (duplicates-only at every crash point —
          // both stores' consumers collapse duplicates by contract)
          graft.sources.Sinks.compactAppendOnly(s, subPath, "pbucket"): Unit
          graft.sources.Sinks.compactAppendOnly(s, indexPath, "bucket"): Unit
        }
        monitor.foreach(_.record(logPath))
      }
      .start()
  }

  /** Streaming SELF-EMBEDDING index maintenance: each micro-batch of
    * raw (doc_id, text) docs is hashed-embedded IN-ENGINE
    * (Retrieval.denseEmbedOf — the d59 bridge) and appended into the
    * persisted IVF index by frozen-centroid assignment. The glue
    * between the text intake and the ANN store: new documents become
    * searchable without any pre-embedded table. Embedding is a pure
    * row function of the batch, so the sink inherits
    * appendToIvfIndex's replay idempotence (the store-authority
    * anti-join drops already-landed vec_ids on restart replay). */
  def textEmbedIndexStream(stream: DataFrame, cents: DataFrame, path: String,
      checkpoint: String,
      onDrift: graft.operators.Similarity.IvfDrift => Unit = _ => (),
      monitor: Option[graft.ops.Monitoring.FreshnessMonitor] = None
  ): org.apache.spark.sql.streaming.StreamingQuery = {
    monitor.foreach(_.register(path))
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val emb = graft.operators.Retrieval.denseEmbedOf(
          batch.toDF().select("doc_id", "text"))
        onDrift(graft.operators.Similarity.appendToIvfIndex(emb, cents, path))
        monitor.foreach(_.record(path))
      }
      .start()
  }

  /** Streaming corpus-health monitor: each micro-batch of docs is
    * rolled up by the d47 report (volumes, mean size, exact-dup rate,
    * short-doc and duplicate-3-gram fractions per (lang, source)) and
    * appended to a stats table partitioned by batch_id. Replay-
    * idempotent the partition-overwrite way: the report is a pure
    * function of the batch, and a replayed batch OVERWRITES its own
    * batch_id partition (dynamic partition overwrite), so restarts
    * never duplicate stats rows. The between-runs d47 readout, live —
    * wire the per-batch frame into alerting by reading the latest
    * batch_id partition.
    */
  def corpusHealthStream(stream: DataFrame, path: String, checkpoint: String,
      monitor: Option[graft.ops.Monitoring.FreshnessMonitor] = None
  ): org.apache.spark.sql.streaming.StreamingQuery = {
    monitor.foreach(_.register(path))
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val report = graft.operators.CorpusStats
          .corpusReportOf(batch.toDF().select("lang", "source", "text"))
          .withColumn("batch_id", lit(batchId))
        // dynamic overwrite scoped to this write (a session conf.set
        // would leak changed overwrite semantics to later writes);
        // report is group-cardinality tiny; one file per partition dir
        report.repartition(col("batch_id"))
          .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id").parquet(path)
        monitor.foreach(_.record(path))
      }
      .start()
  }

  case class DocIn(doc_id: Long, source: String, n_tok: Int)
  case class PackedDoc(source: String, doc_id: Long, n_tok: Int,
      seq_id: Int, tok_offset: Int)
  case class PackState(seq: Int, acc: Int)

  /** Streaming greedy sequence packer — the stateful twin of batch d49
    * ([[graft.operators.Curation.sequencePackOf]]): incoming docs are
    * packed into ≤capacity-token training sequences PER SOURCE in
    * arrival order. Same greedy rule as the batch packer (accumulate
    * until the next doc would overflow, oversized docs isolate), but
    * the packing group is the source key and the packing order is
    * arrival order — streaming has no shard boundary, and a sequence
    * left open at batch end is CONTINUED by the next micro-batch, so
    * sequences never waste capacity at batch seams. State per source is
    * O(1): the open sequence's (seq_id, fill) pair. seq_id is 1-based
    * per source over the stream's lifetime. Requires the RocksDB state
    * store provider (transformWithState); TimeMode.None — settles under
    * processAllAvailable.
    */
  class PackProcessor(capacity: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, DocIn, PackedDoc] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[PackState] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[PackState]("pack",
        org.apache.spark.sql.Encoders.product[PackState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(source: String, docs: Iterator[DocIn],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[PackedDoc] = {
      var (seq, acc) =
        if (st.exists()) { val s = st.get(); (s.seq, s.acc) } else (0, 0)
      // materialize before the state write — a lazy iterator would
      // persist the PRE-batch (seq, acc) and replay-shift every later
      // batch's sequence ids
      val out = docs.map { d =>
        if (seq == 0 || acc + d.n_tok > capacity) { seq += 1; acc = 0 }
        val off = acc
        acc += d.n_tok
        PackedDoc(source, d.doc_id, d.n_tok, seq, off)
      }.toArray
      st.update(PackState(seq, acc))
      out.iterator
    }
  }

  /** See [[PackProcessor]]. */
  def packStream(stream: Dataset[DocIn], capacity: Int): Dataset[PackedDoc] = {
    import stream.sparkSession.implicits._
    stream.groupByKey(_.source)
      .transformWithState(new PackProcessor(capacity),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
  }

  /** Convenience: run a streaming query over a bounded source into a
    * memory sink and block until drained (local smoke path). */
  def runToMemory(df: DataFrame, name: String, mode: OutputMode): Unit = {
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
  }
}
