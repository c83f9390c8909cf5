package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Complex-event-processing (MATCH_RECOGNIZE-style) pattern matching —
  * the SQL:2016 / Flink-CEP / Trino feature Spark has no built-in for.
  *
  * q57: per user, over the time-ordered event stream, find greedy
  * non-overlapping matches of `view click* purchase` completing within
  * [[SpanHours]] of the opening view (AFTER MATCH SKIP PAST LAST ROW;
  * a new view restarts the attempt, any other non-matching row or
  * span expiry abandons it). Reference analog: the funnel/session SPs
  * over the events feed (stream.py's monitor classifies event chains
  * the same per-key ordered way).
  *
  * Oracle bound: the recursive-CTE oracle steps one event per
  * iteration per user, so its feasible depth is the max per-user event
  * count — fine through sf0.1/10× (≤ 700), infeasible at the 40× dir
  * (27k; killed at 85 CPU-minutes — DuckDB materializes every
  * iteration, the d20-at-40× class of oracle-infrastructure limit).
  * Beyond that the gate is the driver-side reference automaton
  * parity spec.
  *
  * One automaton, [[graft.functions.CepMachine]], runs every pattern of
  * the family (q57, q64, q65) in batch here and in the stream
  * (`graft.streaming.EventStream.cepStream`); the tag sets alone decide
  * whether matches can overlap.
  *
  * Scale shape: the per-key ordered scan IS the canonical CEP
  * execution model (Flink runs exactly this automaton per key);
  * the distribution axis is the key — one hash shuffle on user_id,
  * then each group is a single tight-loop pass inside
  * [[graft.functions.EventMatches]] (codegen-adjacent, no window, no
  * per-row driver logic, matches materialized once via the explode
  * generator). Group size is the per-user event count; a pathological
  * key can be chunked on span-aligned time buckets (matches span
  * ≤ SpanHours, so buckets overlapping by one span are lossless) —
  * not needed at any tested scale.
  */
object Cep {
  val SpanHours = 48
  val SpanUs: Long = SpanHours.toLong * 3600L * 1000000L

  def eventPattern(s: SparkSession, d: String): DataFrame =
    eventPatternOf(Tables.events(s, d))

  /** q64 registered entry: bounded-quantifier CEP with start
    * alternation — `(view|signup) click{1,2} purchase` within the span.
    * Exercises both round-13 quantifier extensions on the SAME
    * automaton: the start SET is q57's existing alternation
    * generalized past one type, and the `{1,2}` bound adds mid
    * overflow/underflow kill states ([[graft.functions.CepMachine]]
    * minMid/maxMid). Oracle = the q57 recursive-CTE machine with the
    * two extra transitions replayed. */
  def eventPatternBounded(s: SparkSession, d: String): DataFrame =
    eventPatternOf(Tables.events(s, d),
      startTypes = Seq("view", "signup"), minMid = 1, maxMid = 2)

  /** q65 registered entry: AFTER MATCH SKIP TO NEXT ROW (SQL:2016's
    * overlapping-match mode) — `view (click|view)* purchase` within the
    * span. The start type is ALSO a mid type, so a match's interior can
    * hold later starts whose own matches share the same closing
    * purchase; skip-to-next emits all of them where q57's disjoint
    * sets leave one open attempt at a time. Oracle: pure window
    * SQL, no recursion — for each view, the FIRST following
    * non-(click|view) row; a match iff that boundary is an in-span
    * purchase (all interior rows are mids by construction, so
    * n_mid = boundary_rn - start_rn - 1). */
  def eventPatternSkipToNext(s: SparkSession, d: String): DataFrame =
    eventPatternOf(Tables.events(s, d),
      midTypes = Seq("click", "view"))

  /** The tag-set contract of the batch core and the stream: start and
    * end non-empty, end disjoint from start∪mid. A start∩mid type tags
    * 4 (start-or-mid, see [[graft.functions.CepMachine]]). */
  def requireTagSets(startTypes: Seq[String], midTypes: Seq[String],
      endTypes: Seq[String]): Unit =
    require(startTypes.nonEmpty && endTypes.nonEmpty &&
      endTypes.intersect(startTypes ++ midTypes).isEmpty,
      "start/end non-empty, end disjoint from start∪mid")

  /** Core of [[eventPattern]]; expects (user_id, ts, event_id,
    * event_type) columns. The pattern is `start mid{minMid,maxMid} end`
    * over arbitrary event-type sets (defaults = q57's
    * view/click/purchase), run by [[graft.functions.CepMachine]]:
    * disjoint sets give q57's non-overlapping matches, a start type
    * that is also a mid gives q65's overlapping ones.
    */
  def eventPatternOf(events: DataFrame, spanUs: Long = SpanUs,
      startTypes: Seq[String] = Seq("view"),
      midTypes: Seq[String] = Seq("click"),
      endTypes: Seq[String] = Seq("purchase"),
      minMid: Int = 0, maxMid: Int = Int.MaxValue): DataFrame = {
    requireTagSets(startTypes, midTypes, endTypes)
    val midCond =
      if (midTypes.isEmpty) lit(false) else col("event_type").isin(midTypes: _*)
    val startCond = col("event_type").isin(startTypes: _*)
    events
      .select(col("user_id"), struct(col("ts"), col("event_id"),
        when(startCond && midCond, 4)
          .when(startCond, 0)
          .when(midCond, 1)
          .when(col("event_type").isin(endTypes: _*), 2)
          .otherwise(3).as("tag")).as("e"))
      .groupBy("user_id")
      .agg(sort_array(collect_list(col("e"))).as("evs"))
      .select(col("user_id"),
        explode(graft.functions.VectorExprs.eventMatches(
          col("evs"), spanUs, minMid, maxMid)).as("m"))
      .select(col("user_id"),
        col("m.start_event_id").as("start_event_id"), col("m.start_ts").as("start_ts"),
        col("m.end_event_id").as("end_event_id"), col("m.end_ts").as("end_ts"),
        col("m.n_mid").as("n_mid"))
      .orderBy("user_id", "start_event_id")
  }
}
