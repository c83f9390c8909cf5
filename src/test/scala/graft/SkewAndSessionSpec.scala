package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.operators.SkewOps
import graft.streaming.EventStream
import graft.streaming.EventStream.Tick

class SkewAndSessionSpec extends SparkSpec {

  test("salted aggregation equals direct aggregation") {
    val ev = Tables.events(spark, sf)
    val salted = SkewOps.saltedSumCount(ev, "user_id", "value", 8)
      .withColumnRenamed("sum_value", "s_sum").withColumnRenamed("cnt", "s_cnt")
    val direct = ev.groupBy("user_id")
      .agg(sum("value").as("d_sum"), count(lit(1)).as("d_cnt"))
    val j = salted.join(direct, "user_id")
    assert(j.count() == direct.count())
    assert(j.filter(abs(col("s_sum") - col("d_sum")) > 1e-9).count() == 0)
    assert(j.filter(col("s_cnt") =!= col("d_cnt")).count() == 0)
  }

  test("skew join equals plain join on hot + cold keys") {
    val facts = Tables.orders(spark, sf).select("o_orderkey", "o_custkey", "o_totalprice")
    val dim = Tables.customer(spark, sf).select("c_custkey", "c_mktsegment")
      .withColumnRenamed("c_custkey", "o_custkey")
    val hot = Seq(0L, 1L, 2L)
    val plain = facts.join(dim, "o_custkey")
    val skewed = SkewOps.skewJoin(facts, dim, "o_custkey", hot, 4)
    assert(skewed.count() == plain.count())
    assert(skewed.select(dim.columns.head, "o_orderkey")
      .exceptAll(plain.select(dim.columns.head, "o_orderkey")).count() == 0)
  }

  test("streaming sessionize closes sessions on gap; matches batch session count for closed ones") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val batch = Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Tick].collect().toSeq.sortBy(t => (t.ts.getTime, t.event_id))
    val input = MemoryStream[Tick]
    input.addData(batch)
    EventStream.runToMemory(
      EventStream.sessionize(input.toDS()).toDF(), "sess_out", OutputMode.Append)
    val closed = spark.table("sess_out")
    // batch sessionizer counts all sessions; streaming closes a session
    // on the next event's gap OR on event-time timeout once the final
    // watermark passes session_end + gap. So: at least every non-final
    // session per user closes, at most all of them do (a user's last
    // session also closes if it ended > gap+delay before the stream max).
    val batchSessions = SparkEntry.queries("q15_sessionize")(spark, sf)
    val users = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(closed.count() >= batchSessions.count() - users)
    assert(closed.count() <= batchSessions.count())
    // every closed streaming session is exactly a batch session:
    // same (user, start, end, n_events)
    val match_ = closed.join(batchSessions,
      closed("user_id") === batchSessions("user_id") &&
      closed("session_start") === batchSessions("t_start") &&
      closed("session_end") === batchSessions("t_end") &&
      closed("n_events") === batchSessions("n_events"))
    assert(match_.count() == closed.count())
    // session boundaries respect the gap: no two closed sessions of a
    // user overlap
    val a = closed.select(col("user_id"), col("session_start").as("sa"),
      col("session_end").as("ea"))
    val b = closed.select(col("user_id").as("user_id_b"),
      col("session_start").as("sb"))
    val overlaps = a.join(b,
      col("user_id") === col("user_id_b") &&
      col("sa") < col("sb") && col("ea") >= col("sb")).count()
    assert(overlaps == 0)
  }
}
