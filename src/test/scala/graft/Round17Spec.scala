package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.OutputMode
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.streaming.EventStream

/** Round 17: randomized differential + restart discipline for the
  * STREAMING CEP twin (CepProcessor) with q65's overlap sets, extending
  * the batch machine's 400-case PropertySpec to the stateful path:
  * random tag streams, micro-batch splits, and one mid-stream
  * stop/restart from the checkpoint — output must equal batch
  * `eventPatternOf` with the same sets exactly. Two arrival regimes
  * exercise the two state legs:
  *   (a) shuffled arrival + huge lateness: rows ride the CepBuf list
  *       across batches AND the restart, settling only at flush;
  *   (b) in-order arrival + zero lateness: every batch settles
  *       immediately, so OPEN ATTEMPTS persist in CepCore across
  *       the restart (the CepMachine.reopen leg).
  */
class Round17Spec extends SparkSpec {

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(900L + i)))

  test("cepStream with q65's sets: random streams + micro-batch splits + restart == batch") {
    val k = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(k)
    spark.conf.set(k,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import spark.implicits._

      val types = Map(4 -> "view", 1 -> "click", 2 -> "purchase", 3 -> "other")
      val gen = for {
        n <- Gen.choose(20, 90)
        spanMs <- Gen.oneOf(2L, 5L, 50L)
        tags <- Gen.listOfN(n, Gen.frequency(3 -> 4, 3 -> 1, 2 -> 2, 1 -> 3))
        users <- Gen.listOfN(n, Gen.choose(1L, 4L))
        gapsMs <- Gen.listOfN(n, Gen.choose(0L, 3L))
      } yield (spanMs, tags.lazyZip(users).lazyZip(gapsMs).toList)

      def runCase(caseIdx: Int, spanMs: Long,
          evs: List[(Int, Long, Long)], ordered: Boolean): Int = {
        var ts = 1000L
        val ticks = evs.zipWithIndex.map { case ((tag, user, gap), i) =>
          // regime (b) needs strictly increasing ts or a settled tie
          // arriving in the NEXT batch would be cut off (lateness 0)
          ts += (if (ordered) gap + 1 else gap)
          EventStream.Tick(i.toLong, new Timestamp(ts), user, types(tag), 0.0)
        }
        val batchDf = ticks
          .map(t => (t.user_id, t.ts, t.event_id, t.event_type))
          .toDF("user_id", "ts", "event_id", "event_type")
        val want = operators.Cep.eventPatternOf(batchDf,
            spanUs = spanMs * 1000L, midTypes = Seq("click", "view"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getInt(5)))
          .sortBy(m => (m._1, m._2, m._3)).toSeq

        val arrival =
          if (ordered) ticks.sortBy(t => (t.ts.getTime, t.event_id))
          else ticks.sortBy(t => sources.TickSource.mix(caseIdx.toLong, t.event_id))
        val flush = ticks.map(_.user_id).distinct.map(u =>
          EventStream.Tick(-1L, new Timestamp(4102444800000L), u, "flush", 0.0))
        // 3 pre-restart batches, stop, restart from the checkpoint,
        // 2 more + flush — foreachBatch keyed by batchId so a replayed
        // batch cannot double-count
        val chunks = arrival.grouped(math.max(1, arrival.size / 5 + 1)).toSeq
        val (before, after) = chunks.splitAt(3)
        val ckpt = java.nio.file.Files
          .createTempDirectory(s"graft_cep17_$caseIdx").toString
        val got = new java.util.concurrent.ConcurrentHashMap[
          Long, Seq[(Long, Long, Long, Int)]]()
        implicit val sc = spark.sqlContext
        val input = MemoryStream[EventStream.Tick]
        def start() = EventStream
          .cepStream(input.toDS(),
            maxLateness = if (ordered) java.time.Duration.ZERO
              else java.time.Duration.ofDays(3650),
            spanUs = spanMs * 1000L, midTypes = Set("click", "view"))
          .toDF()
          .writeStream.outputMode(OutputMode.Append)
          .option("checkpointLocation", ckpt)
          .foreachBatch { (df: DataFrame, id: Long) =>
            got.put(id, df.collect().map(r =>
              (r.getLong(0), r.getLong(1), r.getLong(3), r.getInt(5))).toSeq)
            ()
          }.start()
        val q1 = start()
        before.foreach { c => input.addData(c); q1.processAllAvailable() }
        q1.stop()
        val q2 = start()
        (after :+ flush).foreach { c => input.addData(c); q2.processAllAvailable() }
        q2.stop()
        val gotAll = got.values().toArray.flatMap(
            _.asInstanceOf[Seq[(Long, Long, Long, Int)]])
          .sortBy(m => (m._1, m._2, m._3)).toSeq
        assert(gotAll == want,
          s"case=$caseIdx ordered=$ordered span=${spanMs}ms: " +
            s"stream ${gotAll.size} != batch ${want.size}")
        want.size
      }

      val cases = samples(gen, 6)
      assert(cases.size >= 5, "generator under-delivered")
      // the differential is vacuous unless the batch side actually
      // produces matches — require a healthy total across cases
      var totalMatches = 0
      cases.zipWithIndex.foreach { case ((spanMs, evs), i) =>
        totalMatches += runCase(i * 2, spanMs, evs, ordered = false)
        totalMatches += runCase(i * 2 + 1, spanMs, evs, ordered = true)
      }
      assert(totalMatches >= 10,
        s"fixture rot: only $totalMatches matches across all cases")
    } finally prev match {
      case Some(p) => spark.conf.set(k, p)
      case None => spark.conf.unset(k)
    }
  }
}
