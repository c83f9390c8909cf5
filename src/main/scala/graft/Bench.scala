package graft
import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query at the target scale
  * factor and prints one JSON line.
  *
  * Queries run with modest concurrency (always 8 in flight; the c8
  * twin capture varies cores, not this): Spark's scheduler is built
  * for concurrent jobs, and the suite wall-clock is the honest
  * single-node throughput number — serial execution mostly measures
  * 76× per-query planning/codegen latency, not engine throughput.
  * Each in-flight query runs in its OWN fair-scheduler pool (set via
  * the thread-local spark.scheduler.pool property): with FAIR mode the root pool
  * schedules pools fairly against each other, so one core-saturating
  * stage can't head-of-line-block every other query's small stages.
  * (spark.scheduler.mode=FAIR alone is NOT enough: all jobs land in
  * the default pool, whose internal ordering is FIFO.)
  *
  * The suite runs TWICE in one JVM: the cold pass pays planning,
  * codegen and page-cache warmup; the warm pass is engine throughput.
  * One contended single-shot capture made round 3 look 2× slower than
  * reruns — reporting both walls makes that failure mode visible in
  * the snapshot itself. `value` stays the cold wall (comparable to
  * prior rounds); `wall` is the warm wall, repeated as the last field
  * `wall_tail` so it survives a capture that clips the tail; the
  * per-query map on the JSON line is the WARM pass. Per-query numbers
  * are latencies under concurrency (they inflate with queueing —
  * compare plan shapes, not these, across concurrency settings).
  *
  * Self-diagnostics ride the line: `probes` are the parse-only
  * q49/q53 timings over pre-materialized payload parquet (engine cost
  * with the test scaffolding factored out — see ParseProbes), run in a
  * FRESH SparkSession so two suite passes of session state can't
  * pollute them (round 7: 6.7-10s in-suite vs 1.58s solo); `cal` is a
  * fixed-cost calibration run at capture time; `ext_cores` is the
  * external CPU load integrated over the warm pass (/proc jiffy
  * deltas minus this JVM's — the gauge a bursty external load can't
  * dodge between probes — compared against a persisted quiet-machine
  * baseline, see below); and `contended` makes the call explicit —
  * when any gauge trips (cal above 1.3× the machine's quiet baseline,
  * external cores, or a warm pass that ran >= 0.9× the cold wall), the
  * warm suite re-runs once and the less-contended capture is kept.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session("spark.scheduler.mode" -> "FAIR")
    // Session warmup: executor threads, codegen compiler, parquet
    // footer reads — so init cost isn't billed to the first query.
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1).count()

    // LPT-first submission: the known-heavy entries (iterative/composed
    // pipelines) start at t=0 and the cheap per-row queries fill the
    // remaining slots, instead of a random map order that can park a
    // 9-second pipeline behind 60 sub-second queries and stretch the
    // wall by its full latency. Names absent from the hint list keep
    // map order after the hinted ones.
    val heavyFirst = Seq("d23_incremental_dedup", "d36_corpus_pipeline",
      "d56_quality_classifier", "d61_topic_clusters", "d22_dedup_pipeline",
      "d20_dup_clusters", "q54_silver_import", "d4_ngram_jaccard",
      "d69_weighted_pagerank", "d65_graph_pagerank",
      "d70_contrastive_triplets", "d71_hard_negatives", "d72_knn_graph",
      "d73_mutual_knn",
      "q53_order_legs", "d42_substr_clip", "q49_chain_flatten",
      "d45_semdedup", "d32_pq_ann", "d35_split_leakage",
      "d19_jaccard_lsh", "d11_near_dup_cosine",
      "d6_ivf_ann", "d41_exact_substr", "d31_token_budget_mix")
    // a renamed/removed entry silently dropping out of LPT ordering
    // would quietly stretch the wall — fail loudly instead
    val unresolved = heavyFirst.filterNot(SparkEntry.queries.contains)
    require(unresolved.isEmpty, s"heavyFirst names not in SparkEntry.queries: $unresolved")
    // the session's one reliable-checkpoint dir: every
    // graft.ops.Checkpoints.cut (two-level running sums, d36's eager
    // cuts, the CC loops above the driver gate) writes
    // file-backed cuts here instead of accumulating MEMORY_AND_DISK
    // blocks across the suite
    graft.ops.Checkpoints.install(spark.sparkContext,
      java.nio.file.Files.createTempDirectory("graft_bench_ckpt").toString)
    val ordered = {
      val m = SparkEntry.queries
      heavyFirst.flatMap(n => m.get(n).map(n -> _)) ++
        m.toSeq.filterNot { case (n, _) => heavyFirst.contains(n) }
    }

    // Whole-window external-load gauge: total non-idle jiffies machine-
    // wide minus THIS process's (local-mode Spark is single-JVM, so self
    // = driver + executors). A point-in-time calibration probe after the
    // suite can land in a lull of a bursty external load (measured: a
    // 32-core concurrent job inflated the warm wall 1.7× while cal read
    // a quiet 0.275) — the jiffy delta integrates over the whole pass
    // and our own saturation can't fake it. Cores of external load =
    // jiffy delta / (USER_HZ × wall); USER_HZ is 100 on this platform.
    def procBusy(): Option[(Long, Long)] =
      try {
        val tot = scala.io.Source.fromFile("/proc/stat").getLines().next()
          .trim.split("\\s+").drop(1).map(_.toLong)
        // indices 3/4 are idle/iowait; everything else is busy time
        val busyAll = tot.indices.collect { case i if i != 3 && i != 4 => tot(i) }.sum
        val self = scala.io.Source.fromFile("/proc/self/stat").mkString.trim.split(" ")
        Some((busyAll, self(13).toLong + self(14).toLong)) // utime + stime
      } catch { case _: Throwable => None }

    // IO-pressure gauge (PSI): /proc/pressure/io "full" total is the
    // µs in which NO runnable task made IO progress — the gauge that
    // catches the thief the other three can't: page-cache writeback /
    // disk contention steals wall time while cal reads quiet (a single
    // CPU core is free), ext_cores reads 0 (no external jiffies), and
    // warm still learns from cold. Measured: a capture right after an
    // 8 GB parquet generation read wall 25.6 s vs 11 s quiet with every
    // other gauge green. Our own shuffle IO barely registers on "full"
    // (some task is almost always compute-runnable), so a high
    // fraction over the pass is external pressure.
    def psiFullUs(kind: String): Option[Long] =
      try {
        scala.io.Source.fromFile(s"/proc/pressure/$kind").getLines()
          .find(_.startsWith("full")).flatMap(_.split("\\s+")
            .find(_.startsWith("total=")).map(_.stripPrefix("total=").toLong))
      } catch { case _: Throwable => None }
    // io + memory full-stall combined: reclaim churn after a big write
    // shows up as memory pressure, not io
    def psiIoFullUs(): Option[Long] =
      (psiFullUs("io"), psiFullUs("memory")) match {
        case (Some(a), Some(b)) => Some(a + b)
        case (a, b)             => a.orElse(b)
      }

    def runSuite(): (Seq[(String, Double, Boolean)], Double, Double, Double) = {
      val pool = Executors.newFixedThreadPool(8)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val busy0 = procBusy()
      val io0 = psiIoFullUs()
      val wall0 = System.nanoTime()
      val futures = ordered.map { case (name, fn) =>
        Future {
          // per-query fair pool (thread-local property, inherited by
          // all jobs this query submits from this thread)
          spark.sparkContext.setLocalProperty("spark.scheduler.pool", name)
          val t0 = System.nanoTime()
          val ok = try { fn(spark, sfDir).count(); true } catch { case _: Throwable => false }
          (name, (System.nanoTime() - t0) / 1e9, ok)
        }
      }
      val results = Await.result(Future.sequence(futures), Duration.Inf)
      val wall = (System.nanoTime() - wall0) / 1e9
      pool.shutdown()
      val extCores = (busy0, procBusy()) match {
        case (Some((a0, s0)), Some((a1, s1))) =>
          math.max(0.0, ((a1 - a0) - (s1 - s0)) / (100.0 * wall))
        case _ => -1.0
      }
      val ioStall = (io0, psiIoFullUs()) match {
        case (Some(a), Some(b)) => math.max(0.0, (b - a) / 1e6 / wall)
        case _ => -1.0
      }
      (results, wall, extCores, ioStall)
    }

    // Fixed-cost calibration, measured AT CAPTURE TIME: a driver-local
    // sum over 100M longs costs a near-constant slice of one core, so
    // an inflated `cal` in the snapshot means the capture itself ran
    // contended (the round-3/round-5 cold-wall artifact) — the JSON
    // line carries its own credibility check. Min of three probes: a
    // one-off GC pause or scheduler hiccup inflates ONE probe, while
    // real contention slows all three — so the min reads the machine,
    // not the luck of a single 0.3s window.
    def calOnce(s: SparkSession): Double =
      try {
        Seq.fill(3) {
          val t0 = System.nanoTime()
          s.range(100000000L).selectExpr("sum(id)").collect()
          (System.nanoTime() - t0) / 1e9
        }.min
      } catch { case _: Throwable => -1.0 }

    val (cold, wallCold, _, _) = runSuite()
    var (warm, wallWarm, ext, io) = runSuite()
    var cal = calOnce(spark)
    // Self-defense against contended captures: round 7's official
    // artifact read a 76s wall with cal 0.983 (vs 0.22-0.36 quiet) —
    // external load, not a regression, but the number entered the
    // record. Round 10's was worse: wall 43.3s with warm == cold and
    // cal 0.392 — under the old absolute 0.5 trip, and ext_cores read
    // 0.0 because the thief wasn't visible as /proc jiffies (cgroup
    // throttling or I/O). Three gauges now:
    //   - `cal` vs a PERSISTED quiet-machine baseline (tiny JSON next
    //     to the bench): trips at 1.3× the machine's own quiet number
    //     instead of an absolute 0.5 that a 4×-inflated capture can
    //     sit under. Absolute 0.5 stays as the no-baseline fallback
    //     and upper bound. The baseline is the MEDIAN of a rolling
    //     history of recent quiet readings, not the min-ever: round 11
    //     found a single lucky 0.108 probe had pinned the trip line at
    //     0.14 — below the machine's OWN quiet range (0.22-0.36) — so
    //     every honest capture self-flagged contended. The history
    //     appends whenever the absolute gauges read quiet (ext clean,
    //     warm learned from cold, cal under 0.5), so it keeps adapting
    //     even while the relative gauge trips; the median over 8 shrugs
    //     off both lucky minima and mildly-loaded maxima.
    //   - `ext_cores` integrated over the warm pass (bursty loads).
    //   - warm >= 0.9× cold: a warm pass that learned NOTHING from the
    //     cold pass's planning/codegen/page-cache warmup is itself
    //     evidence the window was stolen (quiet captures run ~0.5×).
    //   - `io_stall` (PSI full-IO fraction over the warm pass): the
    //     invisible-theft gauge — writeback/disk pressure inflates the
    //     wall while cal stays quiet, ext reads 0 and warm still
    //     learns (measured 25.6 s vs 11 s quiet with the other three
    //     green, right after a multi-GB parquet generation).
    // If any gauge trips, re-run the warm suite ONCE and keep the
    // less-contended capture; either way the line carries `contended`
    // so downstream tooling never mistakes a loaded snapshot for a
    // measurement.
    val CalThreshold = 0.5
    val ExtCoresThreshold = 2.0
    val baselinePath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_CAL_BASELINE", "tools/bench_cal_baseline.json"))
    // Rolling history of quiet cal readings; {"cal":x} legacy files
    // load as a one-entry history. Baseline = median.
    val calHistory: Seq[Double] =
      try {
        val s = new String(java.nio.file.Files.readAllBytes(baselinePath), "UTF-8")
        val hist = """"cals"\s*:\s*\[([0-9.,eE+\-\s]*)\]""".r.findFirstMatchIn(s)
          .map(_.group(1).split(",").map(_.trim).filter(_.nonEmpty).map(_.toDouble).toSeq)
        hist.getOrElse(
          """"cal"\s*:\s*([0-9.eE+-]+)""".r.findFirstMatchIn(s)
            .map(m => Seq(m.group(1).toDouble)).getOrElse(Seq.empty))
      } catch { case _: Throwable => Seq.empty }
    val calBaseline: Option[Double] = {
      val h = calHistory.filter(_ > 0).sorted
      if (h.isEmpty) None else Some(h(h.size / 2))
    }
    def calTrip(c: Double): Boolean = c >= 0 && (calBaseline match {
      case Some(b) if b > 0 => c > 1.3 * b || c > CalThreshold
      case _                => c > CalThreshold
    })
    val IoStallThreshold = 0.10
    def warmAnomaly(w: Double): Boolean = wallCold > 0 && w >= 0.9 * wallCold
    def loaded(c: Double, e: Double, w: Double, i: Double) =
      calTrip(c) || e > ExtCoresThreshold || warmAnomaly(w) ||
        i > IoStallThreshold
    // Re-capture band is WIDER than the contended flag: a warm wall
    // just under the 0.9× trip (r18 shipped 0.898 that re-read 14.7 s
    // vs 22.4 minutes later) is already a suspect snapshot — worth a
    // bounded retry, not worth flagging if it holds.
    def suspect(w: Double): Boolean = wallCold > 0 && w >= 0.85 * wallCold
    // Bounded retry loop (≤2 re-runs, r19): the r18 official artifact
    // shipped contended despite four quiet captures existing, because
    // ONE retry hit the same load window. Before each retry, sync the
    // page cache and settle — the io_stall thief (writeback/reclaim
    // after big parquet writes) drains in seconds, and a CPU thief
    // gets a window to finish.
    var retries = 0
    // A workload whose warm/cold ratio is STRUCTURALLY above 0.85 would
    // otherwise pay 2 extra suite runs + sleeps on every capture: when a
    // suspect-only trip's re-run is itself gauge-clean and reproduces
    // the wall within the 5% comparability band, the ratio is the
    // workload, not load — stop retrying (ADVICE r19).
    var suspectSettled = false
    while ((loaded(cal, ext, wallWarm, io) ||
        (suspect(wallWarm) && !suspectSettled)) && retries < 2) {
      val suspectOnly = !loaded(cal, ext, wallWarm, io)
      retries += 1
      try {
        new ProcessBuilder("sync").inheritIO().start().waitFor(): Unit
        Thread.sleep(8000)
      } catch { case _: Throwable => () }
      val (warm2, wallWarm2, ext2, io2) = runSuite()
      val cal2 = calOnce(spark)
      // "less contended" judged on whichever gauge can actually compare
      // the two captures: ext when both sides measured it and they
      // differ meaningfully; else the warm wall itself when one side is
      // meaningfully faster (the direct evidence for a warm-anomaly
      // trip); else cal (a cal-only trip — or a platform with no /proc
      // — must still be able to accept a cleaner re-run); else prefer
      // the capture that HAS an ext reading at all.
      val extComparable = ext >= 0 && ext2 >= 0 && math.abs(ext2 - ext) > 0.1
      val ioComparable = io >= 0 && io2 >= 0 && math.abs(io2 - io) > 0.05
      val wallComparable = math.abs(wallWarm2 - wallWarm) > 0.05 * math.max(wallWarm, wallWarm2)
      val calComparable = cal >= 0 && cal2 >= 0
      if (suspectOnly && !wallComparable &&
          !loaded(cal2, ext2, wallWarm2, io2))
        suspectSettled = true
      val keepRerun =
        if (extComparable) ext2 < ext
        else if (ioComparable) io2 < io
        else if (wallComparable) wallWarm2 < wallWarm
        else if (calComparable) cal2 < cal
        else ext2 >= 0 && ext < 0
      if (keepRerun) {
        warm = warm2; wallWarm = wallWarm2
        if (ext2 >= 0) ext = ext2
        if (cal2 >= 0) cal = cal2
        if (io2 >= 0) io = io2
      }
    }
    val contended = loaded(cal, ext, wallWarm, io)
    // The history appends on ABSOLUTE quiet (ext clean, warm learned
    // from cold, cal under the hard 0.5) — deliberately not on the
    // relative cal gauge, or a stale-low history could never recover:
    // the relative trip would veto every append that would fix it. A
    // truly loaded capture still can't poison the history (it fails
    // the absolute gauges), and one mildly-inflated entry moves an
    // 8-deep median by at most one rank.
    val absoluteQuiet = cal >= 0 && cal <= CalThreshold &&
      ext <= ExtCoresThreshold && !warmAnomaly(wallWarm) &&
      io <= IoStallThreshold
    if (absoluteQuiet)
      try {
        val hist = (calHistory :+ cal).takeRight(8)
        if (baselinePath.getParent != null) java.nio.file.Files.createDirectories(baselinePath.getParent)
        java.nio.file.Files.write(baselinePath,
          hist.map(c => "%.3f".formatLocal(java.util.Locale.ROOT, c))
            .mkString("""{"cals":[""", ",", "]}").getBytes("UTF-8"))
      } catch { case _: Throwable => () }
    val errs = (cold ++ warm).collect { case (k, _, false) => "\"" + k + "\"" }
      .distinct.mkString("[", ",", "]")
    spark.stop()

    // Parse-only probes (q49/q53 minus their payload-BUILD scaffolding):
    // materialize the payload parquet once, then time parse+flatten
    // alone — the engine cost a 100 TB deployment actually pays. Run in
    // a FRESH SparkSession: round 7's in-suite probes read 6.7-10s for
    // q53_parse vs 1.58s solo (same code/data) — two suite passes
    // leave the session hot with catalog entries, the reliable-
    // checkpoint dir's ContextCleaner churn, and cached/evicted blocks,
    // and the probes inherited all of it. A fresh session measures the
    // engine, matching what a solo probe reports. Second (warm) run is
    // the number. Failure-isolated (-1, never a lost line): a probe crash
    // must not discard two completed suite passes.
    val probes: Seq[(String, Double)] =
      try {
        val ps = Harness.session()
        try {
          ParseProbes.prepare(ps, sfDir, ParseProbes.names).toSeq.sortBy(_._1)
            .map { case (name, fn) =>
              def once(): Double = {
                val t0 = System.nanoTime()
                fn().count()
                (System.nanoTime() - t0) / 1e9
              }
              // one cold run pays the fresh session's codegen/JIT, then
              // min of two warm runs — a single warm pass still jittered
              // ~2× across captures (GC from the stopped suite session)
              (name, try { once(); math.min(once(), once()) }
                catch { case _: Throwable => -1.0 })
            }
        } finally ps.stop()
      } catch { case _: Throwable => ParseProbes.names.map(_ -> -1.0) }
    // A failed query reports -1, never a wall-clock that looks like a pass.
    // Values are truncated to 3 decimals and only ONE per-query map
    // (the warm pass) goes on the JSON line: round 4's line carried
    // both passes at full double precision (~6 kB), overflowed the
    // driver's tail capture, and the snapshot failed to parse — the
    // compact line must fit the capture window WHOLE.
    def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def fmt(rs: Seq[(String, Double, Boolean)]): String =
      rs.map { case (k, v, ok) => s"\"" + k + "\":" + (if (ok) f3(v) else "-1") }
        .mkString("{", ",", "}")
    val probesJson = probes.map { case (k, v) => s"\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    // Truncation-proof field order (r20 verdict: the r19 capture clipped
    // the line's TAIL and lost every headline field behind the 142-entry
    // per-query map): ALL contract fields — value/wall_cold/wall/cal/
    // contended/... — lead the object and the bulky per-query map goes
    // last, so a clipped capture costs per-query detail, never the
    // headline. The warm wall is ALSO repeated as the very last field,
    // `wall_tail` (a distinct key: strict JSON parsers reject duplicate
    // keys), because r3-era captures clipped the HEAD instead —
    // either truncation direction now keeps the headline.
    println(s"""{"metric":"total","value":${f3(wallCold)},"unit":"sec","pass":"warm","wall_cold":${f3(wallCold)},"wall":${f3(wallWarm)},"cal":${f3(cal)},"ext_cores":${f3(ext)},"io_stall":${f3(io)},"contended":$contended,"retries":$retries,"sf":"$sfDir","errors":$errs,"probes":$probesJson,"queries":${fmt(warm)},"wall_tail":${f3(wallWarm)}}""")
  }
}
