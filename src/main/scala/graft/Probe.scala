package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** Per-entry probe over registered entries, one JVM for a whole list.
  *
  *   sbt "runMain graft.Probe time <entries|all> [sfDir]"
  *   sbt "runMain graft.Probe plan <entries|all> [sfDir] [outDir]"
  *
  * `entries` is a comma-separated list of SparkEntry.queries names
  * (`time` also takes the ParseProbes names) or `all`; sfDir defaults
  * to SPARK_GRAFT_SF_DIR. Unknown names fail before any query runs.
  *
  * `time` runs each entry serially, one cold pass then the minimum of
  * [[WarmReps]] warm passes (footers, codegen and JIT warm, one-off
  * scheduling noise shed), and ends with one `warm_serial_sum` JSON
  * line. A failing entry reports -1, never a time that looks like a
  * pass. `plan` prints one red-flag audit line per entry (cartesian and
  * nested-loop joins, sort-merge joins, missing parquet pushdown,
  * exchange counts) and, given `outDir`, writes each entry's
  * `explain("formatted")` to `outDir/<entry>.txt`.
  */
object Probe {
  val WarmReps = 3

  def main(args: Array[String]): Unit = {
    val usage = "usage: graft.Probe time <entries|all> [sfDir] | " +
      "graft.Probe plan <entries|all> [sfDir] [outDir]"
    require(args.length >= 2 && Set("time", "plan").contains(args(0)), usage)
    val sfDir = args.lift(2).orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(throw new IllegalArgumentException(usage))
    val spark = Harness.session()
    try {
      if (args(0) == "time") time(spark, args(1), sfDir)
      else plan(spark, args(1), sfDir, args.lift(3))
    } finally spark.stop()
  }

  /** Names from a comma list or `all` (every registered entry, sorted). */
  private def resolve(entries: String, extra: Seq[String]): Seq[String] = {
    val names =
      if (entries == "all") SparkEntry.queries.keys.toSeq.sorted
      else entries.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = names.filterNot(n => SparkEntry.queries.contains(n) || extra.contains(n))
    require(names.nonEmpty, "no entries given")
    require(unknown.isEmpty, s"unknown entries: ${unknown.mkString(",")}")
    names
  }

  /** Times the entries and returns the `warm_serial_sum` line it prints. */
  def time(spark: SparkSession, entries: String, sfDir: String): String = {
    val names = resolve(entries, ParseProbes.names)
    // parse-only probes read scaffold payloads materialized here,
    // outside the timed runs, so they time the parse and not the build
    val parse = ParseProbes.prepare(spark, sfDir, names.filter(ParseProbes.names.contains))
    spark.range(1000).selectExpr("sum(id)").collect()
    val results = names.map { name =>
      val df: () => DataFrame = parse.getOrElse(name, () => SparkEntry.queries(name)(spark, sfDir))
      def once(): Double = {
        val t0 = System.nanoTime()
        try { df().count(); (System.nanoTime() - t0) / 1e9 } catch {
          case e: Throwable => println(s"[time] $name FAILED: ${e.getMessage}"); -1.0
        }
      }
      val cold = once()
      val warms = Seq.fill(WarmReps)(once())
      val warm = if (warms.exists(_ < 0)) -1.0 else warms.min
      println(f"[time] $name%-24s cold=$cold%6.2f s warm(min of $WarmReps)=$warm%6.2f s")
      name -> warm
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val okSum = results.map(_._2).filter(_ >= 0).sum
    val failed = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }.mkString("[", ",", "]")
    val line = s"""{"metric":"warm_serial_sum","value":$okSum,"unit":"sec","queries":$qs,"errors":$failed,"sf":"$sfDir"}"""
    println(line)
    line
  }

  /** Audits the entries' physical plans and returns the lines it prints. */
  def plan(spark: SparkSession, entries: String, sfDir: String,
      outDir: Option[String]): Seq[String] = {
    val names = resolve(entries, Seq.empty)
    outDir.foreach(d => Files.createDirectories(Paths.get(d)))
    names.map { name =>
      val line = try {
        val qe = SparkEntry.queries(name)(spark, sfDir).queryExecution
        val plan = qe.executedPlan.toString
        outDir.foreach(d => Files.writeString(Paths.get(d, s"$name.txt"),
          qe.explainString(FormattedMode)))
        val flags = Seq(
          "CartesianProduct" -> plan.contains("CartesianProduct"),
          "BcastNLJoin" -> plan.contains("BroadcastNestedLoopJoin"),
          "SortMergeJoin" -> plan.contains("SortMergeJoin"),
          "NoPushedFilters" -> (plan.contains("PushedFilters: []") &&
            plan.contains("Filter (")),
        ).collect { case (f, true) => f }
        val nEx = "Exchange".r.findAllIn(plan).size
        val nBr = "BroadcastExchange".r.findAllIn(plan).size
        f"[audit] $name%-22s exchanges=${nEx - nBr}%2d broadcasts=$nBr%2d " +
          (if (flags.isEmpty) "ok" else "FLAGS: " + flags.mkString(","))
      } catch { case e: Throwable =>
        s"[audit] $name ERROR ${String.valueOf(e.getMessage).take(100)}"
      }
      println(line)
      line
    }
  }
}
