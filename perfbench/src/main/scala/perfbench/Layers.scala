package perfbench

import java.nio.file.{Files, Paths}

/** Per-layer numbers of a traced run, per timed operation (a day of
  * elt_daily, one entry of query_mix) unless the name says otherwise.
  * Module spans are summed per cycle: per day on elt_daily, per pass over
  * the mix on query_mix. */
object Layers {
  private val MB = 1024.0 * 1024.0

  def apply(ctx: Ctx, setupCompileS: Double, blocksEnd: Long): Map[String, Double] = {
    val t = ctx.tracer
    val tops = ctx.tops.toSeq
    val all = tops.flatMap(t.subtree)
    val ops = math.max(1, tops.size).toDouble
    val wall = tops.map(_.wallS).sum
    def per(f: Span => Double): Double = all.map(f).sum / ops
    val taskS = all.map(_.taskMs).sum / 1000.0

    // Catalyst / codegen / executor shares of the middle half of the
    // operations by wall time: what sets the median's latency.
    val mid = {
      val s = tops.sortBy(_.wallS)
      s.slice(s.size / 4, math.max(s.size / 4 + 1, s.size - s.size / 4))
    }
    val midWall = math.max(1e-9, mid.map(_.wallS).sum)
    val midSub = mid.flatMap(t.subtree)
    val midCat = midSub.map(s => s.analysisMs + s.optimizationMs + s.planningMs).sum / 1000.0 / midWall
    val midGen = mid.map(_.compileNs).sum / 1e9 / midWall
    val midExec = midSub.map(_.taskMs).sum / 1000.0 / ctx.cores / midWall

    val engine = Map(
      "catalyst.analysis_s" -> per(_.analysisMs / 1000.0),
      "catalyst.optimization_s" -> per(_.optimizationMs / 1000.0),
      "catalyst.planning_s" -> per(_.planningMs / 1000.0),
      "codegen.compiles" -> tops.map(_.compiles).sum / ops,
      "codegen.compile_s" -> tops.map(_.compileNs).sum / 1e9 / ops,
      "codegen.setup_compile_s" -> setupCompileS,
      "driver.jobs" -> per(_.jobs.toDouble),
      "driver.stages" -> per(_.stages.toDouble),
      "driver.tasks" -> per(_.tasks.toDouble),
      "exec.core_util" -> taskS / math.max(1e-9, wall * ctx.cores),
      "exec.task_s" -> taskS / ops,
      "exec.cpu_s" -> per(_.cpuNs / 1e9),
      "exec.gc_s" -> per(_.gcMs / 1000.0),
      "exec.queue_s" -> per(_.queueMs / 1000.0),
      "exec.skew" -> t.skew(all.map(_.id).toSet),
      "scan.input_mb" -> per(_.inBytes / MB),
      "scan.input_rows" -> per(_.inRows.toDouble),
      "shuffle.write_mb" -> per(_.shuffleWrite / MB),
      "shuffle.read_mb" -> per(_.shuffleRead / MB),
      "shuffle.fetch_wait_s" -> per(_.fetchWaitMs / 1000.0),
      "spill.mb" -> per(_.spillBytes / MB),
      "persist.blocks_end" -> blocksEnd.toDouble,
      "persist.mb_peak" -> t.persistPeakBytes / MB,
      "mid.catalyst_share" -> midCat,
      "mid.codegen_share" -> midGen,
      "mid.exec_share" -> midExec,
      "mid.driver_share" -> math.max(0.0, 1 - midCat - midGen - midExec))

    // module spans: each layer's wall time summed per pass
    val passes = math.max(1e-9, ctx.workload.passes(ctx))
    val modules = all.filter(_.layer.contains('.')).groupBy(_.layer)
      .map { case (layer, ss) => s"${layer}_s" -> ss.map(_.wallS).sum / passes }

    val sinks = all.filter(_.layer == "Sinks.upsertHistoric")
    val offered = ctx.samples.filter(_.ok).map(_.units).sum.toDouble
    val sink =
      if (sinks.isEmpty) Map.empty[String, Double]
      else Map(
        "Sinks.insert_ratio" -> sinks.flatMap(t.subtree).map(_.outRows).sum / math.max(1.0, offered),
        "sink.output_mb" -> sinks.flatMap(t.subtree).map(_.outBytes).sum / MB / ops,
        "Sinks.files_total" -> parquetFiles(s"${ctx.work}/hist").toDouble)
    engine ++ modules ++ sink
  }

  private def parquetFiles(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(_.toString.endsWith(".parquet")).count() finally s.close()
    }
  }

  /** All spans, one JSON object a line, with self time (wall minus
    * child spans) and the engine counters attributed to each. */
  def writeSpans(t: Tracer, path: String): Unit = {
    val lines = t.spans.map { s =>
      Json.obj("id" -> s.id.toString, "parent" -> s.parent.toString,
        "layer" -> Json.str(s.layer), "name" -> Json.str(s.name),
        "wall_s" -> Json.num(s.wallS), "self_s" -> Json.num(t.selfS(s)),
        "catalyst_s" -> Json.num((s.analysisMs + s.optimizationMs + s.planningMs) / 1000.0),
        "compile_s" -> Json.num(s.compileNs / 1e9), "jobs" -> s.jobs.toString,
        "tasks" -> s.tasks.toString, "task_s" -> Json.num(s.taskMs / 1000.0),
        "input_mb" -> Json.num(s.inBytes / MB), "shuffle_write_mb" -> Json.num(s.shuffleWrite / MB),
        "output_mb" -> Json.num(s.outBytes / MB))
    }
    Files.writeString(Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}
