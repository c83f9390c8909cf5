package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** One timed operation of a workload: a day of the ELT job, one analyst
  * query, or one curation pass. */
final case class Sample(name: String, ms: Double, ok: Boolean, units: Long, pass: Int)

/** Everything a workload needs while it runs. `timed` runs one operation
  * inside a span; the window closes once the operations' wall time adds
  * up to `seconds`. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val workload: Workload,
    val work: String, val seed: Long, val cores: Int, val params: Map[String, String], seconds: Double) {
  val samples = mutable.ArrayBuffer[Sample]()
  val tops = mutable.ArrayBuffer[Span]()
  private var busyS = 0.0
  /** The day or pass the next operations belong to. */
  var pass = 0
  def more: Boolean = busyS < seconds
  def int(k: String): Int = params(k).toInt
  def dbl(k: String): Double = params(k).toDouble

  def timed(module: String, name: String, units: Long)(body: => Unit): Boolean = {
    val n0 = tracer.spans.size
    val t0 = System.nanoTime()
    val ok =
      try { tracer(module, name)(body); true }
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] $name failed: $e"); false }
    val ms = (System.nanoTime() - t0) / 1e6
    busyS += ms / 1000
    samples += Sample(name, ms, ok, units, pass)
    if (tracer.enabled) tops += tracer.spans(n0)
    ok
  }
}

/** Contention gauges over the timed window, as `graft.Bench` computes
  * them: CPU cores busy outside this process (/proc/stat minus
  * /proc/self/stat) and the share of wall time in which every task was
  * stalled on IO or memory (PSI "full"). Reported, never acted on. */
final class Gauges {
  private def busy(): Option[(Long, Long)] =
    try {
      val all = scala.io.Source.fromFile("/proc/stat").getLines().next()
        .trim.split("\\s+").drop(1).map(_.toLong)
      val self = scala.io.Source.fromFile("/proc/self/stat").mkString.trim.split(" ")
      Some((all.indices.collect { case i if i != 3 && i != 4 => all(i) }.sum,
        self(13).toLong + self(14).toLong))
    } catch { case _: Throwable => None }
  private def psiFullUs(kind: String): Option[Long] =
    try {
      scala.io.Source.fromFile(s"/proc/pressure/$kind").getLines()
        .find(_.startsWith("full")).flatMap(_.split("\\s+")
          .find(_.startsWith("total=")).map(_.stripPrefix("total=").toLong))
    } catch { case _: Throwable => None }
  private def stall(): Option[Long] =
    Seq(psiFullUs("io"), psiFullUs("memory")).flatten.reduceOption(_ + _)

  private val b0 = busy()
  private val s0 = stall()
  private val t0 = System.nanoTime()

  def read(): Map[String, Double] = {
    val wall = (System.nanoTime() - t0) / 1e9
    val ext = (b0, busy()) match {
      case (Some((a0, m0)), Some((a1, m1))) => math.max(0.0, ((a1 - a0) - (m1 - m0)) / (100.0 * wall))
      case _ => -1.0
    }
    val full = (s0, stall()) match {
      case (Some(a), Some(b)) => math.max(0.0, (b - a) / 1e6 / wall)
      case _ => -1.0
    }
    Map("ext_cores" -> ext, "psi_full_frac" -> full)
  }
}

object Main {
  def session(work: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/tmp")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def peakRssMb(): Double =
    try scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = opt("work")
    val cores = opt("cores").toInt
    val traced = opt("trace") == "1"
    val params = opt.filter(_._1.startsWith("p.")).map { case (k, v) => k.stripPrefix("p.") -> v }
    val wl: Workload = opt("workload") match {
      case "elt_daily"     => Elt
      case "query_mix"     => QueryMix
      case other           => sys.error(s"unknown workload $other")
    }
    Files.createDirectories(Paths.get(s"$work/tmp"))

    // Set-up: the session, graft's install, and one warm-up pass over the
    // workload's operations on inputs of its own, so the timed window
    // starts on warm codegen caches and JIT-compiled code.
    val compile0 = CodeGenerator.compileTime
    val t0 = System.nanoTime()
    val spark = session(work, cores)
    graft.Graft.install(spark)
    graft.ops.Checkpoints.install(spark.sparkContext, s"$work/ckpt")
    val inputS = wl.warmup(spark, work, opt("seed").toLong, params)
    val setupS = (System.nanoTime() - t0) / 1e9 - inputS
    val setupCompileS = (CodeGenerator.compileTime - compile0) / 1e9

    val tracer = new Tracer(spark, traced, cores)
    val ctx = new Ctx(spark, tracer, wl, work, opt("seed").toLong, cores, params, opt("seconds").toDouble)
    val gauges = new Gauges
    val windowT0 = System.nanoTime()
    wl.run(ctx)
    val windowS = (System.nanoTime() - windowT0) / 1e9
    val g = gauges.read()
    tracer.finish()
    val (blocksEnd, _) = tracer.storage()
    val layers = if (traced) Layers(ctx, setupCompileS, blocksEnd) else Map.empty[String, Double]
    wl.dumpChecks(ctx)
    spark.stop()

    if (traced) Layers.writeSpans(tracer, s"$work/spans.jsonl")
    val json = Json.obj(
      "setup_s" -> Json.num(setupS),
      "window_s" -> Json.num(windowS),
      "peak_rss_mb" -> Json.num(peakRssMb()),
      "gauges" -> Json.obj(g.toSeq.map { case (k, v) => k -> Json.num(v) }: _*),
      "layers" -> Json.obj(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }: _*),
      "samples" -> Json.arr(ctx.samples.toSeq.map(s => Json.obj(
        "name" -> Json.str(s.name), "ms" -> Json.num(s.ms),
        "ok" -> s.ok.toString, "units" -> s.units.toString, "pass" -> s.pass.toString))))
    Files.writeString(Paths.get(opt("out")), json)
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
