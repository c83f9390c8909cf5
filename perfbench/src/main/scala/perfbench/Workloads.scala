package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.{SparkEntry, Tables}
import graft.operators.{Chains, IncrementalDedup, Silver, TimeSeries}
import graft.sources.Sinks

/** A workload: a warm-up pass for set-up, the timed closed loop, and the
  * outputs its checks read afterwards (written outside the window). */
trait Workload {
  /** Runs the warm-up pass; returns the seconds it spent generating
    * inputs, which set-up time excludes. */
  def warmup(spark: SparkSession, work: String, seed: Long, p: Map[String, String]): Double
  def run(ctx: Ctx): Unit
  def dumpChecks(ctx: Ctx): Unit
  /** Passes per timed operation, for per-pass module sums. */
  def passes(ctx: Ctx): Double = ctx.samples.count(_.ok).toDouble

  protected def writeRows(spark: SparkSession, rows: Array[Row], schema: StructType, path: String): Unit =
    spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1).write.parquet(path)

  protected def writeOracles(path: String, names: Seq[String]): Unit =
    Files.writeString(Paths.get(path),
      Json.obj(names.map(n => n -> Json.str(SparkEntry.oracleSql(n))): _*))
}

/** The reference's daily job over one generated trading day of ticks:
  * chains parse → PST session rollup → silver best-mark import →
  * verticals → dedup-insert into one historic store that grows across
  * days. Each stage writes its output, as the reference's tables do. */
object Elt extends Workload {
  /** The tick source emits one tick per 250 ms: 345,600 per calendar day. */
  val TicksPerDay = 345600L

  /** Lands day `day` under `dir`: the day's ticks (every `every`-th one)
    * plus a seed-chosen `redeliver` share of the previous day's, and the
    * chains payloads and staged rows derived from them. Untimed: in
    * production these arrive from the sources. Returns the tick count. */
  def land(spark: SparkSession, dir: String, seed: Long, day: Int, every: Int,
      hot: Double, redeliver: Double): Long = {
    val src = spark.read.format("graft-ticks")
      .option("rows", (day + 1) * TicksPerDay).option("seed", seed)
      .option("hotfraction", hot).option("partitions", 4).load()
    def slice(d: Int) = src.filter(col("event_id") >= d * TicksPerDay &&
      col("event_id") < (d + 1) * TicksPerDay && pmod(col("event_id"), lit(every)) === 0)
    val again = if (day == 0) slice(0).limit(0) else slice(day - 1)
      .filter(pmod(xxhash64(col("event_id"), lit(seed)), lit(1000)) < (redeliver * 1000).toInt)
    slice(day).union(again)
      .withColumn("props", format_string("{\"k\": %d}", pmod(col("event_id"), lit(100L))))
      // one file a day, as the reference's daily-rolled parquet writer lands it
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    Chains.chainPayloads(spark, dir).write.parquet(s"$dir/payloads.parquet")
    Silver.stagedFromEvents(Tables.events(spark, dir)).write.parquet(s"$dir/staged.parquet")
    spark.read.parquet(s"$dir/events.parquet").count()
  }

  def day(spark: SparkSession, t: Tracer, dir: String, out: String, hist: String): Unit = {
    t("Chains.parseChainPayloads", "chains") {
      Chains.parseChainPayloads(spark.read.parquet(s"$dir/payloads.parquet"))._1
        .write.parquet(s"$out/chains")
    }
    t("TimeSeries.tzSession", "tz") {
      TimeSeries.tzSession(spark, dir).write.parquet(s"$out/tz")
    }
    t("Silver.silverImportFrom", "silver") {
      Silver.silverImportFrom(spark.read.parquet(s"$dir/staged.parquet"))
        .write.parquet(s"$out/silver")
    }
    t("TimeSeries.verticalsOf", "verticals") {
      TimeSeries.verticalsOf(Tables.events(spark, dir)).write.parquet(s"$out/verticals")
    }
    t("Sinks.upsertHistoric", "historic") {
      Sinks.upsertHistoric(Tables.events(spark, dir).drop("props"), hist, Seq("event_id", "ts"))
    }
  }

  /** Day 0, untimed: it warms the session up and gives the historic store
    * the history that day 1's re-delivered ticks collide with. */
  def warmup(spark: SparkSession, work: String, seed: Long, p: Map[String, String]): Double = {
    val t0 = System.nanoTime()
    land(spark, s"$work/days/d0", seed, 0, p("every").toInt, p("hot").toDouble, 0.0)
    val landS = (System.nanoTime() - t0) / 1e9
    day(spark, new Tracer(spark, false, 1), s"$work/days/d0", s"$work/out/d0", s"$work/hist")
    landS
  }

  def run(ctx: Ctx): Unit = {
    var d = 1
    while (ctx.more) {
      val dir = s"${ctx.work}/days/d$d"
      val n = land(ctx.spark, dir, ctx.seed, d, ctx.int("every"), ctx.dbl("hot"), ctx.dbl("redeliver"))
      ctx.pass = d
      ctx.timed("elt", s"d$d", n) {
        day(ctx.spark, ctx.tracer, dir, s"${ctx.work}/out/d$d", s"${ctx.work}/hist")
      }
      d += 1
    }
  }

  def dumpChecks(ctx: Ctx): Unit =
    writeOracles(s"${ctx.work}/oracle_sql.json",
      Seq("q49_chain_flatten", "q39_tz_session", "q54_silver_import", "q28_verticals_pipeline"))
}

/** An analyst on one long-lived session, closed loop: the registry's
  * reference-surface entries over one tables dir, and the corpus-curation
  * entries that share cuts over a fresh corpus dir each pass, all in one
  * seed-shuffled order. Whole passes only, so every run weighs each entry
  * equally. The queries stay on warm caches and small data, where planning
  * and codegen set the latency; the curation entries rebuild every DirMemo
  * cut (token slice, dense embeddings) once per pass and hit it after. */
object QueryMix extends Workload {
  /** Reference-surface entry → the graft module that implements it. */
  val Queries: Seq[(String, String)] = Seq(
    "q1_pricing_agg" -> "Relational", "q8_rolling_avg" -> "TimeSeries",
    "q18_json_extract" -> "TextFns", "q50_symbol_parse" -> "Chains",
    "q57_event_pattern" -> "Cep", "q63_sql_asof" -> "SqlSurface")
  /** Curation entry → the module function it times. d14/d46 consume the
    * shared token slice, d61 the dense embeddings; d22 is the batch dedup
    * and d23 its incremental twin, run through the API below. */
  val Curate: Seq[(String, String)] = Seq(
    "d14_tfidf_rank" -> "TextFns.tfidfRank", "d46_dsir_weights" -> "Curation.dsirWeights",
    "d61_topic_clusters" -> "Similarity.topicClusters", "d22_dedup_pipeline" -> "Dedup.dedupPipeline",
    "d23_incremental_dedup" -> "IncrementalDedup.corpus")
  /** The batch dedup and its incremental twin, whose corpora must agree. */
  private val DedupPair = Set("d22_dedup_pipeline", "d23_incremental_dedup")
  private val Mix = Queries.map { case (n, m) => (n, s"$m.query") } ++ Curate
  private val lastQuery = scala.collection.mutable.Map[String, (Array[Row], StructType)]()
  private val dedup = scala.collection.mutable.Map[(Int, String), (Array[Row], StructType)]()

  /** d23's body: two micro-batch upserts against a persisted band index,
    * read back as the live corpus. */
  private def incremental(spark: SparkSession, t: Tracer, dir: String, root: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    (0 until 2).foreach { i =>
      t("IncrementalDedup.upsertBatch", s"batch$i") {
        IncrementalDedup.upsertBatch(docs.filter(pmod(col("doc_id"), lit(2)) === i),
          root, buckets = 16, bucketedIndex = true)
      }
    }
    IncrementalDedup.unregisterBandTable(spark, root)
    IncrementalDedup.corpus(spark, root)
  }

  private def entry(spark: SparkSession, t: Tracer, name: String, tables: String,
      corpus: String, incRoot: String): (Array[Row], StructType) = {
    val df =
      if (name == "d23_incremental_dedup") incremental(spark, t, corpus, incRoot)
      else SparkEntry.queries(name)(spark, if (name.startsWith("q")) tables else corpus)
    (df.collect(), df.schema)
  }

  def warmup(spark: SparkSession, work: String, seed: Long, p: Map[String, String]): Double = {
    val off = new Tracer(spark, false, 1)
    Mix.foreach { case (n, _) =>
      entry(spark, off, n, s"$work/warm_tables", s"$work/corpus/warm", s"$work/warm/inc")
    }
    0.0
  }

  def run(ctx: Ctx): Unit = {
    var pass = 0
    while (ctx.more && Files.exists(Paths.get(s"${ctx.work}/corpus/c$pass"))) {
      val corpus = s"${ctx.work}/corpus/c$pass"
      ctx.pass = pass
      new scala.util.Random(ctx.seed * 1000 + pass).shuffle(Mix).foreach { case (name, layer) =>
        ctx.timed(layer, name, 1) {
          val out = entry(ctx.spark, ctx.tracer, name, s"${ctx.work}/tables", corpus,
            s"${ctx.work}/inc/c$pass")
          if (name.startsWith("q")) lastQuery(name) = out
          else if (DedupPair(name)) dedup((pass, name)) = out
        }
      }
      pass += 1
    }
  }

  override def passes(ctx: Ctx): Double = ctx.samples.size.toDouble / Mix.size

  def dumpChecks(ctx: Ctx): Unit = {
    lastQuery.foreach { case (name, (rows, schema)) =>
      writeRows(ctx.spark, rows, schema, s"${ctx.work}/qout/$name")
    }
    dedup.foreach { case ((pass, name), (rows, schema)) =>
      writeRows(ctx.spark, rows, schema, s"${ctx.work}/cout/c$pass/${name.take(3)}")
    }
    writeOracles(s"${ctx.work}/oracle_sql.json", Queries.map(_._1))
  }
}
