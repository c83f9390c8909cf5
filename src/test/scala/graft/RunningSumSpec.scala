package graft.operators

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec

/** Silver.rangedRunningSum sizes its slices from the input: one
  * advisory partition of estimated input is Spark's own running-sum
  * window, more is the two-level range scheme. Both paths give the
  * global window's values. */
class RunningSumSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val advisoryKey = "spark.sql.adaptive.advisoryPartitionSizeInBytes"

  /** Runs `body` with `advisoryKey` set to `bytes`, then restores it. */
  private def withAdvisory[T](bytes: BigInt)(body: => T): T = {
    val prev = spark.conf.getAll.get(advisoryKey)
    spark.conf.set(advisoryKey, bytes.toString)
    try body
    finally prev.fold(spark.conf.unset(advisoryKey))(spark.conf.set(advisoryKey, _))
  }

  /** The final physical plan of every SQL execution `body` runs, up to
    * and including its last `collect`. */
  private def plansOf[T](body: => T): (T, Seq[SparkPlan]) = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val collected = new CountDownLatch(1)
    val l = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        plans.add(qe.executedPlan)
        if (funcName == "collect") collected.countDown()
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      val r = body
      // listener events arrive in order: the collect comes last
      assert(collected.await(60, TimeUnit.SECONDS), "no collect reached the listener")
      (r, plans.asScala.toSeq)
    } finally spark.listenerManager.unregister(l)
  }

  /** Jobs `body` runs on this thread, counted by a job-group
    * SparkListener (every job counts, AQE's stage jobs included). */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = "graft-running-sum-" + java.util.UUID.randomUUID()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val fenced = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => jobs.incrementAndGet()
          case g if g == group + "-fence" => fenced.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "counted")
      val r = try body finally sc.clearJobGroup()
      // the bus delivers events in order: once the fence job's start
      // arrived, every counted job's start arrived before it
      sc.setJobGroup(group + "-fence", "fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(fenced.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      (r, jobs.get)
    } finally sc.removeSparkListener(l)
  }

  test("surrogateIds past one advisory partition: range-partitioned two-level ids equal dense_rank, " +
      "no single-partition data window") {
    // Round4Spec's 100k-triple dim, with the advisory size lowered below
    // its estimate so the rule picks the two-level path
    val dim = spark.range(100000).select(
      date_add(lit("2024-01-01").cast("date"), (col("id") % 365).cast("int")).as("expiry"),
      when(col("id") % 2 === 0, 1).otherwise(-1).as("cp"),
      floor(col("id") / 2).cast("double").as("strike"))
    val est = dim.queryExecution.optimizedPlan.stats.sizeInBytes
    val keys = Seq("expiry", "cp", "strike")
    val (got, plans) = withCheckpointDir(None) {
      withAdvisory(est / 3) {
        plansOf(Silver.surrogateIds(dim, keys, "opt_id").collect())
      }
    }
    val want = dim.withColumn("want_id",
      dense_rank().over(Window.orderBy(keys.map(col): _*)).cast("long"))
      .collect().map(r => (r.getDate(0), r.getInt(1), r.getDouble(2)) -> r.getLong(3)).toMap
    assert(got.length == 100000)
    assert(got.forall(r => want((r.getDate(0), r.getInt(1), r.getDouble(2))) == r.getLong(3)),
      "two-level ids must equal the global dense_rank")
    val nodes = plans.flatMap(p => collect(p) { case n => n })
    assert(nodes.exists {
      case s: ShuffleExchangeExec => s.outputPartitioning.isInstanceOf[RangePartitioning]
      case _ => false
    }, "no range-partitioning exchange:\n" + plans.mkString("\n"))
    // the only unpartitioned window is the offset table's, over ≤ n
    // per-slice rows ordered by the slice id
    val global = nodes.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
    assert(global.forall(_.orderSpec.flatMap(_.references.map(_.name)) == Seq("_pid")),
      "a data window without a partition spec:\n" + global.mkString("\n"))
  }

  test("silverImport at sf0.001 is one id window: no range layout, cut or broadcast offsets") {
    withCheckpointDir(None) {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val (rows, jobs) = jobsOf(Silver.silverImport(spark, sf).collect())
      info(s"silverImport: ${rows.length} rows, $jobs jobs")
      assert(rows.nonEmpty)
      // the fixed 32-slice two-level ids ran 13 jobs here
      assert(jobs <= 8, s"silverImport ran $jobs jobs")
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty, s"silverImport left persisted RDDs behind: $leaked")
    }
  }

  test("tokenBudgetMixOf with its sized default equals the naive per-source window") {
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "source", "text")
    val got = Curation.tokenBudgetMixOf(docs)
    val toks = docs.select(col("doc_id"), col("source"),
      size(array_remove(split(col("text"), " "), "")).cast("long").as("n_tokens"),
      (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10).cast("long")
        / lit(4294967296.0)).as("u"))
    val counts = toks.groupBy("source").agg(sum("n_tokens").as("src_tokens"))
    val Seq(total, nGroups) = counts.agg(sum("src_tokens"), count(lit(1)))
      .collect().head.toSeq.map(_.toString.toLong)
    val naive = toks.withColumn("cum", sum("n_tokens").over(
        Window.partitionBy("source").orderBy("u", "doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("cum") <= 0.5 * total / nGroups)
      .select("doc_id", "source", "n_tokens").orderBy("doc_id")
    val a = got.collect().map(_.toSeq).toSeq
    assert(a.nonEmpty)
    assert(a == naive.collect().map(_.toSeq).toSeq, "sized running sum diverged from the window")
  }
}
