package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusAccess
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a graft module. Engine counters land on the
  * innermost open span: jobs carry its id in a job-local property, and
  * planning phases are matched to it by start time. */
final class Span(val id: Int, val parent: Int, val layer: String, val name: String) {
  val t0Ns: Long = System.nanoTime()
  val t0Ms: Long = System.currentTimeMillis()
  var t1Ns, t1Ms = 0L
  var compileNs, compiles = 0L
  var jobs, stages, tasks = 0L
  var taskMs, cpuNs, gcMs, queueMs = 0L
  var inBytes, inRows, shuffleWrite, shuffleRead, fetchWaitMs, spillBytes = 0L
  var outBytes, outRows = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  def wallS: Double = (t1Ns - t0Ns) / 1e9
}

/** Spans around the benchmark's calls into graft, plus the Spark
  * listeners that fill them. Disabled, `apply` only runs the body: the
  * end-to-end numbers come from untraced runs. */
final class Tracer(spark: SparkSession, val enabled: Boolean, cores: Int) {
  private val sc = spark.sparkContext
  private val Key = "perfbench.span"
  val spans = mutable.ArrayBuffer[Span]()
  private var open: List[Span] = Nil
  private val byId = new ConcurrentHashMap[Int, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val stageSubmitMs = new ConcurrentHashMap[Int, Long]()
  private val stageTaskMs = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
  private val phases = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long, Long)]()
  var persistPeakBytes = 0L

  if (enabled) {
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(Key))).foreach { id =>
          val sp = byId.get(id.toInt)
          if (sp != null) {
            sp.jobs += 1
            e.stageIds.foreach(s => stageSpan.put(s, sp))
          }
        }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stageSubmitMs.put(e.stageInfo.stageId,
          e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val sp = stageSpan.get(e.stageInfo.stageId)
        if (sp != null) sp.stages += 1
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val sp = stageSpan.get(e.stageId)
        val m = e.taskMetrics
        if (sp != null && m != null) {
          sp.tasks += 1
          sp.taskMs += m.executorRunTime
          sp.cpuNs += m.executorCpuTime
          sp.gcMs += m.jvmGCTime
          val submitted = stageSubmitMs.getOrDefault(e.stageId, e.taskInfo.launchTime)
          sp.queueMs += math.max(0L, e.taskInfo.launchTime - submitted)
          sp.inBytes += m.inputMetrics.bytesRead
          sp.inRows += m.inputMetrics.recordsRead
          sp.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          sp.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          sp.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          sp.spillBytes += m.diskBytesSpilled
          sp.outBytes += m.outputMetrics.bytesWritten
          sp.outRows += m.outputMetrics.recordsWritten
          stageTaskMs.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer[Long]()) +=
            e.taskInfo.duration
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val ph = qe.tracker.phases
        def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
        val start = ph.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
        phases.add((start, ms("analysis"), ms("optimization"), ms("planning")))
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
  }

  def apply[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val sp = new Span(spans.size, open.headOption.map(_.id).getOrElse(-1), layer, name)
      spans += sp
      byId.put(sp.id, sp)
      val c0 = CodeGenerator.compileTime
      val n0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      pollStorage()
      open = sp :: open
      sc.setLocalProperty(Key, sp.id.toString)
      try body
      finally {
        sp.t1Ns = System.nanoTime()
        sp.t1Ms = System.currentTimeMillis()
        sp.compileNs = CodeGenerator.compileTime - c0
        sp.compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - n0
        open = open.tail
        sc.setLocalProperty(Key, open.headOption.map(_.id.toString).orNull)
        pollStorage()
      }
    }

  /** Cached/checkpointed block count and bytes held by the session now. */
  def storage(): (Long, Long) = {
    val infos = sc.getRDDStorageInfo
    (infos.map(_.numCachedPartitions.toLong).sum, infos.map(i => i.memSize + i.diskSize).sum)
  }

  private def pollStorage(): Unit = {
    val (_, bytes) = storage()
    persistPeakBytes = math.max(persistPeakBytes, bytes)
  }

  /** Waits for the listener bus, then hands each planning record to the
    * innermost span that was open when its query started. */
  def finish(): Unit = if (enabled) {
    ListenerBusAccess.drain(sc)
    phases.asScala.foreach { case (start, a, o, p) =>
      val owner = spans.filter(s => s.t0Ms <= start && start <= s.t1Ms).maxByOption(_.t0Ns)
      owner.foreach { s => s.analysisMs += a; s.optimizationMs += o; s.planningMs += p }
    }
  }

  /** Worst stage's max/median task time over the stages of `ids`. */
  def skew(ids: Set[Int]): Double =
    stageSpan.asScala.collect { case (st, sp) if ids(sp.id) => st }
      .flatMap(st => Option(stageTaskMs.get(st)))
      .filter(_.size >= cores)
      .map { ts =>
        val s = ts.sorted
        s.last.toDouble / math.max(1L, s(s.size / 2))
      }.maxOption.getOrElse(1.0)

  def children(sp: Span): Seq[Span] = spans.filter(_.parent == sp.id).toSeq
  def subtree(sp: Span): Seq[Span] = sp +: children(sp).flatMap(subtree)
  /** Wall time of `sp` not covered by its child spans. */
  def selfS(sp: Span): Double = sp.wallS - children(sp).map(_.wallS).sum
}
