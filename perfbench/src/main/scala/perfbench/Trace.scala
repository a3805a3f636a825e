package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.joins.HashJoin
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded span: a call into a layer, timed from the benchmark. */
final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long)

/** Spark-side counters of one operation. */
final class OpSpark {
  var jobs = 0L; var tasks = 0L
  var cpuNs = 0L; var gcMs = 0L
  var shuffleWriteBytes = 0L; var fetchWaitMs = 0L; var spillBytes = 0L
  var analysisMs = 0.0; var optimizationMs = 0.0; var planningMs = 0.0
  var survivors = 0L
  var dsv2Files = 0L; var dsv2Bytes = 0L
  /** stage id -> task run times (ms) */
  val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  /** Max over median task time of the stage with the most task time. */
  def skew: Double =
    if (stageTasks.isEmpty) 0.0
    else {
      val ts = stageTasks.values.maxBy(_.sum).sorted
      val med = ts(ts.length / 2)
      if (med <= 0) ts.last.toDouble max 1.0 else ts.last.toDouble / med
    }
}

/**
 * In-memory tracer. Spans are recorded around the benchmark's calls into
 * each engine module; Spark's own instrumentation (listener events, the
 * planning tracker, executed-plan SQL metrics) is attributed to the
 * current operation. With tracing off every method is a pass-through and
 * no listener is attached.
 */
final class Tracer(val enabled: Boolean) {

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextSpan = 1
  @volatile private var currentOp = 0
  private var nextOp = 1
  private val opNames = mutable.Map.empty[Int, String]
  private val ops = new ConcurrentHashMap[Int, OpSpark]()
  private val markersSeen = new AtomicLong(0)
  private var markersSent = 0L
  private var sc: SparkContext = _

  private def opSpark(op: Int): OpSpark = ops.computeIfAbsent(op, _ => new OpSpark)

  /** Attach the listeners to a session (tracing on only). */
  def attach(spark: SparkSession): Unit = if (enabled) {
    sc = spark.sparkContext
    val stageOp = new ConcurrentHashMap[Int, Int]()
    val markerJobs = ConcurrentHashMap.newKeySet[Int]()
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("perfbench.marker") != null)) markerJobs.add(e.jobId)
        else {
          val o = opSpark(currentOp)
          o.synchronized { o.jobs += 1 }
          e.stageIds.foreach(s => stageOp.put(s, currentOp))
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (markerJobs.remove(e.jobId)) markersSeen.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stageOp.containsKey(e.stageId)) {
          val o = opSpark(stageOp.get(e.stageId))
          val m = e.taskMetrics
          o.synchronized {
            o.tasks += 1
            if (m != null) {
              o.cpuNs += m.executorCpuTime
              o.gcMs += m.jvmGCTime
              o.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
              o.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
              o.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            }
            o.stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
          }
        }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val o = opSpark(currentOp)
        val ph = qe.tracker.phases
        val c = Tracer.planCounts(qe.executedPlan)
        o.synchronized {
          o.analysisMs += ph.get("analysis").map(_.durationMs.toDouble).getOrElse(0.0)
          o.optimizationMs += ph.get("optimization").map(_.durationMs.toDouble).getOrElse(0.0)
          o.planningMs += ph.get("planning").map(_.durationMs.toDouble).getOrElse(0.0)
          o.survivors += c.survivors
          o.dsv2Files += c.files; o.dsv2Bytes += c.bytes
        }
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
  }

  /** Run one operation: a root span, Spark events attributed to it, and
    * (tracing on) a marker job afterwards so every event of the op has
    * reached the listeners before the next op starts. */
  def op[A](name: String)(body: => A): A = {
    val id = nextOp; nextOp += 1
    opNames(id) = name
    currentOp = id
    try span(name)(body)
    finally if (enabled && sc != null) barrier()
  }

  private def barrier(): Unit = {
    markersSent += 1
    sc.setLocalProperty("perfbench.marker", "1")
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("perfbench.marker", null)
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (markersSeen.get() < markersSent && System.nanoTime() < deadline) Thread.sleep(1)
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextSpan; nextSpan += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, currentOp, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def allSpans: Seq[Span] = spans.toSeq
  def opName(op: Int): String = opNames.getOrElse(op, "")
  def sparkOf(op: Int): OpSpark = opSpark(op)
  def opIds: Seq[Int] = opNames.keys.toSeq.sorted

  /** Durations (ms) of every span with this name. */
  def spanMs(name: String): Seq[Double] =
    spans.iterator.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e6).toSeq

  /** Spans as JSON lines, relative to the first span's start. */
  def spansJsonl: String = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"op_name":"${opName(s.op)}",""" +
        s""""name":"${s.name}","start_us":${(s.startNs - t0) / 1000},"end_us":${(s.endNs - t0) / 1000}}"""
    }.mkString("", "\n", "\n")
  }
}

object Tracer {

  /** Walk an executed plan through AQE wrappers and query stages. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  final case class PlanCounts(survivors: Long, files: Long, bytes: Long)

  /** Rows surviving an exact refine — a hash join whose condition holds
    * the refine predicate, or a Filter on a hash join — and the files and
    * bytes the snapshot DSv2 scans planned. */
  def planCounts(plan: SparkPlan): PlanCounts = {
    var surv = 0L; var files = 0L; var bytes = 0L
    nodes(plan).foreach {
      case hj: HashJoin if hj.condition.isDefined =>
        surv += metric(hj.asInstanceOf[SparkPlan], "numOutputRows")
      case f: FilterExec =>
        val j = f.child match {
          case pr: ProjectExec => pr.child
          case c => c
        }
        j match {
          case hj: HashJoin if hj.condition.isEmpty => surv += metric(f, "numOutputRows")
          case _ => ()
        }
      case b: BatchScanExec =>
        val slices = b.inputPartitions.collect { case sp: graft.sources.SnapshotSource.SnapInputPartition => sp }
        files += slices.map(_.path).distinct.size
        bytes += slices.map(_.length).sum
      case _ => ()
    }
    PlanCounts(surv, files, bytes)
  }
}
