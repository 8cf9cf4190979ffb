package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbenchhooks.SparkHooks

/** One benchmark span: an op, or a call the benchmark makes into a layer.
  * `label` is the layer (or the op kind for op spans). */
final case class Span(id: Long, op: Long, parent: Long, name: String, label: String,
                      start: Long, var end: Long = -1L)

/** A plan node as far as layer attribution needs it. */
final case class NodeInfo(exec: Long, kind: String, output: Set[String],
                          metrics: Map[String, (Long, Long)], scanPath: String,
                          filterRefs: Set[String])

final case class ExecInfo(id: Long, funcName: String, planMs: Long, isWrite: Boolean,
                          nodes: Seq[NodeInfo])

final class StageRec(val id: Int, val attempt: Int) {
  var start = 0L; var end = 0L; var tasks = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var resultBytes = 0L
  var shuffleBytes = 0L; var shuffleRecords = 0L; var spillBytes = 0L
  var accums: Set[Long] = Set.empty
}

final class JobRec(val id: Int, val start: Long, val op: Long, val span: Long,
                   val exec: Long, val stages: Seq[Int]) {
  var end = 0L
}

/** In-memory tracing. The benchmark wraps each op and each call it makes
  * into an engine layer in a span; a SparkListener records the jobs,
  * stages, task metrics and executed plans (from each SQL execution's end
  * event) that the calls launch. Jobs are tied to their span through
  * thread-local job properties, which Spark carries into broadcast and
  * nested jobs. Disabled, the tracer only runs the body. */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val current = new ThreadLocal[Span]
  val spans = new ConcurrentLinkedQueue[Span]()

  val jobs = mutable.Map.empty[Int, JobRec]
  val stages = mutable.Map.empty[(Int, Int), StageRec]
  val execStart = mutable.Map.empty[Long, Long]
  val execEnd = mutable.Map.empty[Long, Long]
  val execs = mutable.Map.empty[Long, ExecInfo]

  private val sc = spark.sparkContext
  private val OpKey = "perfbench.op"
  private val SpanKey = "perfbench.span"

  private def withSpan[T](name: String, label: String, isOp: Boolean)(body: => T): T =
    if (!enabled) body
    else {
      val parent = current.get()
      val id = ids.incrementAndGet()
      val op = if (isOp || parent == null) id else parent.op
      val s = Span(id, op, if (isOp || parent == null) 0L else parent.id, name, label,
        System.currentTimeMillis())
      spans.add(s)
      current.set(s)
      sc.setLocalProperty(OpKey, op.toString)
      sc.setLocalProperty(SpanKey, id.toString)
      try body
      finally {
        s.end = System.currentTimeMillis()
        current.set(parent)
        sc.setLocalProperty(OpKey, if (parent == null) null else parent.op.toString)
        sc.setLocalProperty(SpanKey, if (parent == null) null else parent.id.toString)
      }
    }

  /** An operation whose latency the benchmark reports. */
  def op[T](kind: String)(body: => T): T = withSpan(kind, kind, isOp = true)(body)

  /** A call into an engine layer (or the benchmark's own output check). */
  def call[T](name: String, layer: String)(body: => T): T =
    withSpan(name, layer, isOp = false)(body)

  private def planInfo(execId: Long, qe: QueryExecution, funcName: String): ExecInfo = {
    val nodes = mutable.ArrayBuffer.empty[NodeInfo]
    def visit(p: SparkPlan): Unit = {
      p.foreach { n =>
        val metrics = n.metrics.map { case (k, m) => k -> (m.id, m.value) }
        val path = n match {
          case s: FileSourceScanExec => s.relation.location.rootPaths.mkString(",")
          case _ => ""
        }
        val refs = n match {
          case f: FilterExec => f.condition.references.map(_.name).toSet
          case _ => Set.empty[String]
        }
        val kind = n match {
          case h: HashAggregateExec if h.aggregateExpressions.exists(_.mode ==
            org.apache.spark.sql.catalyst.expressions.aggregate.Final) => "HashAggregateFinal"
          case _ => n.nodeName
        }
        nodes += NodeInfo(execId, kind, n.output.map(_.name).toSet, metrics, path, refs)
        n.subqueries.foreach(visit)
        n match {
          // a cached frame runs its own plan when the cache is built
          case i: InMemoryTableScanExec => visit(i.relation.cachedPlan)
          case _ =>
        }
      }
    }
    visit(qe.executedPlan)
    val planMs = Seq("analysis", "optimization", "planning")
      .flatMap(qe.tracker.phases.get).map(_.durationMs).sum
    val isWrite = qe.executedPlan.exists(_.isInstanceOf[DataWritingCommandExec])
    ExecInfo(execId, funcName, planMs, isWrite, nodes.toSeq)
  }

  if (enabled) {
    sc.addSparkListener(new SparkListener {
      private def prop(p: java.util.Properties, k: String): Long =
        Option(p).flatMap(x => Option(x.getProperty(k))).map(_.toLong).getOrElse(-1L)

      override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
        jobs(e.jobId) = new JobRec(e.jobId, e.time, prop(e.properties, OpKey),
          prop(e.properties, SpanKey), prop(e.properties, "spark.sql.execution.id"), e.stageIds)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
        jobs.get(e.jobId).foreach(_.end = e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
        val i = e.stageInfo
        val s = stages.getOrElseUpdate((i.stageId, i.attemptNumber()), new StageRec(i.stageId, i.attemptNumber()))
        s.start = i.submissionTime.getOrElse(0L)
        s.end = i.completionTime.getOrElse(0L)
        s.accums = i.accumulables.keySet.toSet
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
        val s = stages.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageRec(e.stageId, e.stageAttemptId))
        s.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          s.runMs += m.executorRunTime; s.cpuNs += m.executorCpuTime; s.gcMs += m.jvmGCTime
          s.resultBytes += m.resultSize
          s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          s.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => Trace.this.synchronized { execStart(s.executionId) = s.time }
        case s: SparkListenerSQLExecutionEnd =>
          val info = SparkHooks.queryExecution(s).map { case (qe, name) =>
            planInfo(s.executionId, qe, name) }
          Trace.this.synchronized {
            execEnd(s.executionId) = s.time
            info.foreach(execs(s.executionId) = _)
          }
        case _ =>
      }
    })
  }

  /** Waits until the listeners have seen every event posted so far. */
  def drain(): Unit = if (enabled) SparkHooks.drain(sc)
}
