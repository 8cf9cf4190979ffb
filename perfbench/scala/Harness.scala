package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

/** One timed operation: its kind, wall latency, process CPU over the op
  * and whether its output checks passed. */
final case class OpRecord(kind: String, ms: Double, cpuMs: Double, var ok: Boolean)

/** The timed loop's bookkeeping, shared by every workload. */
final class Recorder(val trace: Trace) {
  val ops = mutable.ArrayBuffer.empty[OpRecord]
  /** Benchmark-side counts the traced run reports (rows a call returned). */
  val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  /** Runs one op. The body returns whether its inline checks passed; an
    * exception counts as a failed op. CPU is process-wide: ops run one at a
    * time. */
  def op(kind: String)(body: => Boolean): OpRecord = {
    val c0 = Recorder.cpuMs(); val t0 = System.nanoTime()
    val ok = try trace.op(kind)(body) catch {
      case NonFatal(e) => Console.err.println(s"perfbench: $kind failed: $e"); false
    }
    val rec = OpRecord(kind, (System.nanoTime() - t0) / 1e6, Recorder.cpuMs() - c0, ok)
    synchronized { ops += rec }
    rec
  }

  def count(name: String, v: Double): Unit = synchronized { counters(name) += v }
}

object Recorder {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuMs(): Double = os.getProcessCpuTime / 1e6
  def gcMs(): Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble
  }
  /** Heap still in use after a full collection, in MB: what the process
    * retains (caches, broadcasts, plans) once the timed ops are done. */
  def liveHeapMb(): Double = {
    // Spark's ContextCleaner drops broadcasts and checkpoint blocks only
    // after a GC has freed their owners, so collect until it has caught up
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
  /** VmHWM: the process's peak resident set, in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}

object Stats {
  /** Linear-interpolated quantile (the default of numpy and R type 7). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** Minimal JSON rendering for the result line and the trace files. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
}
