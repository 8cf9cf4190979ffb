package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Turns the traced run's spans into per-layer self times and counts.
  *
  * Each op is a tree: op span → benchmark call spans → SQL executions →
  * jobs → stages. A node's self time is its interval minus the union of its
  * children's, so the self times of one tree sum to the op's span plus any
  * time where siblings ran concurrently; the table reports that sum against
  * the op spans. Self time is labelled:
  *  - stage: by the plan operators whose metrics the stage updated (kernel
  *    join or cell fan-out → kernel; weather scans and pattern assembly →
  *    weather; the delta fold → pipeline.fold; the map join →
  *    analytics.map; otherwise the sub-layer of the call that launched it);
  *  - job outside its stages → `scheduling`;
  *  - write execution after its last job → `commit`;
  *  - other time outside jobs → `driver`, except a call that launched no
  *    job at all (retention), whose time is its own layer's;
  *  - anything under the benchmark's output checks → `check`. */
final class Ledger(trace: Trace, rec: Recorder, gcMs: Double) {
  import Ledger._
  private type Iv = (Long, Long)

  val Labels = Seq("kernel", "weather.current", "weather.assemble", "pipeline.write",
    "pipeline.verify", "pipeline.retain", "pipeline.fold", "pipeline.merge", "analytics.map",
    "driver", "scheduling", "commit", "check", "other")


  private def union(ivs: Seq[Iv]): Long = {
    var total = 0L; var cs = Long.MinValue; var ce = Long.MinValue
    ivs.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > ce) { if (ce > cs) total += ce - cs; cs = s; ce = e }
      else ce = math.max(ce, e)
    }
    if (ce > cs) total += ce - cs
    total
  }
  private def clip(iv: Iv, w: Iv): Iv = (math.max(iv._1, w._1), math.min(iv._2, w._2))

  private val spans = trace.spans.asScala.toSeq.filter(_.end >= 0)
  // top-level check spans (sampled checks after the timed loop) are not ops
  private val ops = spans.filter(s => s.parent == 0L && s.label != "check")
  private val nodeOf: Map[Long, NodeInfo] =
    trace.execs.values.flatMap(e => e.nodes.flatMap(n => n.metrics.values.map(_._1 -> n))).toMap
  private val stageOwner: Map[Int, JobRec] =
    trace.jobs.values.toSeq.sortBy(-_.id).flatMap(j => j.stages.map(_ -> j)).toMap
  private val stageRecs: Map[Int, StageRec] =
    trace.stages.values.groupBy(_.id).map { case (id, rs) => id -> rs.maxBy(_.attempt) }
      .filter { case (_, s) => s.start > 0 && s.end >= s.start }

  private def pairJoin(n: NodeInfo) =
    n.kind.contains("Join") && n.output("lat") && n.output("a_lat")
  private def isScanOf(n: NodeInfo, table: String) =
    n.scanPath.split(",").exists(_.endsWith("/" + table))

  /** Layer of a stage, from the operators it ran. */
  private def classify(s: StageRec, callLabel: String, exec: Option[ExecInfo]): String = {
    val nodes = s.accums.toSeq.flatMap(nodeOf.get)
    def has(f: NodeInfo => Boolean) = nodes.exists(f)
    if (callLabel == "check") "check"
    else if (has(isScanOf(_, "current_weather"))) "weather.current"
    else if (has(n => isScanOf(n, "weather") || n.output("recs") || n.output("cur_pattern")))
      "weather.assemble"
    else if (has(n => pairJoin(n) || n.output("__dlon") || isScanOf(n, "accidents"))) "kernel"
    else if (has(_.output("d_total"))) "pipeline.fold"
    else if (has(n => n.output("eff_lat") || isScanOf(n, "mp_routes"))) "analytics.map"
    else callLabel match {
      case "pipeline" if exec.exists(_.isWrite) && rec.ops.exists(_.kind == "nightly") => "pipeline.write"
      case "pipeline" if rec.ops.exists(_.kind == "nightly") => "pipeline.verify"
      case "pipeline" => "pipeline.merge"
      case "analytics" => "analytics.map"
      case "kernel" => "kernel"
      case _ => "other"
    }
  }

  private val opTrees: Seq[(Span, Node)] = ops.map { op =>
    val calls = spans.filter(_.parent == op.id)
    val jobs = trace.jobs.values.filter(_.op == op.id).toSeq.sortBy(_.id)
    def stageNodes(j: JobRec, callLabel: String, exec: Option[ExecInfo]): Seq[Node] =
      j.stages.filter(id => stageOwner.get(id).contains(j)).flatMap(stageRecs.get).map { s =>
        Node(s.start, s.end, classify(s, callLabel, exec), Nil, "stage", s"stage ${s.id}",
          stage = Some(s))
      }
    def jobNode(j: JobRec, callLabel: String, exec: Option[ExecInfo]): Node =
      Node(j.start, if (j.end > 0) j.end else j.start,
        if (callLabel == "check") "check" else "scheduling",
        stageNodes(j, callLabel, exec), "job", s"job ${j.id}")
    def under(parent: Long, callLabel: String): Seq[Node] = {
      val js = jobs.filter(_.span == parent)
      val (withExec, bare) = js.partition(_.exec >= 0)
      bare.map(jobNode(_, callLabel, None)) ++ withExec.groupBy(_.exec).toSeq.sortBy(_._1).map {
        case (eid, ej) =>
          val info = trace.execs.get(eid)
          val s = trace.execStart.getOrElse(eid, ej.map(_.start).min)
          val e = trace.execEnd.getOrElse(eid, ej.map(_.end).max)
          val lastJob = ej.map(_.end).max
          val base = if (callLabel == "check") "check" else "driver"
          val tail = if (info.exists(_.isWrite) && callLabel != "check") Some(lastJob -> "commit") else None
          Node(s, e, base, ej.map(jobNode(_, callLabel, info)), "exec",
            s"execution $eid ${info.map(_.funcName).getOrElse("")}", tail)
      }
    }
    val callNodes = calls.map { c =>
      val kids = under(c.id, c.label)
      // a call that launched no job did driver-side work: building plans,
      // or (retention) file-system calls of its own layer
      val label = if (c.label == "check") "check"
        else if (kids.isEmpty && Labels.contains(c.label)) c.label else "driver"
      Node(c.start, c.end, label, kids, "call", c.name)
    }
    op -> Node(op.start, op.end, "driver", callNodes ++ under(op.id, op.label), "op", op.name)
  }

  /** Self time per label over one tree, clipped to the op's window. */
  private def selfTimes(n: Node, w: Iv, acc: mutable.Map[String, Long]): Unit = {
    val iv = clip((n.start, n.end), w)
    if (iv._2 <= iv._1) return
    val covered = n.children.map(c => clip((c.start, c.end), iv))
    n.tailLabel match {
      case Some((from, label)) if from < iv._2 =>
        val headIv = (iv._1, math.max(iv._1, from)); val tailIv = (math.max(iv._1, from), iv._2)
        acc(n.label) += (headIv._2 - headIv._1) - union(covered.map(clip(_, headIv)))
        acc(label) += (tailIv._2 - tailIv._1) - union(covered.map(clip(_, tailIv)))
      case _ => acc(n.label) += (iv._2 - iv._1) - union(covered)
    }
    n.children.foreach(selfTimes(_, iv, acc))
  }

  private val selfByOp: Seq[(Span, Map[String, Long])] = opTrees.map { case (op, tree) =>
    val acc = mutable.Map.empty[String, Long].withDefaultValue(0L)
    selfTimes(tree, (op.start, op.end), acc)
    op -> acc.toMap
  }

  /** Per op kind: op span total and each label's self time. */
  def table(): Seq[String] = {
    val header = f"${"op"}%-8s ${"n"}%4s ${"span_ms"}%10s " +
      Labels.map(l => f"$l%16s").mkString(" ") + f" ${"sum/span"}%9s"
    header +: selfByOp.groupBy(_._1.label).toSeq.sortBy(_._1).map { case (k, xs) =>
      val span = xs.map(x => x._1.end - x._1.start).sum.toDouble
      val by = Labels.map(l => xs.map(_._2.getOrElse(l, 0L)).sum.toDouble)
      f"$k%-8s ${xs.length}%4d ${span / xs.length}%10.1f " +
        by.map(v => f"${v / xs.length}%16.1f").mkString(" ") + f" ${by.sum / span * 100}%8.1f%%"
    }
  }

  /** Jobs the timed ops launched, outside the benchmark's checks. */
  private def opJobs: Seq[JobRec] = {
    val opIds = ops.map(_.id).toSet
    val checkSpans = spans.filter(_.label == "check").map(_.id).toSet
    trace.jobs.values.filter(j => opIds(j.op) && !checkSpans(j.span)).toSeq
  }
  private def opExecs: Seq[ExecInfo] = opJobs.map(_.exec).distinct.flatMap(trace.execs.get)

  def metrics(): Seq[(String, Double, String)] = {
    val n = ops.length.toDouble
    val self = Labels.map(l => l -> selfByOp.map(_._2.getOrElse(l, 0L)).sum.toDouble).toMap
    // stages with their labels, outside checks
    val labelled: Seq[(StageRec, String)] = opTrees.flatMap { case (_, t) =>
      def walk(x: Node): Seq[Node] = x +: x.children.flatMap(walk)
      walk(t).flatMap(x => x.stage.map(_ -> x.label))
    }.filter(_._2 != "check")
    def stagesOf(p: String => Boolean) = labelled.filter(x => p(x._2)).map(_._1)
    val kernel = stagesOf(_ == "kernel")
    val weather = stagesOf(_.startsWith("weather"))
    val analytics = stagesOf(_ == "analytics.map")
    val all = labelled.map(_._1)
    val nodes = opExecs.flatMap(_.nodes)
    def rows(ns: Seq[NodeInfo]) = ns.map(_.metrics.get("numOutputRows").map(_._2).getOrElse(0L)).sum.toDouble
    val pairs = rows(nodes.filter(pairJoin))
    val candidates = rows(nodes.filter(n => pairJoin(n) && n.kind != "BroadcastNestedLoopJoin"))
    val gated = rows(nodes.filter(n => n.filterRefs("dist_km") && n.filterRefs("__gate_km")))
    val writes = opExecs.filter(_.isWrite).flatMap(_.nodes.filter(_.kind == "Execute InsertIntoHadoopFsRelationCommand"))
    def wm(k: String) = writes.map(_.metrics.get(k).map(_._2).getOrElse(0L)).sum.toDouble
    val rowsWritten = wm("numOutputRows")
    // routes whose totals an ingest changed: the delta aggregate's output
    // rows, counted once per execution (the MERGE evaluates the delta in
    // two branches of one plan)
    val changed = if (rec.ops.exists(_.kind == "ingest"))
      opExecs.map(e => e.nodes.filter(n => n.kind == "HashAggregateFinal" && n.output("total_influence"))
        .map(_.metrics.get("numOutputRows").map(_._2).getOrElse(0L)).maxOption.getOrElse(0L)).sum.toDouble
      else rowsWritten
    val kernelTask = kernel.map(_.runMs).sum.toDouble
    def per(v: Double) = v / n
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    Seq(
      ("driver.plan_ms", per(opExecs.map(_.planMs).sum.toDouble), "ms"),
      ("driver.jobs", per(opJobs.length), "count"),
      ("driver.tasks", per(all.map(_.tasks).sum.toDouble), "count"),
      ("driver.self_ms", per(self("driver")), "ms"),
      ("kernel.self_ms", per(self("kernel")), "ms"),
      ("kernel.task_ms", per(kernelTask), "ms"),
      ("kernel.cpu_ms", per(kernel.map(_.cpuNs).sum / 1e6), "ms"),
      ("kernel.gc_ms", per(kernel.map(_.gcMs).sum.toDouble), "ms"),
      ("kernel.pairs", per(pairs), "count"),
      ("kernel.ns_per_pair", ratio(kernelTask * 1e6, pairs), "ns"),
      ("kernel.probe_rows", per(rows(nodes.filter(_.output("__dlon")))), "count"),
      ("kernel.candidates", per(candidates), "count"),
      ("kernel.gated_pairs", per(gated), "count"),
      ("kernel.gate_yield", ratio(gated, candidates), "ratio"),
      ("weather.current_ms", per(self("weather.current")), "ms"),
      ("weather.assemble_ms", per(self("weather.assemble")), "ms"),
      ("weather.rows_read", per(rows(nodes.filter(n => isScanOf(n, "weather") ||
        isScanOf(n, "current_weather")))), "count"),
      ("weather.shuffle_bytes", per(weather.map(_.shuffleBytes).sum.toDouble), "bytes"),
      ("pipeline.write_ms", per(self("pipeline.write")), "ms"),
      ("pipeline.verify_ms", per(self("pipeline.verify")), "ms"),
      ("pipeline.retain_ms", per(self("pipeline.retain")), "ms"),
      ("pipeline.fold_ms", per(self("pipeline.fold")), "ms"),
      ("pipeline.merge_ms", per(self("pipeline.merge")), "ms"),
      ("pipeline.commit_ms", per(self("commit")), "ms"),
      ("pipeline.rows_written", per(rowsWritten), "count"),
      ("pipeline.bytes_written", per(wm("numOutputBytes")), "bytes"),
      ("pipeline.files_written", per(wm("numFiles")), "count"),
      ("pipeline.write_amp", ratio(rowsWritten, changed), "ratio"),
      ("analytics.map_ms", per(self("analytics.map")), "ms"),
      ("analytics.rows_out", per(rec.counters("analytics.rows_out")), "count"),
      ("analytics.result_bytes", per(analytics.map(_.resultBytes).sum.toDouble), "bytes"),
      ("analytics.scan_files", per(opExecs.filter(_.nodes.exists(_.output("eff_lat")))
        .flatMap(_.nodes.filter(_.scanPath.nonEmpty)).map(_.metrics.get("numFiles").map(_._2).getOrElse(0L)).sum.toDouble), "count"),
      ("exchange.shuffle_write_bytes", per(all.map(_.shuffleBytes).sum.toDouble), "bytes"),
      ("exchange.shuffle_records", per(all.map(_.shuffleRecords).sum.toDouble), "count"),
      ("exchange.spill_bytes", per(all.map(_.spillBytes).sum.toDouble), "bytes"),
      ("jvm.gc_ms", per(gcMs), "ms"),
      ("scheduling.self_ms", per(self("scheduling")), "ms"),
      ("check.self_ms", per(self("check")), "ms"))
  }

  def spansJson(): String = Json.arr(opTrees.map { case (op, tree) =>
    def render(x: Node, parent: String, path: String): Seq[String] = {
      val id = s"$path"
      Json.obj(Seq("op" -> op.id.toString, "id" -> Json.str(id), "parent" -> Json.str(parent),
        "kind" -> Json.str(x.kind), "name" -> Json.str(x.name), "label" -> Json.str(x.label),
        "start" -> x.start.toString, "end" -> x.end.toString)) +:
        x.children.zipWithIndex.flatMap { case (c, i) => render(c, id, s"$path.$i") }
    }
    render(tree, "", s"${op.id}")
  }.flatten)

  def ledgerJson(): String = Json.obj(Seq(
    "table" -> Json.arr(table().map(Json.str)),
    "metrics" -> Json.obj(metrics().map { case (k, v, u) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })))
}

object Ledger {
  /** A node of an op's tree; `tailLabel` labels the self time after a
    * point in time differently (a write's commit after its last job). */
  private final case class Node(start: Long, end: Long, label: String, children: Seq[Node],
                                kind: String, name: String, tailLabel: Option[(Long, String)] = None,
                                stage: Option[StageRec] = None)
}
