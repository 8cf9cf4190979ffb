package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** Entry point of the benchmark JVM (launched by perfbench/run.py).
  *
  * {{{
  * perfbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR --results DIR
  * perfbench.Main --digest --seed N
  * }}}
  *
  * Prints the per-kind figures as `perfbench:` lines and, last, one JSON
  * result line. With --trace 1 it also writes the spans and the per-layer
  * ledger next to the results. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val seed = opts("seed").toLong
    if (args.contains("--digest")) {
      println(new Inputs(seed, Workloads.sizes).digest())
      return
    }
    val workload = opts("workload")
    val seconds = opts("seconds").toInt
    val traced = opts("trace") == "1"
    val work = opts("work")
    val resultsDir = opts("results")
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the same choice graft.Bench makes: AQE re-plans these fixed-shape
      // kernels at measurable cost in local mode and buys nothing here
      .config("spark.sql.adaptive.enabled", "false")
      // a serving cycle (three map reads, an ingest and their checks)
      // generates more classes than the default 100-entry codegen cache
      // holds, so every cycle recompiled and re-JITted ~30 of them and a
      // run's speed followed how its JIT kept up
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    val in = new Inputs(seed, Workloads.sizes)
    val trace = new Trace(spark, traced)
    val wl = Workloads.byName(workload)
    // inputs and tables, stored state, warm-up: untimed ops, untraced
    val warmRec = new Recorder(new Trace(spark, false))
    val warmCtx = new Ctx(spark, in, seconds, warmRec)
    val p0 = System.nanoTime()
    wl.prepare(warmCtx, s"$work/data")
    val prepS = (System.nanoTime() - p0) / 1e9
    val w0 = System.nanoTime()
    wl.seed(warmCtx)
    val seedS = (System.nanoTime() - w0) / 1e9
    wl.warmup(warmCtx)
    val warmS = (System.nanoTime() - w0) / 1e9 - seedS
    val setup = sessionS + prepS + seedS + warmS

    val rec = new Recorder(trace)
    val ctx = new Ctx(spark, in, seconds, rec)
    val gc0 = Recorder.gcMs()
    wl.measure(ctx)
    val gcMs = Recorder.gcMs() - gc0
    trace.drain()
    val peakRss = Recorder.peakRssMb()
    val liveHeap = Recorder.liveHeapMb()

    val ops = rec.ops.toSeq
    // warm-up ops are checked too, so they count as attempts
    val attempted = ops.length + warmRec.ops.length
    val failed = ops.count(!_.ok) + warmRec.ops.count(!_.ok)
    val lat = ops.map(_.ms)
    // ops over the time spent in them (checks between ops excluded)
    val opsPerS = ops.length / (lat.sum / 1000.0)
    val cpuPerOp = ops.map(_.cpuMs).sum / ops.length
    def kind(k: String) = ops.filter(_.kind == k).map(_.ms)
    def pct(xs: Seq[Double], q: Double) = if (xs.isEmpty) Double.NaN else Stats.quantile(xs, q)

    val named: Seq[(String, Double, String)] = (workload match {
      case "nightly" => Seq(
        ("nightly_wall_s", lat.head / 1000, "s"), ("nightly_cpu_s", ops.head.cpuMs / 1000, "s"))
      case _ => Seq(
        ("map_p50_ms", pct(kind("map"), 0.5), "ms"), ("map_p90_ms", pct(kind("map"), 0.9), "ms"),
        ("ingest_p50_ms", pct(kind("ingest"), 0.5), "ms"))
    }) ++ Seq(("setup_s", setup, "s"), ("peak_rss_mb", peakRss, "MB"),
      ("live_heap_mb", liveHeap, "MB"),
      ("ops_failed_frac", failed.toDouble / attempted, "share"))
    named.foreach { case (k, v, u) => println(f"perfbench: $k%-16s $v%12.4f $u") }
    println(s"perfbench: ${ops.length} ops (${ops.groupBy(_.kind).map { case (k, v) =>
      s"$k=${v.length}" }.mkString(", ")}), " +
      f"prepare $prepS%.2f s, session $sessionS%.2f s, seed $seedS%.2f s, warm-up $warmS%.2f s")

    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("op_p50_ms", pct(lat, 0.5), "ms"), ("op_p90_ms", pct(lat, 0.9), "ms"),
        ("ops_per_s", opsPerS, "1/s"), ("cpu_ms_per_op", cpuPerOp, "ms"),
        ("live_heap_mb", liveHeap, "MB"), ("setup_s", setup, "s"))
      else {
        val ledger = new Ledger(trace, rec, gcMs)
        ledger.table().foreach(l => println(s"perfbench: $l"))
        writeFile(s"$resultsDir/$workload-seed$seed-spans.json", ledger.spansJson())
        writeFile(s"$resultsDir/$workload-seed$seed-ledger.json", ledger.ledgerJson())
        ledger.metrics()
      }
    val json = Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
    writeFile(s"$resultsDir/$workload-seed$seed-trace${if (traced) 1 else 0}.json",
      Json.obj(Seq("result" -> json,
        "named" -> Json.obj(named.map { case (k, v, u) =>
          k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
        "prepare_s" -> Json.num(prepS),
        "ops" -> Json.arr(ops.map(o => Json.obj(Seq("kind" -> Json.str(o.kind),
          "ms" -> Json.num(o.ms), "ok" -> o.ok.toString)))))))
    spark.stop()
    println(json)
  }

  private def writeFile(path: String, body: String): Unit = {
    new File(path).getParentFile.mkdirs()
    val w = new PrintWriter(path, "UTF-8")
    try w.println(body) finally w.close()
  }
}
