package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only plan capture (not part of the library surface): writes
  * `.explain("formatted")` output for the bench-level query shapes to
  * `plans/<tag>/<name>_<suffix>.txt` so optimization rounds can commit
  * before/after plan evidence. Usage:
  *
  * {{{ sbt "Test/runMain graft.PlanDump r17 before [name,...]" }}}
  *
  * Explain only — nothing is executed, so this is safe to run while the
  * testdata host is busy.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val tag = args.headOption.getOrElse("r17")
    val suffix = if (args.length > 1) args(1) else "before"
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").map(_.trim).toSet) else None
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    val planDate = to_date(lit("2024-07-15"))
    val frames: Seq[(String, () => DataFrame)] = Seq(
      "kernel_batch_10x_pruned" -> (() =>
        graft.kernel.KernelPruning.scoreRoutesPruned(
          Bench.syntheticRoutes(spark, 1680000),
          Bench.syntheticAccidents(spark, 69000), planDate)),
      "nightly_compute_3dates" -> (() =>
        graft.pipeline.ScoringPipeline.computeDailyScores(
          Bench.syntheticRoutes(spark, 168000),
          Bench.syntheticAccidents(spark, 6900),
          Seq("2024-07-15", "2024-07-16", "2024-07-17"))),
      "ann_pq_encode_1m" -> (() => Bench.annEncode(spark, 1000000L)),
      "ann_pq_1m" -> (() => Bench.annPq1m(spark)),
      "ann_ivfpq_1m" -> (() => Bench.annIvfPq1m(spark)),
      "lsh_skew" -> (() => Bench.lshSkew(spark, sfDir)),
      // NB: constructing this frame builds the bloom filter eagerly
      // (count + aggregate over the 10M corpus) — slower than the other
      // explain-only frames, but still minutes-safe
      "bloom_10m" -> (() => Bench.bloom10m(spark)))

    val dir = java.nio.file.Paths.get("plans", tag)
    java.nio.file.Files.createDirectories(dir)
    var failed = 0
    frames.filter(kv => only.forall(_.contains(kv._1))).foreach { case (name, mk) =>
      try {
        val df = mk()
        // same rendering as df.explain("formatted"), captured instead of printed
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        java.nio.file.Files.writeString(dir.resolve(s"${name}_$suffix.txt"), txt)
        println(s"[plandump] wrote ${dir.resolve(s"${name}_$suffix.txt")}")
      } catch {
        case e: Throwable =>
          failed += 1
          println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
    // a scripted before/after capture must not silently produce a partial
    // plan set (round-18 advisor fix)
    if (failed > 0) sys.exit(1)
  }
}
