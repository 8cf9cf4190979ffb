package graft.bench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One opt-in kernel linearity point at an arbitrary routes multiplier —
  * the tool for extending the wall-vs-routes series beyond the committed
  * `kernel_batch_10x` (1.68M) / `kernel_batch_100x` (16.8M) entries,
  * e.g. a 500× point at 84M routes × 69K accidents ≈ 5.8T raw
  * pair-candidates.
  *
  * The generators and kernel under test are the same
  * `graft.Bench.syntheticRoutes/syntheticAccidents` and
  * `graft.kernel.KernelPruning.scoreRoutesPruned` (the pruned fold) the
  * committed `kernel_batch_10x/100x` entries run — this file adds no
  * third code path, only a multiplier knob. The committed series in
  * LINEARITY.md was measured on the grid-cell join the fold replaced.
  *
  * Run: SPARK_GRAFT_CPUS=32 sbt 'Test/runMain graft.bench.LinearityPoint 500'
  * Prints one bare JSON line: {"metric":"kernel_batch_500x","value":…}.
  */
object LinearityPoint {
  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(500)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // same rationale as Bench.main: AQE re-plans this fixed-shape
      // single-stage kernel at measurable cost and buys nothing in local
      // mode (no skewed shuffle; broadcast side already hinted)
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val routes = graft.Bench.syntheticRoutes(spark, 168000L * mult)
    val accidents = graft.Bench.syntheticAccidents(spark, 69000)
    val planDate = to_date(lit("2024-07-15"))
    val t0 = System.nanoTime()
    graft.kernel.KernelPruning.scoreRoutesPruned(routes, accidents, planDate)
      .write.format("noop").mode("overwrite").save()
    val wall = (System.nanoTime() - t0) / 1e9
    spark.stop()
    println(f"""{"metric":"kernel_batch_${mult}%dx","value":$wall%.1f,"unit":"sec","routes":${168000L * mult}%d,"accidents":69000}""")
  }
}
