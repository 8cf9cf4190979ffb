package graft.bench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only paired timer for the ingest delta as the batch grows: the
  * pruned fold (`ScoringPipeline.accidentDeltaTotals`, `pruned = true`)
  * against the exact fold (`pruned = false`, which scores every pair), over
  * `graft.Bench`'s synthetic routes and accidents. Per batch size it runs
  * each side once to warm up, then `reps` pairs in alternating order, and
  * prints the median and quartiles of each side's seconds and the median
  * per-pair ratio. Test-tree main: running it never moves the src/main
  * stamp.
  *
  *   sbt 'Test/runMain graft.bench.IngestBatchBench [routes] [batch,batch,…] [reps] [cores] [spread]'
  *
  * Defaults: 20000 routes, batches 100,1000,7000,30000, 5 reps, 4 cores,
  * spread 1. A `spread` s ≠ 1 stretches both sides' coordinates: the
  * synthetic 20° × 30° box becomes 20·s° × 30·s° from 60°S 180°W
  * (latitude clamped at 70°N). Fewer pairs then fall inside a gate, and
  * both folds skip more of them without trig.
  */
object IngestBatchBench {
  def main(args: Array[String]): Unit = {
    val nRoutes = args.lift(0).fold(20000L)(_.toLong)
    val batches = args.lift(1).fold(Seq(100L, 1000L, 7000L, 30000L))(_.split(',').map(_.toLong).toSeq)
    val reps = args.lift(2).fold(5)(_.toInt)
    val cores = args.lift(3).fold(4)(_.toInt)
    val spread = args.lift(4).fold(1.0)(_.toDouble)
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val planDate = to_date(lit("2024-07-15"))
    def stretch(df: DataFrame, lat: String, lon: String): DataFrame =
      if (spread == 1.0) df
      else df.withColumn(lat, least(lit(70.0), lit(-60.0) + (col(lat) - 35.0) * spread))
        .withColumn(lon, pmod((col(lon) + 125.0) * spread, lit(360.0)) - 180.0)
    val routes = stretch(graft.Bench.syntheticRoutes(spark, nRoutes), "lat", "lon")
      .localCheckpoint()
    def time(df: DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
      val s = xs.sorted
      def q(p: Double): Double = {
        val x = p * (s.size - 1)
        val i = x.toInt
        if (i + 1 < s.size) s(i) + (x - i) * (s(i + 1) - s(i)) else s(i)
      }
      (q(0.25), q(0.5), q(0.75))
    }
    batches.foreach { n =>
      val batch = stretch(graft.Bench.syntheticAccidents(spark, n), "a_lat", "a_lon")
        .localCheckpoint()
      def delta(pruned: Boolean): Double = time(
        graft.pipeline.ScoringPipeline.accidentDeltaTotals(routes, batch, planDate, pruned))
      def fold(): Double = delta(pruned = true)
      def exact(): Double = delta(pruned = false)
      fold(); exact()
      val pairs = (0 until reps).map { r =>
        if (r % 2 == 0) { val f = fold(); (f, exact()) }
        else { val e = exact(); (fold(), e) }
      }
      val (f25, f50, f75) = quartiles(pairs.map(_._1))
      val (e25, e50, e75) = quartiles(pairs.map(_._2))
      val ratio = quartiles(pairs.map { case (f, e) => f / e })._2
      val foldWins = pairs.count { case (f, e) => f < e }
      println(f"[ingestbench] routes=$nRoutes%d batch=$n%d cores=$cores%d reps=$reps%d spread=$spread%.0f " +
        f"fold_s=$f50%.3f [$f25%.3f,$f75%.3f] exact_s=$e50%.3f [$e25%.3f,$e75%.3f] " +
        f"fold/exact=$ratio%.2f fold_wins=$foldWins%d/$reps%d")
    }
    spark.stop()
  }
}
