package graft.weather

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.expr.WeatherPatternSimilarity

/** Composite weather-similarity fidelity — expected values produced by
  * executing the reference calculate_weather_similarity on these exact
  * patterns (test_safety_algorithm.py reference_weather fixture + an
  * adversarial winter pattern). The composite and its detail are the
  * native [[WeatherPatternSimilarity]] every caller uses.
  */
class WeatherExprsSpec extends SparkSpec {

  private def arr(xs: Double*): Column = array(xs.map(lit): _*)

  private def temps(minAvgMax: (Double, Double, Double)*): Column =
    array(minAvgMax.map { case (mn, av, mx) =>
      struct(lit(mn).as("min"), lit(av).as("avg"), lit(mx).as("max"))
    }: _*)

  /** The reference summer fixture. */
  private val wp1: Column = WeatherExprs.pattern(
    arr(15, 16, 17, 18, 19, 18, 17), arr(0, 0, 2, 1, 0, 0, 0),
    arr(5, 6, 7, 8, 6, 5, 4), arr(10, 10, 8, 9, 10, 10, 10),
    arr(20, 30, 60, 50, 30, 20, 10),
    temps((10, 15, 20), (11, 16, 21), (12, 17, 22), (13, 18, 23),
      (14, 19, 24), (13, 18, 23), (12, 17, 22)))

  /** Adversarial winter pattern (anti-correlated, freeze-thaw every day). */
  private val wp2: Column = WeatherExprs.pattern(
    arr(5, 4, 3, 2, 1, 2, 3), arr(5, 6, 7, 8, 9, 8, 7),
    arr(15, 16, 17, 18, 16, 15, 14), arr(5, 5, 4, 4, 5, 5, 5),
    arr(80, 85, 90, 95, 85, 80, 75),
    temps((-5, 0, 5), (-4, 1, 6), (-3, 2, 7), (-2, 3, 8),
      (-1, 4, 9), (-2, 3, 8), (-3, 2, 7)))

  test("self-similarity ≈ 1 (reference: 0.9999999999999998)") {
    assert(approx(evalDouble(WeatherPatternSimilarity.similarity(wp1, wp1)),
      0.9999999999999998, 1e-9))
  }

  test("dissimilar patterns: reference exact value, symmetric") {
    val a = evalDouble(WeatherPatternSimilarity.similarity(wp1, wp2))
    val b = evalDouble(WeatherPatternSimilarity.similarity(wp2, wp1))
    assert(approx(a, 0.6549681645127438, 1e-9), s"got $a")
    assert(approx(a, b, 1e-12))
  }

  test("pattern with <5 days is invalid → similarity 0") {
    val short = WeatherExprs.pattern(
      arr(15, 16, 17), arr(0, 0, 0), arr(5, 5, 5), arr(10, 10, 10),
      arr(20, 20, 20), temps((10, 15, 20), (10, 15, 20), (10, 15, 20)))
    assert(evalDouble(WeatherPatternSimilarity.similarity(short, wp1)) == 0.0)
    assert(evalDouble(WeatherPatternSimilarity.similarity(wp1, short)) == 0.0)
  }

  test("detailed breakdown: factors sum to the composite, invalid → zeros") {
    val d = spark.range(1)
      .select(WeatherPatternSimilarity.detailed(wp1, wp2).as("ws")).select("ws.*").head()
    // weighted sum of the emitted factors IS the composite (shared core)
    val factors = Seq("score_temperature", "score_precipitation",
      "score_wind_speed", "score_visibility", "score_cloud_cover",
      "score_freeze_thaw")
    val recomposed = factors.map(d.getAs[Double]).sum * WeatherExprs.FactorWeight
    assert(approx(recomposed, d.getAs[Double]("similarity"), 1e-12))
    assert(approx(d.getAs[Double]("similarity"), 0.6549681645127438, 1e-9))
    // diagnostics: wp1 has no freeze-thaw days, wp2 crosses zero daily
    val counts = Seq("ft_current", "ft_accident", "days_compared")
    assert(counts.map(d.getAs[Long]) == Seq(0L, 7L, 7L))
    // every factor score is a valid normalized correlation
    factors.foreach(f => {
      val v = d.getAs[Double](f)
      assert(v >= 0.0 && v <= 1.0, s"$f = $v out of [0,1]")
    })
    // invalid pattern: all detail columns zero, like the reference's
    // empty-dict-and-zeros return
    val short = WeatherExprs.pattern(
      arr(15, 16, 17), arr(0, 0, 0), arr(5, 5, 5), arr(10, 10, 10),
      arr(20, 20, 20), temps((10, 15, 20), (10, 15, 20), (10, 15, 20)))
    val inv = spark.range(1)
      .select(WeatherPatternSimilarity.detailed(short, wp1).as("ws")).select("ws.*").head()
    assert(inv.getAs[Double]("similarity") == 0.0)
    factors.foreach(f => assert(inv.getAs[Double](f) == 0.0, f))
    assert(counts.map(inv.getAs[Long]) == Seq(0L, 0L, 0L))
  }

  test("freeze-thaw closeness formula") {
    // ft 7 vs 0: 1 - 7/(max(7,0,1)+7) = 0.5
    assert(approx(evalDouble(WeatherSimStaged.freezeThawSimilarity(lit(7), lit(0))), 0.5))
    assert(approx(evalDouble(WeatherSimStaged.freezeThawSimilarity(lit(3), lit(3))), 1.0))
    // 0 vs 0: max(0,0,1)=1 → 1 - 0/8 = 1
    assert(approx(evalDouble(WeatherSimStaged.freezeThawSimilarity(lit(0), lit(0))), 1.0))
  }

  test("extreme multiplier: z-score beyond 2 SD amplifies per-factor") {
    def stats(windMean: Double, windStd: Double): Column = struct(
      lit(windMean).as("wind_speed_mean"), lit(windStd).as("wind_speed_std"),
      lit(1.0).as("precipitation_mean"), lit(10.0).as("precipitation_std"),
      lit(17.0).as("temperature_mean"), lit(10.0).as("temperature_std"),
      lit(9.57).as("visibility_mean"), lit(10.0).as("visibility_std"))
    // wp1 wind mean = (5+6+7+8+6+5+4)/7 = 5.857…; all z small → 1.0
    assert(approx(evalDouble(WeatherExprs.extremeMultiplier(wp1, stats(5.857, 5.0))), 1.0, 1e-6))
    // wind mean 5.857, hist mean 0, std 1 → z=5.857 → 1 + (5.857-2)·0.2
    val m = evalDouble(WeatherExprs.extremeMultiplier(wp1, stats(0.0, 1.0)))
    val windMean = (5.0 + 6 + 7 + 8 + 6 + 5 + 4) / 7
    assert(approx(m, 1.0 + (windMean - 2.0) * 0.2, 1e-9), s"got $m")
    // zero std → factor skipped
    assert(approx(evalDouble(WeatherExprs.extremeMultiplier(wp1, stats(0.0, 0.0))), 1.0, 1e-6))
  }
}
