package graft.weather

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.expr.StatsExprs

/** 7-day weather-pattern helpers (SURVEY A3-A5, A7): the pattern struct,
  * the similarity's constants and the extreme-weather multiplier, as
  * column arithmetic over array columns — per-row math, no shuffle, no
  * UDF. The similarity itself is the native
  * [[graft.expr.WeatherPatternSimilarity]].
  *
  * A pattern is a struct column with fields:
  *   temperature, precipitation, wind_speed, visibility, cloud_cover
  *     — each ArrayType(DoubleType), oldest day first —
  *   daily_temps — ArrayType(StructType(min, avg, max))
  *
  * Reference: `backend/app/services/weather_similarity.py:88-218`, factor
  * weights `algorithm_config.py:164-171` (equal 1/6), validity ≥5 of 7 days
  * (`algorithm_config.py:270`).
  */
object WeatherExprs {

  val MinWeatherDaysRequired = 5
  val FactorWeight: Double = 1.0 / 6

  /** Struct-typed pattern builder (fields in canonical order). */
  def pattern(temperature: Column, precipitation: Column, windSpeed: Column,
              visibility: Column, cloudCover: Column, dailyTemps: Column): Column =
    struct(
      temperature.as("temperature"), precipitation.as("precipitation"),
      windSpeed.as("wind_speed"), visibility.as("visibility"),
      cloudCover.as("cloud_cover"), dailyTemps.as("daily_temps"))

  val ExtremeSdThreshold = 2.0
  /** Per-factor penalty per SD beyond threshold (`algorithm_config.py:177-182`). */
  val ExtremePenalty: Map[String, Double] = Map(
    "wind_speed" -> 0.20, "precipitation" -> 0.20,
    "temperature" -> 0.20, "visibility" -> 0.25)

  /** Extreme-weather multiplier (A7): 1 + Σ_factors (|z| − 2)·penalty for
    * factors whose current-window mean is > 2 SD from the historical mean
    * (`weather_similarity.py:230-344`). `stats` is a struct with fields
    * `<factor>_mean` / `<factor>_std`; zero/null std → factor skipped.
    */
  def extremeMultiplier(current: Column, stats: Column): Column = {
    val terms = Seq("wind_speed", "precipitation", "temperature", "visibility").map { f =>
      val cur = StatsExprs.arrayMean(current.getField(f))
      val mu = stats.getField(s"${f}_mean")
      val sd = stats.getField(s"${f}_std")
      val z = abs((cur - mu) / sd)
      when(sd.isNull || sd === 0.0, lit(0.0))
        .otherwise(when(z > ExtremeSdThreshold,
          (z - ExtremeSdThreshold) * ExtremePenalty(f)).otherwise(lit(0.0)))
    }
    lit(1.0) + terms.reduce(_ + _)
  }
}
