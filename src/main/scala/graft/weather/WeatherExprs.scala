package graft.weather

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.expr.StatsExprs

/** 7-day weather-pattern similarity (SURVEY A3-A5, A7) as pure column
  * arithmetic over array columns — per-row math, no shuffle, no UDF.
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

  /** `(corr + 1) / 2` — Pearson [-1,1] → [0,1] (`weather_similarity.py:146`). */
  def factorScore(corr: Column): Column = (corr + lit(1.0)) / 2

  /** Freeze-thaw closeness: `max(0, 1 − |Δft| / (max(ft_a, ft_b, 1) + 7))`
    * (`weather_similarity.py:196-203`).
    */
  def freezeThawSimilarity(ftA: Column, ftB: Column): Column =
    greatest(lit(0.0),
      lit(1.0) - abs(ftA - ftB) / (greatest(ftA, ftB, lit(1)) + lit(7)))

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

  /** Base 6-factor similarity (no extreme-weather amplification) as
    * staged (let-bound) columns — the Column-expression twin of the native
    * [[graft.expr.WeatherPatternSimilarity]]: every shared subexpression
    * (patterns, weights, per-factor moments) becomes a materialized column
    * in its own projection, so the expression DAG is evaluated once per
    * value instead of exponentially re-expanded (a single-Column spelling
    * duplicates the weight-normalization subtree ~5× per factor and the
    * moment subtrees on top of that — O(seconds) per thousand rows).
    * Invalid pattern on either side (< 5 days) → 0.0
    * (`weather_similarity.py:124-126`); arithmetic and operation order
    * match the native kernel bit-for-bit.
    */
  def withWeatherSimilarity(df: org.apache.spark.sql.DataFrame, current: Column,
                            accident: Column, out: String): org.apache.spark.sql.DataFrame =
    withWeatherSimilarityStaged(df, current, accident, out, detailPrefix = None)

  /** Detailed twin of the reference's
    * `calculate_weather_similarity_detailed` (`weather_similarity.py:347-483`):
    * alongside `out`, emits per-factor scores and diagnostics under
    * `prefix`: `<prefix>score_{temperature,precipitation,wind_speed,
    * visibility,cloud_cover,freeze_thaw}`, `<prefix>ft_current`,
    * `<prefix>ft_accident`, `<prefix>days_compared`. Shares the staged core
    * with [[withWeatherSimilarity]], so the composite is the weighted sum
    * of the emitted factors bit-for-bit. Divergence from the reference's
    * dict shape: an INVALID pattern (< 5 days) yields all-zero scores and
    * counts (the relational spelling of its empty-dict-and-zeros return).
    */
  def withWeatherSimilarityDetailed(df: org.apache.spark.sql.DataFrame, current: Column,
                                    accident: Column, out: String,
                                    prefix: String = "ws_"): org.apache.spark.sql.DataFrame =
    withWeatherSimilarityStaged(df, current, accident, out, detailPrefix = Some(prefix))

  private def withWeatherSimilarityStaged(df: org.apache.spark.sql.DataFrame, current: Column,
                                          accident: Column, out: String,
                                          detailPrefix: Option[String]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.DataFrame
    val factors = Seq("temperature", "precipitation", "wind_speed", "visibility", "cloud_cover")

    // the ~50 staging columns live under a reserved prefix; silently
    // clobbering (then dropping) a caller's same-named column was the
    // failure mode with the old bare "_cur"/"_n" names
    require(!df.columns.exists(_.startsWith("__wsim")),
      "column prefix __wsim is reserved by withWeatherSimilarity*")

    var d: DataFrame = df
      .withColumn("__wsim_cur", current)
      .withColumn("__wsim_acc", accident)
    d = d.withColumn("__wsim_n",
      least(size(col("__wsim_cur.temperature")), size(col("__wsim_acc.temperature"))))
    // withinWindowWeights(n): raw = pow(decay, n-1-k); normalized by its
    // sum. greatest(…, 0): an EMPTY pattern (_n = 0, e.g. a no-rows
    // Forecast bucket) must flow through to the final <5-day guard as 0.0,
    // not crash on sequence(-1, 0, -1).
    d = d.withColumn("__wsim_wraw",
      transform(sequence(greatest(col("__wsim_n") - 1, lit(0)), lit(0), lit(-1)),
        k => pow(lit(StatsExprs.WithinWindowDecay), k.cast("double"))))
    d = d.withColumn("__wsim_wsum1", StatsExprs.arraySum(col("__wsim_wraw")))
    d = d.withColumn("__wsim_w1", transform(col("__wsim_wraw"), w => w / col("__wsim_wsum1")))
    // weightedPearson internally renormalizes its weights — mirror that
    d = d.withColumn("__wsim_wsum2", StatsExprs.arraySum(col("__wsim_w1")))
    d = d.withColumn("__wsim_wn", transform(col("__wsim_w1"), w => w / col("__wsim_wsum2")))

    for (f <- factors) {
      d = d.withColumn(s"__wsim_x_$f", slice(col(s"__wsim_cur.$f"), lit(1), col("__wsim_n")))
        .withColumn(s"__wsim_y_$f", slice(col(s"__wsim_acc.$f"), lit(1), col("__wsim_n")))
      d = d.withColumn(s"__wsim_mx_$f", StatsExprs.arrayDot(col(s"__wsim_x_$f"), col("__wsim_wn")))
        .withColumn(s"__wsim_my_$f", StatsExprs.arrayDot(col(s"__wsim_y_$f"), col("__wsim_wn")))
      d = d.withColumn(s"__wsim_vx_$f",
        StatsExprs.arraySum(zip_with(col(s"__wsim_x_$f"), col("__wsim_wn"),
          (xi, wi) => wi * (xi - col(s"__wsim_mx_$f")) * (xi - col(s"__wsim_mx_$f")))))
        .withColumn(s"__wsim_vy_$f",
          StatsExprs.arraySum(zip_with(col(s"__wsim_y_$f"), col("__wsim_wn"),
            (yi, wi) => wi * (yi - col(s"__wsim_my_$f")) * (yi - col(s"__wsim_my_$f")))))
        .withColumn(s"__wsim_cov_$f",
          StatsExprs.arraySum(zip_with(
            zip_with(col(s"__wsim_x_$f"), col(s"__wsim_y_$f"),
              (a, b) => (a - col(s"__wsim_mx_$f")) * (b - col(s"__wsim_my_$f"))),
            col("__wsim_wn"), (p, wi) => p * wi)))
      val stdX = sqrt(col(s"__wsim_vx_$f"))
      val stdY = sqrt(col(s"__wsim_vy_$f"))
      val corr = col(s"__wsim_cov_$f") / (stdX * stdY)
      val pearson = when(stdX === 0.0 && stdY === 0.0, lit(1.0))
        .when(stdX === 0.0 || stdY === 0.0, lit(0.0))
        .otherwise(least(lit(1.0), greatest(lit(-1.0), corr)))
      d = d.withColumn(s"__wsim_score_$f", factorScore(pearson))
    }

    d = d.withColumn("__wsim_ft_a", StatsExprs.freezeThawCount(col("__wsim_cur.daily_temps")))
      .withColumn("__wsim_ft_b", StatsExprs.freezeThawCount(col("__wsim_acc.daily_temps")))
    val ftScore = freezeThawSimilarity(col("__wsim_ft_a"), col("__wsim_ft_b"))
    val scores = factors.map(f => col(s"__wsim_score_$f")) :+ ftScore
    val base = scores.map(_ * lit(FactorWeight)).reduce(_ + _)
    // a NULL pattern struct / temperature series is NULL overall, exactly
    // like the native expression (WeatherPatternSimilarity returns null
    // before the validity gate). Without this branch `invalid` is NULL
    // under three-valued logic, when() falls through to otherwise(base),
    // and a REAL number leaks out (the null temperature factor degenerates
    // to score 0 while the other factors still contribute) — silently
    // diverging from the native twin on malformed data.
    val tempNull = col("__wsim_cur.temperature").isNull || col("__wsim_acc.temperature").isNull
    val invalid = size(col("__wsim_cur.temperature")) < MinWeatherDaysRequired ||
      size(col("__wsim_acc.temperature")) < MinWeatherDaysRequired
    d = d.withColumn(out,
      when(tempNull, lit(null).cast("double"))
        .when(invalid, lit(0.0)).otherwise(base))
    detailPrefix.foreach { p =>
      for (f <- factors)
        d = d.withColumn(s"${p}score_$f",
          when(tempNull, lit(null).cast("double"))
            .when(invalid, 0.0).otherwise(col(s"__wsim_score_$f")))
      d = d.withColumn(s"${p}score_freeze_thaw",
        when(tempNull, lit(null).cast("double")).when(invalid, 0.0).otherwise(ftScore))
        .withColumn(s"${p}ft_current",
          when(tempNull, lit(null).cast("long"))
            .when(invalid, 0L).otherwise(col("__wsim_ft_a").cast("long")))
        .withColumn(s"${p}ft_accident",
          when(tempNull, lit(null).cast("long"))
            .when(invalid, 0L).otherwise(col("__wsim_ft_b").cast("long")))
        .withColumn(s"${p}days_compared",
          when(tempNull, lit(null).cast("long"))
            .when(invalid, 0L).otherwise(col("__wsim_n").cast("long")))
    }

    val tmpCols = Seq("__wsim_cur", "__wsim_acc", "__wsim_n", "__wsim_wraw", "__wsim_wsum1", "__wsim_w1", "__wsim_wsum2", "__wsim_wn",
      "__wsim_ft_a", "__wsim_ft_b") ++
      factors.flatMap(f => Seq(s"__wsim_x_$f", s"__wsim_y_$f", s"__wsim_mx_$f", s"__wsim_my_$f",
        s"__wsim_vx_$f", s"__wsim_vy_$f", s"__wsim_cov_$f", s"__wsim_score_$f"))
    d.drop(tmpCols: _*)
  }
}
