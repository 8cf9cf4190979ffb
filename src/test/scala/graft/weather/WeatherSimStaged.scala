package graft.weather

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expr.{StatsExprs, WeatherPatternSimilarity}
import graft.weather.WeatherExprs.{FactorWeight, MinWeatherDaysRequired}

/** The staged Column form of the 6-factor weather similarity — the
  * independently derived reference WeatherSimExprSpec pins the native
  * [[WeatherPatternSimilarity]] and its detail against, bit for bit.
  * Test-only: no production path calls it.
  */
object WeatherSimStaged {

  /** Freeze-thaw closeness (`weather_similarity.py:196-203`). */
  def freezeThawSimilarity(ftA: Column, ftB: Column): Column =
    greatest(lit(0.0),
      lit(1.0) - abs(ftA - ftB) / (greatest(ftA, ftB, lit(1)) + lit(7)))

  /** Base 6-factor similarity (no extreme-weather amplification) into
    * `out`, as staged (let-bound) columns: every shared subexpression
    * (patterns, weights, per-factor moments) is a materialized column in
    * its own projection, so the expression DAG is evaluated once per value
    * instead of exponentially re-expanded. Invalid pattern on either side
    * (< 5 days) → 0.0 (`weather_similarity.py:124-126`). With a
    * `detailPrefix`, also the staged `calculate_weather_similarity_detailed`
    * (`weather_similarity.py:347-483`): `<prefix>score_<factor>` (then
    * `score_freeze_thaw`), `<prefix>ft_current`, `<prefix>ft_accident`,
    * `<prefix>days_compared`, all zero on an invalid pattern.
    */
  def withWeatherSimilarity(df: DataFrame, current: Column, accident: Column, out: String,
                            detailPrefix: Option[String] = None): DataFrame = {
    val factors = WeatherPatternSimilarity.Factors

    // the ~50 staging columns live under a reserved prefix, never a
    // caller's same-named column
    require(!df.columns.exists(_.startsWith("__wsim")),
      "column prefix __wsim is reserved by withWeatherSimilarity")

    var d: DataFrame = df
      .withColumn("__wsim_cur", current)
      .withColumn("__wsim_acc", accident)
    d = d.withColumn("__wsim_n",
      least(size(col("__wsim_cur.temperature")), size(col("__wsim_acc.temperature"))))
    // withinWindowWeights(n): raw = pow(decay, n-1-k); normalized by its
    // sum. greatest(…, 0): an EMPTY pattern (_n = 0) must flow through to
    // the final <5-day guard as 0.0, not crash on sequence(-1, 0, -1).
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
      // (corr + 1) / 2: Pearson [-1,1] → [0,1] (`weather_similarity.py:146`)
      d = d.withColumn(s"__wsim_score_$f", (pearson + lit(1.0)) / 2)
    }

    d = d.withColumn("__wsim_ft_a", StatsExprs.freezeThawCount(col("__wsim_cur.daily_temps")))
      .withColumn("__wsim_ft_b", StatsExprs.freezeThawCount(col("__wsim_acc.daily_temps")))
    val ftScore = freezeThawSimilarity(col("__wsim_ft_a"), col("__wsim_ft_b"))
    val scores = factors.map(f => col(s"__wsim_score_$f")) :+ ftScore
    val base = scores.map(_ * lit(FactorWeight)).reduce(_ + _)
    // a NULL pattern struct / temperature series is NULL overall, like the
    // native expression. Without this branch `invalid` is NULL under
    // three-valued logic, when() falls through to otherwise(base), and a
    // REAL number leaks out (the null temperature factor degenerates to
    // score 0 while the other factors still contribute).
    val tempNull = col("__wsim_cur.temperature").isNull || col("__wsim_acc.temperature").isNull
    val invalid = size(col("__wsim_cur.temperature")) < MinWeatherDaysRequired ||
      size(col("__wsim_acc.temperature")) < MinWeatherDaysRequired
    def gated(c: Column, t: String): Column =
      when(tempNull, lit(null).cast(t)).when(invalid, lit(0).cast(t)).otherwise(c)
    d = d.withColumn(out, gated(base, "double"))
    detailPrefix.foreach { p =>
      for (f <- factors)
        d = d.withColumn(s"${p}score_$f", gated(col(s"__wsim_score_$f"), "double"))
      d = d.withColumn(s"${p}score_freeze_thaw", gated(ftScore, "double"))
        .withColumn(s"${p}ft_current", gated(col("__wsim_ft_a").cast("long"), "long"))
        .withColumn(s"${p}ft_accident", gated(col("__wsim_ft_b").cast("long"), "long"))
        .withColumn(s"${p}days_compared", gated(col("__wsim_n").cast("long"), "long"))
    }
    d.drop(d.columns.filter(_.startsWith("__wsim")): _*)
  }
}
