package graft.kernel

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

class PredictSpec extends SparkSpec {

  import spark.implicits._

  private def accidents: DataFrame = Seq(
    (1, 40.3549, -105.6426, Some(4200.0), "alpine", "Serious Injury", "2023-07-15"),
    (2, 41.2549, -105.6426, Some(3500.0), "alpine", "Minor Injury", "2023-07-15"),
    (3, 40.2549, -105.6426, Some(4346.0), "alpine", "Fatal", "2014-07-15"),
    (4, 40.2549, -105.6426, Some(4346.0), "sport", "Minor Injury", "2023-07-15"))
    .toDF("accident_id", "a_lat", "a_lon", "a_elev", "acc_type", "severity_raw", "d")
    .withColumn("a_date", to_date(col("d"))).drop("d")
    .withColumn("a_difficulty", lit(null).cast("double"))

  private val longsPeak = Predict.PredictionRequest(
    40.2549, -105.6426, Some(4346.0), "alpine", "2024-07-15")

  test("predict reproduces the reference fixture end-to-end") {
    val p = Predict.predict(spark, longsPeak, accidents)
    assert(approx(p.riskScore, 3.30406861212714, 1e-9))
    assert(p.colorCode == "green")
    assert(p.numContributing == 4)
    assert(p.topAccidents.map(_.getAs[Int]("accident_id")) == Seq(3, 1, 4, 2))
    // breakdown columns present with sane values
    val top = p.topAccidents.head
    assert(top.getAs[Double]("severity_w") == 1.3)
    assert(top.getAs[Double]("dist_km") == 0.0)
  }

  test("P6 gate: distant incompatible accidents are excluded, local kept") {
    // a distant (>50km) boulder accident vs an alpine request: rtw
    // (alpine, boulder) < 0.85 → gated out; same accident nearby → kept
    val distantBoulder = accidents.unionByName(
      Seq((9, 42.2549, -105.6426, Option.empty[Double], "boulder", "Serious Injury",
        "2023-07-15"))
        .toDF("accident_id", "a_lat", "a_lon", "a_elev", "acc_type", "severity_raw", "d")
        .withColumn("a_date", to_date(col("d"))).drop("d")
        .withColumn("a_difficulty", lit(null).cast("double")))
    val gated = Predict.gateAccidents(longsPeak, distantBoulder)
      .select("accident_id").collect().map(_.getInt(0)).toSet
    assert(gated == Set(1, 2, 3, 4)) // 9 dropped: distant + incompatible
    // the exact fixture is unchanged by the gate (all four pass it)
    val p = Predict.predict(spark, longsPeak, distantBoulder)
    assert(approx(p.riskScore, 3.30406861212714, 1e-9))
  }

  test("elevation auto-resolution from the S7 rounded-coord lookup") {
    val elev = Seq((40.255, -105.643, 4346.0), (40.0, -105.0, 1500.0))
      .toDF("g_lat", "g_lon", "elevation_m")
    val resolved = Predict.resolveElevation(longsPeak.copy(elevation = None), elev)
    assert(resolved.elevation.contains(4346.0))
    // provided elevation wins; grid miss stays empty
    assert(Predict.resolveElevation(longsPeak, elev).elevation.contains(4346.0))
    val miss = Predict.resolveElevation(
      longsPeak.copy(latitude = 10.0, longitude = 10.0, elevation = None), elev)
    assert(miss.elevation.isEmpty)
  }

  test("no accidents → zero prediction") {
    val p = Predict.predict(spark, longsPeak, accidents.limit(0))
    assert(p.riskScore == 0.0 && p.numContributing == 0 && p.topAccidents.isEmpty)
  }

  test("grade on the request flows through the parser into the kernel") {
    val withDifficulty = accidents.withColumn("a_difficulty",
      when(col("accident_id") === 1, 15.0)) // far from 5.9 → grade weight < 1
    val without = Predict.predict(spark, longsPeak, withDifficulty)
    val graded = Predict.predict(spark,
      longsPeak.copy(routeGrade = Some("5.9")), withDifficulty)
    assert(graded.riskScore < without.riskScore) // grade mismatch dampens acc 1
  }

  test("predictWithWeather: end-to-end S5 — real weather replaces neutral 0.5") {
    import java.sql.Date
    import java.time.LocalDate
    import graft.weather.WeatherAssemblySpec.W

    // current_weather rows for the Longs Peak bucket (40.25, -105.64),
    // 7 days ending at the planned date (FIXTURES.md §8 forecast series)
    val temps = Seq(15.0, 16.0, 17.0, 18.0, 19.0, 18.0, 17.0)
    val prec = Seq(0.0, 0.0, 2.0, 1.0, 0.0, 0.0, 0.0)
    val wind = Seq(5.0, 6.0, 7.0, 8.0, 6.0, 5.0, 4.0)
    val cloud = Seq(20.0, 30.0, 60.0, 50.0, 30.0, 20.0, 10.0)
    val cw = (0 to 6).map { k =>
      (40.25, -105.64, Date.valueOf(LocalDate.parse("2024-07-09").plusDays(k)),
        temps(k), temps(k) - 5.0, temps(k) + 5.0, prec(k), wind(k), cloud(k))
    }.toDF("lat_bucket", "lon_bucket", "date", "temperature_mean",
      "temperature_min", "temperature_max", "precipitation_sum",
      "wind_speed_max", "cloud_cover_mean")

    // weather ROWS: accidents 1/3/4 get full 7-day coverage, accident 2
    // only 3 days (→ invalid pattern → neutral 0.5)
    val aDates = Map(1 -> "2023-07-15", 2 -> "2023-07-15",
      3 -> "2014-07-15", 4 -> "2023-07-15")
    val wrows = (for {
      (a, d) <- aDates.toSeq
      k <- 0 to 6
      if a != 2 || k >= 4
    } yield W(a, Date.valueOf(LocalDate.parse(d).minusDays(6 - k)),
      Some(10.0 + a + k), Some(5.0 + k), Some(20.0 + k),
      Some(if ((a + k) % 3 == 0) 1.5 else 0.0), Some(4.0 + (a + k) % 5),
      Some(9000.0), Some(10.0 * ((a + k) % 8)))).toDF()

    val pNeutral = Predict.predict(spark, longsPeak, accidents)
    val pWeather = Predict.predictWithWeather(spark, longsPeak, accidents, wrows, cw)
    assert(pWeather.riskScore !== pNeutral.riskScore)
    assert(pWeather.riskScore > 0 && pWeather.riskScore <= 100)

    // bucket miss → service-None path → identical to the neutral predict
    val pMiss = Predict.predictWithWeather(spark, longsPeak, accidents, wrows,
      cw.where(col("lat_bucket") === 0.0))
    assert(pMiss.riskScore == pNeutral.riskScore)

    // A7 amplification: wind stats far from the current mean with tiny σ
    // → multiplier > 1 → amplified similarity → higher risk
    val stats = Seq((2.0, 1.0, 0.0, 0.0, 0.0, 0.0, 10000.0, 0.0)).toDF(
      "wind_speed_mean", "wind_speed_std", "precipitation_mean",
      "precipitation_std", "temperature_mean", "temperature_std",
      "visibility_mean", "visibility_std")
    val pAmp = Predict.predictWithWeather(spark, longsPeak, accidents, wrows,
      cw, historicalStats = Some(stats))
    assert(pAmp.riskScore > pWeather.riskScore)
  }

  test("forecast: one row per day, dates advance, scores vary smoothly") {
    val f = Predict.forecast(spark, longsPeak, accidents, days = 7).collect()
    assert(f.length == 7)
    assert(f.head.schema.fieldNames.toSeq ==
      Seq("total_influence", "n_contributing", "risk_score", "color_code", "forecast_date"))
    val dates = f.map(_.getAs[java.sql.Date]("forecast_date").toString)
    assert(dates.head == "2024-07-15" && dates.last == "2024-07-21")
    val risks = f.map(_.getAs[Double]("risk_score"))
    assert(risks.forall(r => r > 0 && r <= 100))
    // day 0 equals the single predict (same plan date, same kernel)
    assert(approx(risks.head, 3.30406861212714, 1e-9))
    // EVERY day equals a fresh single predict at that plan date, bit for
    // bit (both run the fold), and the pair-grain reference's total
    val route = Seq((1L, longsPeak.latitude, longsPeak.longitude, longsPeak.elevation,
      longsPeak.routeType, Option.empty[Double]))
      .toDF("route_id", "lat", "lon", "elev", "route_type", "difficulty")
    (0 until 7).foreach { d =>
      val day = f"2024-07-${15 + d}%02d"
      val single = Predict.predict(spark, longsPeak.copy(plannedDate = day), accidents)
      val total = PairKernel.scoreRoutes(route, Predict.gateAccidents(longsPeak, accidents),
        to_date(lit(day))).head().getAs[Double]("total_influence")
      assert(risks(d) == single.riskScore, s"forecast day $d diverges from the single predict")
      assert(f(d).getAs[Double]("total_influence") == total, s"forecast day $d total")
    }
  }

  test("forecast: a malformed planned date fails loudly") {
    intercept[java.time.format.DateTimeParseException] {
      Predict.forecast(spark, longsPeak.copy(plannedDate = "2024-7-15"), accidents)
    }
  }

  test("cache warming equals per-date scoreRoutes: NULL coordinates out, season flip, rounding") {
    // the window 2024-08-29 → 09-04 crosses summer → fall on 09-01, so the
    // same-season multiplier switches off for the summer accidents and on
    // for the fall ones inside it
    val routes = Seq[(Long, Option[Double], Option[Double], Option[Double], String, Option[Double])](
      (1L, None, Some(-105.0), Some(3000.0), "alpine", None), // NULL coordinate: excluded
      (2L, Some(40.0), Some(-105.0), Some(3000.0), "alpine", None),
      (3L, Some(47.0), Some(-121.0), Some(2500.0), "Sport", Some(10.0)),
      (4L, Some(47.5), Some(-121.5), None, "ice", Some(8.0)),
      (5L, Some(39.0), Some(-104.0), Some(2000.0), "trad", None)) // beyond topN
      .toDF("route_id", "lat", "lon", "elev", "route_type", "difficulty")
    // four summer accidents on route 2's spot, scaled so that its 08-31
    // risk is 29.97: 30.0 rounded (yellow), green unrounded; the others
    // sit ~1,500 km away, near routes 3 and 4
    val atRoute2 = 7.0 * 4 * 1.05 * 1.15 // risk per unit wsim³ at 0 days, same season
    val wsim = math.cbrt(29.97 / atRoute2)
    val accidents = (Seq.tabulate(4)(i =>
      (i + 1, 40.0, -105.0, Some(3000.0), "alpine", "minor", "2024-08-31", Option.empty[Double],
        wsim)) ++ Seq(
      (5, 47.1, -121.1, Some(2600.0), "sport", "fatal", "2023-09-20", Some(9.0), 0.8),
      (6, 47.6, -121.4, Some(2900.0), "ICE", "serious", "2022-06-10", Some(7.0), 0.9),
      (7, 47.4, -121.6, Some(2800.0), "mixed", "minor", "2021-10-01", Some(8.0), 0.7)))
      .toDF("accident_id", "a_lat", "a_lon", "a_elev", "acc_type", "severity_raw", "d",
        "a_difficulty", "wsim")
      .withColumn("a_date", to_date(col("d"))).drop("d")
    val dates = (29 to 31).map(d => f"2024-08-$d%02d") ++ (1 to 4).map(d => f"2024-09-$d%02d")
    val warmed = Predict.warmPopularRoutes(routes, accidents, "2024-08-29", days = 7, topN = 3)
    val expected = dates.map { d =>
      PairKernel.scoreRoutes(routes.where(col("route_id").between(2, 4)), accidents,
        to_date(lit(d)))
        .select(col("route_id"), to_date(lit(d)).as("target_date"),
          round(col("risk_score"), 1).as("risk_score"), col("color_code"))
    }.reduce(_ union _)
    def rows(df: DataFrame): Seq[String] =
      df.orderBy("route_id", "target_date").collect().map(_.toString).toSeq
    val got = rows(warmed)
    assert(got == rows(expected))
    assert(got.size == 3 * 7 && !got.exists(_.startsWith("[1,")))
    assert(got.contains("[2,2024-08-31,30.0,green]"), got)
    // the season flip moves route 2's score between 08-31 and 09-01
    assert(got.contains("[2,2024-09-01,28.5,green]"), got)
  }
}
