package graft.kernel

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.expr.GradeParser

/** The interactive prediction surface (SURVEY §3.1) — what the reference's
  * `POST /api/v1/predict` computes, as a library call: one planned route
  * scored against the accident corpus, returning the risk score, color,
  * and the top-k contributing accidents with full factor breakdowns.
  *
  * Plan shape: a 1-row routes frame through one pass of the per-route
  * fold (`SafetyKernel.scoreWithContributors`), which gives the total and
  * the top-k breakdown together — the same fold the nightly batch and
  * [[forecast]] run, so every forecast day equals a single predict at that
  * plan date, bit for bit (PredictSpec's forecast arm).
  */
object Predict {

  case class PredictionRequest(
      latitude: Double, longitude: Double,
      elevation: Option[Double], routeType: String,
      plannedDate: String, routeGrade: Option[String] = None)

  case class Prediction(
      riskScore: Double, colorCode: String, numContributing: Long,
      topAccidents: Seq[Row])

  val LocalRadiusKm = 50.0
  val StrictRouteTypeThreshold = 0.85

  /** P6 distance-gated route-type filter, applied to the accident corpus
    * before the kernel exactly like the reference predict flow
    * (`predict.py:132-173`): local accidents (≤50 km) always pass; distant
    * ones only with route-type weight ≥ 0.85 — the exact-match diagonal
    * (1.0) plus every 0.9-weight close-type pair of the F8 matrix
    * (alpine↔mixed, ice↔mixed, ice→alpine, mixed→alpine, alpine→sport).
    */
  def gateAccidents(req: PredictionRequest, accidents: DataFrame): DataFrame =
    accidents.where(
      graft.expr.GeoExprs.haversineKm(
        lit(req.latitude), lit(req.longitude), col("a_lat"), col("a_lon"))
        <= LocalRadiusKm ||
        graft.expr.WeightExprs.routeTypeWeight(lit(req.routeType), col("acc_type"))
          >= StrictRouteTypeThreshold)

  /** Same rounding as Spark's `round(col, 3)` (HALF_UP over the decimal
    * string form) — the S7 grid is BUILT with that expression, and
    * `math.rint` (half-even) would probe a different key for exact
    * half-way coordinates like 2.0625.
    */
  private def gridKey(v: Double): Double =
    java.math.BigDecimal.valueOf(v)
      .setScale(3, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Step 1.5 (`predict.py:105-115`): auto-detect elevation from the S7
    * rounded-coordinate lookup table (columns g_lat, g_lon, elevation_m at
    * 3-decimal grid) when the request has none. A grid miss leaves
    * elevation empty — the kernel's null-elevation path (weight 1.0)
    * handles it, like the reference's graceful missing-elevation handling.
    */
  def resolveElevation(req: PredictionRequest, elevation: DataFrame): PredictionRequest =
    if (req.elevation.isDefined) req
    else {
      val gLat = gridKey(req.latitude)
      val gLon = gridKey(req.longitude)
      val hit = elevation
        .where(col("g_lat") === gLat && col("g_lon") === gLon)
        .select(col("elevation_m").cast("double"))
        .take(1).headOption.map(_.getDouble(0))
      req.copy(elevation = hit)
    }

  /** Score one route. `accidents` uses the kernel schema (accident_id,
    * a_lat, a_lon, a_elev, acc_type, severity_raw, a_date, a_difficulty,
    * optional wsim); pass `currentWeather`/`accidentPatterns` upstream by
    * pre-computing a `wsim` column (WeatherPatternSimilarity.similarity) —
    * absent, the missing-pattern neutral 0.5 applies, exactly like the
    * reference (`safety_algorithm.py:265-269`). The P6 gate runs here,
    * mirroring the reference's step 1.6.
    */
  def predict(spark: SparkSession, req: PredictionRequest, accidents: DataFrame,
              topK: Int = 50): Prediction =
    SafetyKernel.scoreWithContributors(routeFrame(spark, req), gateAccidents(req, accidents),
        to_date(lit(req.plannedDate)), topK)
      .collect().headOption match {
      case Some(r) => Prediction(
        r.getAs[Double]("risk_score"), r.getAs[String]("color_code"),
        r.getAs[Long]("n_contributing"), r.getSeq[Row](r.fieldIndex("contributors")).toSeq)
      case None => Prediction(0.0, "green", 0L, Seq.empty) // no accidents
    }

  /** The request as a 1-row routes frame in the kernel schema. */
  private def routeFrame(spark: SparkSession, req: PredictionRequest): DataFrame = {
    import spark.implicits._
    val difficulty: Option[Double] = req.routeGrade.flatMap(GradeParser.parse)
    Seq((1L, req.latitude, req.longitude, req.elevation, req.routeType, difficulty))
      .toDF("route_id", "lat", "lon", "elev", "route_type", "difficulty")
  }

  /** `days` consecutive ISO dates starting at `start` (ISO; a malformed
    * date throws).
    */
  private def planDates(start: String, days: Int): Seq[String] = {
    val first = java.time.LocalDate.parse(start)
    (0 until days).map(d => first.plusDays(d).toString)
  }

  /** End-to-end interactive predict (S5 complete): the caller supplies the
    * INPUT tables — `weatherRows` (accident weather rows, FIXTURES.md §2)
    * and `currentWeather` (forecast table, FIXTURES.md §5) — and this
    * method runs the reference's whole prep flow before the kernel
    * (`predict.py:203-270`):
    *
    *   1. current pattern for the request's 0.01° bucket, 7-day window
    *      ending at the planned date (Forecast.currentPattern);
    *   2. per-accident pattern assembly (WeatherAssembly, ≥5-day rule);
    *   3. A5 similarity current×accident, with the optional A7 extreme
    *      amplification from `historicalStats` (one row of
    *      `<factor>_mean`/`<factor>_std`, e.g. one bucket of
    *      WeatherQueries-style archive stats) — `final = base × mult`
    *      applied only where a real pattern exists;
    *   4. missing current pattern (service returned None: no rows or <5
    *      days) or missing accident pattern → neutral 0.5
    *      (`safety_algorithm.py:265-269`);
    *   5. the same fold pass as `predict`, over the accidents with their
    *      (amplified) similarity as `wsim`.
    */
  def predictWithWeather(spark: SparkSession, req: PredictionRequest,
                         accidents: DataFrame, weatherRows: DataFrame,
                         currentWeather: DataFrame,
                         historicalStats: Option[DataFrame] = None,
                         topK: Int = 50): Prediction = {
    import graft.weather.{Forecast, WeatherAssembly, WeatherExprs}
    val target = to_date(lit(req.plannedDate))
    val cur = Forecast.currentPattern(currentWeather, req.latitude, req.longitude, target)
    val curValid = cur.select(col("cur_days")).head().getInt(0) >=
      WeatherExprs.MinWeatherDaysRequired
    if (!curValid) return predict(spark, req, accidents, topK)

    // P6 gate FIRST (it needs only a_lat/a_lon/acc_type), mirroring the
    // reference's order (gate at predict.py:132-173, weather at :533+):
    // the hottest prep path — pattern assembly + similarity — then runs
    // only over accidents the kernel will actually see. predict() re-gates
    // idempotently.
    val gated = gateAccidents(req, accidents)
    val withPat = gated
      .join(WeatherAssembly.assemblePatterns(weatherRows, gated),
        Seq("accident_id"), "left")
      .crossJoin(broadcast(cur.select("cur_pattern")))
    val simmed = withPat.withColumn("__ws",
      graft.expr.WeatherPatternSimilarity.similarity(col("cur_pattern"), col("pattern")))
    val mult = historicalStats match {
      case Some(stats) =>
        val statsStruct = struct(stats.columns.map(c => col(c).as(c)): _*)
        simmed.crossJoin(broadcast(stats))
          .withColumn("__wmult", WeatherExprs.extremeMultiplier(col("cur_pattern"), statsStruct))
          .drop(stats.columns: _*)
      case None => simmed.withColumn("__wmult", lit(1.0))
    }
    val accWithSim = mult
      .withColumn("wsim",
        when(col("pattern").isNull, lit(SafetyKernel.NeutralWeatherSimilarity))
          .otherwise(col("__ws") * col("__wmult")))
      .drop("pattern", "n_days", "cur_pattern", "__ws", "__wmult")
    predict(spark, req, accWithSim, topK)
  }

  /** The 7-day forecast loop (`mp_routes.py:670-796`): one prediction per
    * date — the request's route through the multi-date fold
    * ([[SafetyKernel.scoreRoutesForDates]]) over `days` plan dates, rather
    * than seven sequential queries. Each day equals a single [[predict]]
    * at that plan date, bit for bit.
    */
  def forecast(spark: SparkSession, req: PredictionRequest, accidents: DataFrame,
               days: Int = 7): DataFrame =
    SafetyKernel.scoreRoutesForDates(routeFrame(spark, req), gateAccidents(req, accidents),
        planDates(req.plannedDate, days))
      .withColumnRenamed("prediction_date", "forecast_date")
      .drop("route_id")
      .orderBy("forecast_date")

  /** Cache-warming twin (`backend/app/tasks/cache_warming.py:25-154`): the
    * reference pre-computes safety for the top-200 valid-coordinate routes
    * × the next 7 days, one kernel call per (route, date), into Redis with
    * a 6-hour TTL. The Spark form is ONE batch: routes limited exactly like
    * the reference (ORDER BY route_id LIMIT n over non-null coordinates),
    * scored through the multi-date fold
    * ([[SafetyKernel.scoreRoutesForDates]]) for the `days` dates from
    * `startDate` (ISO) — 1400 predictions in a single plan instead of 1400
    * requests. The "cache" is the scores-by-date table itself (idempotent
    * partition overwrite S8/S9; TTL ↔ retention S10), so warming is just
    * an upsert of this frame.
    *
    * Output mirrors the cached `MpRouteSafetyResponse`: risk rounded to
    * 1 decimal (`cache_warming.py:125`), color from the UNROUNDED score.
    */
  def warmPopularRoutes(routes: DataFrame, accidents: DataFrame,
                        startDate: String, days: Int = 7,
                        topN: Int = 200): DataFrame = {
    val popular = routes
      .where(col("lat").isNotNull && col("lon").isNotNull)
      .orderBy("route_id").limit(topN)
    SafetyKernel.scoreRoutesForDates(popular, accidents, planDates(startDate, days))
      .select(col("route_id"), col("prediction_date").as("target_date"),
        round(col("risk_score"), 1).as("risk_score"), col("color_code"))
  }
}
