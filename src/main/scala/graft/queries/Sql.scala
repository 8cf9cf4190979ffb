package graft.queries

import graft.expr.WeightExprs

/** DuckDB oracle-SQL fragment generators.
  *
  * Every constant below is emitted from the SAME Scala values the Spark
  * expressions use (graft.expr.WeightExprs) — `Double.toString` produces the
  * shortest round-trip decimal, and DuckDB parses decimals to the nearest
  * double, so both engines evaluate bit-identical literals. Operation order
  * in each fragment deliberately mirrors the Column expression structure so
  * IEEE-exact ops (+,-,*,/,sqrt) produce identical results; only
  * transcendentals (exp/pow/sin/asin) may differ in the last ulp, which the
  * final `round(...)` in every query absorbs.
  */
object Sql {

  /** Canonical route-type names indexed by the derivation key `k % 8`
    * (7 = default-ish second trad, mirroring the reference's
    * normalize-to-trad default, `backend/app/api/v1/mp_routes.py:109-150`).
    * Single-sourced from the kernel's canonical list.
    */
  val TypeByIdx: Seq[String] =
    graft.kernel.SafetyKernel.CanonicalTypes :+ "trad"

  def typeCase(keyExpr: String): String =
    s"CASE ($keyExpr) " +
      TypeByIdx.zipWithIndex.dropRight(1).map { case (t, i) => s"WHEN $i THEN '$t'" }.mkString(" ") +
      s" ELSE '${TypeByIdx.last}' END"

  /** Generic `CASE lower(type) WHEN 'alpine' THEN …` lookup from a Scala map. */
  def typeLookupCase(typeExpr: String, table: Map[String, Double], default: Double): String =
    s"CASE lower($typeExpr) " +
      table.toSeq.sortBy(_._1).map { case (k, v) => s"WHEN '$k' THEN $v" }.mkString(" ") +
      s" ELSE $default END"

  // --- derived domain tables (shared CTEs; Spark twins in Derived.scala) ---

  val RoutesCte: String =
    s"""routes AS (
       |  SELECT p_partkey AS route_id,
       |         35.0 + (p_partkey % 1000) / 100.0 AS lat,
       |         -120.0 + (p_partkey % 700) / 70.0 AS lon,
       |         CASE WHEN p_partkey % 10 = 0 THEN NULL ELSE 1000.0 + (p_partkey % 3000) END AS elev,
       |         ${typeCase("p_partkey % 8")} AS route_type,
       |         CASE WHEN p_size % 7 = 0 THEN NULL ELSE 5.0 + (p_size % 11) END AS difficulty
       |  FROM part)""".stripMargin

  val AccidentsCte: String =
    s"""accidents AS (
       |  SELECT s_suppkey AS accident_id,
       |         35.0 + ((s_suppkey * 37) % 1000) / 100.0 AS a_lat,
       |         -120.0 + ((s_suppkey * 53) % 700) / 70.0 AS a_lon,
       |         CASE WHEN s_suppkey % 7 = 0 THEN NULL ELSE 800.0 + ((s_suppkey * 13) % 3500) END AS a_elev,
       |         ${typeCase("(s_suppkey * 31) % 8")} AS acc_type,
       |         CASE (s_suppkey % 5) WHEN 0 THEN 'fatal'
       |                              WHEN 1 THEN 'serious'
       |                              WHEN 2 THEN 'minor scrapes and bruises'
       |                              WHEN 3 THEN ''
       |                              ELSE 'Serious Injury' END AS severity_raw,
       |         DATE '2024-01-01' + CAST((s_suppkey * 17) % 730 AS INT) AS a_date,
       |         CASE WHEN s_suppkey % 9 = 0 THEN NULL ELSE 4.0 + ((s_suppkey * 7) % 13) END AS a_difficulty
       |  FROM supplier)""".stripMargin

  /** The kernel's constant planning date (summer → exercises the seasonal
    * boost against summer accidents).
    */
  val PlanDate = "DATE '2024-07-15'"

  /** DuckDB twin of Derived.locations (factorized-batch location dim). */
  val LocationsCte: String =
    s"""locations AS (
       |  SELECT c_custkey AS location_id,
       |         35.0 + ((c_custkey * 41) % 1000) / 100.0 AS loc_lat,
       |         -120.0 + ((c_custkey * 59) % 700) / 70.0 AS loc_lon,
       |         CASE WHEN c_custkey % 6 = 0 THEN NULL ELSE 900.0 + (c_custkey * 23) % 3200 END AS loc_elev,
       |         ${typeCase("(c_custkey * 43) % 8")} AS loc_type
       |  FROM customer WHERE c_custkey <= 150)""".stripMargin

  // --- scalar fragments -----------------------------------------------------

  /** Haversine, structured exactly like GeoExprs.haversineKm. */
  def haversine(lat1: String, lon1: String, lat2: String, lon2: String): String =
    s"2.0 * ${GeoExprsR} * asin(sqrt(" +
      s"pow(sin(radians(($lat2) - ($lat1)) / 2), 2) + " +
      s"cos(radians($lat1)) * cos(radians($lat2)) * pow(sin(radians(($lon2) - ($lon1)) / 2), 2)))"
  private val GeoExprsR = graft.expr.GeoExprs.EarthRadiusKm

  /** Initial bearing [0,360), mirroring GeoExprs.bearingDeg (pmod = Spark's
    * ((a % n) + n) % n).
    */
  def bearing(lat1: String, lon1: String, lat2: String, lon2: String): String = {
    val y = s"sin(radians(($lon2) - ($lon1))) * cos(radians($lat2))"
    val x = s"cos(radians($lat1)) * sin(radians($lat2)) - " +
      s"sin(radians($lat1)) * cos(radians($lat2)) * cos(radians(($lon2) - ($lon1)))"
    s"fmod(fmod(degrees(atan2($y, $x)), 360.0) + 360.0, 360.0)"
  }

  def spatialWeight(dist: String, routeType: String): String = {
    val h = typeLookupCase(routeType, WeightExprs.SpatialBandwidth, WeightExprs.SpatialBandwidthDefault)
    s"exp(-pow($dist, 2) / (2.0 * pow($h, 2)))"
  }

  def seasonCase(monthExpr: String): String =
    s"CASE WHEN ($monthExpr) IN (12, 1, 2) THEN 'winter' " +
      s"WHEN ($monthExpr) IN (3, 4, 5) THEN 'spring' " +
      s"WHEN ($monthExpr) IN (6, 7, 8) THEN 'summer' ELSE 'fall' END"

  /** Temporal base weight `1 − 0.35·(1 − (λ^days)^1.5)`, mirroring
    * WeightExprs.temporalBase.
    */
  def temporalBase(lambda: String, days: String): String =
    s"1.0 - ${WeightExprs.TemporalDecayImpact} * " +
      s"(1.0 - pow(pow($lambda, $days), ${WeightExprs.TemporalDecayShape}))"

  /** Temporal weight, mirroring WeightExprs.temporalWeight. */
  def temporalWeight(planDate: String, accDate: String, routeType: String): String = {
    val lam = typeLookupCase(routeType, WeightExprs.TemporalLambda, WeightExprs.TemporalLambdaDefault)
    val baseW = temporalBase(lam, s"CAST(abs(date_diff('day', $accDate, $planDate)) AS DOUBLE)")
    s"CASE WHEN ${seasonCase(s"month($planDate)")} = ${seasonCase(s"month($accDate)")} " +
      s"THEN ($baseW) * ${WeightExprs.SeasonalMultiplier} ELSE ($baseW) END"
  }

  def elevationWeight(routeElev: String, accElev: String, routeType: String): String = {
    val c = typeLookupCase(routeType, WeightExprs.ElevationDecayConstant, WeightExprs.ElevationDecayDefault)
    s"CASE WHEN ($routeElev) IS NULL OR ($accElev) IS NULL THEN 1.0 " +
      s"ELSE 1.0 + ${WeightExprs.ElevationBonusMax} * " +
      s"exp(-pow(abs(($accElev) - ($routeElev)) / ($c), 2)) END"
  }

  /** 49-arm route-type matrix CASE generated from the canonical map. */
  def routeTypeWeight(planType: String, accType: String): String =
    "CASE " + WeightExprs.RouteTypeWeights.toSeq.sortBy(_._1).map { case ((p, a), w) =>
      s"WHEN lower($planType) = '$p' AND lower($accType) = '$a' THEN $w"
    }.mkString(" ") + s" ELSE ${WeightExprs.DefaultRouteTypeWeight} END"

  /** normalizeSeverity alone (canonical level string), generated from
    * WeightExprs.SeverityTerms.
    */
  def severityLevelCase(raw: String): String = {
    val s = s"lower(trim($raw))"
    val arms = WeightExprs.SeverityTerms.map { case (level, terms) =>
      val cond = terms.map(t => s"contains($s, '$t')").mkString(" OR ")
      s"WHEN $cond THEN '$level'"
    }.mkString(" ")
    s"CASE WHEN ($raw) IS NULL OR $s = '' THEN 'unknown' $arms ELSE 'unknown' END"
  }

  /** The kernel's severity weight: exact lower(raw) lookup, default 1.0
    * (mirrors WeightExprs.severityWeight).
    */
  def severityWeight(raw: String): String =
    s"CASE WHEN ($raw) IS NULL THEN 1.0 " +
      s"WHEN lower($raw) = 'fatal' THEN ${WeightExprs.SeverityWeights("fatal")} " +
      s"WHEN lower($raw) = 'serious' THEN ${WeightExprs.SeverityWeights("serious")} " +
      s"ELSE 1.0 END"

  /** normalize-then-weight (the F10+F9 data-prep composition), generated
    * from WeightExprs.SeverityTerms / SeverityWeights.
    */
  def severityNormWeight(raw: String): String = {
    val s = s"lower(trim($raw))"
    val arms = WeightExprs.SeverityTerms.map { case (level, terms) =>
      val cond = terms.map(t => s"contains($s, '$t')").mkString(" OR ")
      s"WHEN $cond THEN ${WeightExprs.SeverityWeights(level)}"
    }.mkString(" ")
    s"CASE WHEN ($raw) IS NULL OR $s = '' THEN 1.0 $arms ELSE 1.0 END"
  }

  def gradeWeight(routeDiff: String, accDiff: String): String = {
    val twoSigmaSq = 2.0 * WeightExprs.GradeSigma * WeightExprs.GradeSigma
    s"CASE WHEN ($routeDiff) IS NULL OR ($accDiff) IS NULL THEN 1.0 " +
      s"ELSE greatest(${WeightExprs.GradeMinWeight}, " +
      s"exp(-pow(abs(($routeDiff) - ($accDiff)), 2) / $twoSigmaSq)) END"
  }

  def weatherFactor(wsim: String): String =
    s"CASE WHEN ($wsim) < ${WeightExprs.WeatherExclusionThreshold} THEN 0.0 " +
      s"ELSE pow($wsim, ${WeightExprs.WeatherPower}) END"

  def normalizeRisk(totalInfluence: String): String =
    s"least(${WeightExprs.MaxRiskScore}, greatest(0.0, ($totalInfluence) * ${WeightExprs.RiskNormalizationFactor}))"

  def colorCase(risk: String): String =
    s"CASE WHEN ($risk) < 30 THEN 'green' WHEN ($risk) < 50 THEN 'yellow' " +
      s"WHEN ($risk) < 70 THEN 'orange' ELSE 'red' END"

  /** The kernel's per-pair influence, the one DuckDB twin of the fold's
    * per-pair product (RouteFold, PairMath): `SELECT route_id, accident_id<extraCols>,
    * (spatial) * (temporal) * (elevation) * (route type) * (severity) *
    * (grade) * (weather factor) AS influence FROM <from>`, multiplied left
    * to right in the reference's order. `from` supplies the route and
    * accident columns (e.g. accidents pre-joined with their weather
    * similarities); `planDate` is a date expression over it; `wsim` is the
    * weather similarity expression, by default the missing-pattern neutral
    * 0.5.
    */
  def influenceSelect(from: String, planDate: String = PlanDate,
                      wsim: String = graft.kernel.SafetyKernel.NeutralWeatherSimilarity.toString,
                      extraCols: String = ""): String = {
    val factors = Seq(
      spatialWeight(haversine("lat", "lon", "a_lat", "a_lon"), "route_type"),
      temporalWeight(planDate, "a_date", "route_type"),
      elevationWeight("elev", "a_elev", "route_type"),
      routeTypeWeight("route_type", "acc_type"),
      severityWeight("severity_raw"),
      gradeWeight("difficulty", "a_difficulty"),
      weatherFactor(wsim))
    s"SELECT route_id, accident_id$extraCols,\n       " +
      factors.map(f => s"($f)").mkString("\n       * ") + s" AS influence\nFROM $from"
  }

  // --- deterministic 7-day weather series (twins of Derived.tempAvg etc.;
  // `a` = key expression, `k` = day index 0..6) ------------------------------

  /** DuckDB twin of Derived.archive4 (3-factor extreme-weather archive). */
  val Archive4Cte: String =
    """arch AS (
      |  SELECT s_suppkey % 10 AS bucket,
      |         ((i * 7) % 12) + 1 AS month,
      |         ((s_suppkey * 13 + i * 5) % 60) * 0.5 - 5.0 AS temperature,
      |         ((s_suppkey * 7 + i * 3) % 40) * 0.25 AS precipitation,
      |         14.0 + (s_suppkey % 10) + ((s_suppkey * 11 + i * 3) % 17) * 0.25 - 2.0 AS wind_speed
      |  FROM supplier, range(60) t(i))""".stripMargin

  /** A7 extreme-weather stats→multiplier CTE chain (DuckDB twin of
    * WeatherStats.bucketFactorStats + WeatherExprs.extremeMultiplier over
    * the archive4 table): ends in `mult(bucket, wmult, w_mu, w_sd)`.
    * Visibility is the service's fixed (10000.0, 0.0) stat
    * (`weather_service.py:455`) → that factor can never trigger.
    */
  def extremeMultCtes(refMonth: Int, curKey: String): String = {
    import graft.weather.{WeatherExprs, WeatherStats}
    val pen = WeatherExprs.ExtremePenalty
    val thr = WeatherExprs.ExtremeSdThreshold
    def zterm(mu: String, sd: String, cur: String, penalty: Double): String =
      s"CASE WHEN $sd IS NULL OR $sd = 0.0 THEN 0.0 " +
        s"WHEN abs(($cur - $mu) / $sd) > $thr " +
        s"THEN (abs(($cur - $mu) / $sd) - $thr) * $penalty ELSE 0.0 END"
    val terms = Seq( // order mirrors WeatherExprs.extremeMultiplier exactly
      zterm("w_mu", "w_sd", "cur_w", pen("wind_speed")),
      zterm("p_mu", "p_sd", "cur_p", pen("precipitation")),
      zterm("t_mu", "t_sd", "cur_t", pen("temperature")),
      zterm("10000.0", "0.0", "cur_v", pen("visibility")))
    // per-factor gate AND per-factor weight denominator, like
    // bucketFactorStats: each factor's own non-null count (n_$f) decides
    // its std validity, and its own null-aware weight sum (sw_$f =
    // Σw over rows where the factor is present) is the divisor — a shared
    // all-rows sum(w) would diverge from Spark's __sw_$f the moment any
    // factor column gains a NULL
    def meanStd(f: String, mu: String, sd: String): String =
      s"s_$f / sw_$f AS $mu, CASE WHEN n_$f >= ${WeatherStats.MinSamples} " +
        s"THEN sqrt(greatest(s2_$f / sw_$f - (s_$f / sw_$f) * (s_$f / sw_$f), 0.0)) END AS $sd"
    def factorSums(f: String, colName: String): String =
      s"count($colName) AS n_$f, " +
        s"sum(CASE WHEN $colName IS NOT NULL THEN w END) AS sw_$f, " +
        s"sum(w * $colName) AS s_$f, sum(w * $colName * $colName) AS s2_$f"
    s"""$Archive4Cte,
       |aw AS (
       |  SELECT *, exp(-CAST(least(abs(month - $refMonth), 12 - abs(month - $refMonth)) AS DOUBLE)
       |              / ${WeatherStats.MonthDecayScale}) AS w
       |  FROM arch),
       |stat AS (
       |  SELECT bucket,
       |         ${factorSums("t", "temperature")},
       |         ${factorSums("p", "precipitation")},
       |         ${factorSums("w", "wind_speed")}
       |  FROM aw GROUP BY bucket),
       |fstat AS (
       |  SELECT bucket, ${meanStd("t", "t_mu", "t_sd")},
       |         ${meanStd("p", "p_mu", "p_sd")},
       |         ${meanStd("w", "w_mu", "w_sd")}
       |  FROM stat),
       |cur AS (
       |  SELECT sum(${tempAvg(curKey, "k")}) / 7 AS cur_t,
       |         sum(${precip(curKey, "k")}) / 7 AS cur_p,
       |         sum(${wind(curKey, "k")}) / 7 AS cur_w,
       |         sum(${visib(curKey, "k")}) / 7 AS cur_v
       |  FROM range(7) t(k)),
       |mult AS (
       |  SELECT bucket, w_mu, w_sd,
       |         1.0 + (${terms.mkString(" + ")}) AS wmult
       |  FROM fstat CROSS JOIN cur)""".stripMargin
  }

  /** DuckDB twin of Derived.weatherRows — the planted-hazard weather ROWS
    * table (expects the `accidents` CTE in scope).
    */
  val WeatherRowsCte: String = {
    def nullWhen(cond: String, v: String): String =
      s"CASE WHEN $cond THEN NULL ELSE $v END"
    val A = "accident_id"
    s"""wrows AS (
       |  SELECT accident_id,
       |         a_date + CAST(CASE WHEN k <= 6 THEN k - 6 WHEN k = 7 THEN 1 ELSE -8 END AS INT) AS date,
       |         ${nullWhen(s"($A * 3 + k) % 10 = 0", tempAvg(A, "k"))} AS temperature_avg,
       |         ${nullWhen(s"($A + k * 3) % 8 = 0", tempMin(A, "k"))} AS temperature_min,
       |         ${nullWhen(s"($A * 9 + k) % 8 = 0", tempMax(A, "k"))} AS temperature_max,
       |         ${nullWhen(s"($A * 5 + k) % 14 = 0", precip(A, "k"))} AS precipitation_total,
       |         ${nullWhen(s"($A + k * 5) % 11 = 0", wind(A, "k"))} AS wind_speed_avg,
       |         ${nullWhen(s"($A * 2 + k) % 12 = 0", visib(A, "k"))} AS visibility_avg,
       |         ${nullWhen(s"($A + k) % 13 = 0", cloud(A, "k"))} AS cloud_cover_avg
       |  FROM accidents, range(9) t(k)
       |  WHERE (k <= 6 OR accident_id % 4 = 0)
       |    AND NOT ((accident_id * 7 + k * 11) % 9 = 0)
       |    AND NOT (accident_id % 13 = 0 AND k >= 3)
       |    AND NOT (accident_id % 11 = 3 AND (k = 1 OR k = 4)))""".stripMargin
  }

  def tempAvg(a: String, k: String): String = s"(($a) * 13 + ($k) * 7) % 41 - 10 + ($k) * 0.5"
  def tempMin(a: String, k: String): String = s"(${tempAvg(a, k)}) - (($a) + ($k)) % 6"
  def tempMax(a: String, k: String): String = s"(${tempAvg(a, k)}) + (($a) + ($k) * 2) % 7"
  def precip(a: String, k: String): String = s"((($a) * 11 + ($k) * 3) % 20) * 0.5"
  def wind(a: String, k: String): String = s"2.0 + (($a) * 5 + ($k)) % 25"
  def visib(a: String, k: String): String = s"10000.0 - ((($a) * 3 + ($k) * 13) % 100) * 50"
  def cloud(a: String, k: String): String = s"((($a) * 19 + ($k) * 29) % 101) * 1.0"
}
