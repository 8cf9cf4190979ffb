package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The six factor weights of the influence kernel, as pure column arithmetic.
  *
  * Every constant is transcribed from the reference's single source of truth,
  * `backend/app/services/algorithm_config.py` (line cites per member). All
  * functions take and return [[Column]] so the whole kernel stays inside
  * whole-stage codegen; categorical lookups are `when` chains (Catalyst
  * folds them), not joins.
  */
object WeightExprs {

  /** ASCII case fold: `A`–`Z` become `a`–`z`, every other character stays
    * as it is — the kernel's case-insensitive key match.
    *
    * It replaces `lower` on the kernel's lookups because Spark 4.1's
    * `lower` (with the default `spark.sql.icu.caseMappings.enabled`) runs
    * the ICU case-map class initialiser on first use, seconds of one
    * thread while the stage's other tasks wait. The lookups give the same
    * result under either fold: every key is lowercase ASCII without `k`,
    * and the only non-ASCII code point ICU lowercases to pure ASCII is
    * U+212A KELVIN SIGN (→ `k`) — pinned by AsciiFoldSpec.
    */
  def asciiLower(s: Column): Column =
    translate(s, "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz")

  /** Table lookup on an already folded ([[asciiLower]]) type column. */
  private def typeLookup(typeLc: Column, table: Map[String, Double], default: Double): Column =
    table.foldLeft(when(lit(false), lit(0.0))) { case (acc, (k, v)) =>
      acc.when(typeLc === k, lit(v))
    }.otherwise(lit(default))

  // -------------------------------------------------------------------------
  // Spatial (ref: backend/app/services/spatial_weighting.py:19-64,
  //          config algorithm_config.py:17-26)
  // -------------------------------------------------------------------------

  /** Gaussian KDE bandwidth (km) by planning route type. */
  val SpatialBandwidth: Map[String, Double] = Map(
    "alpine" -> 75.0, "ice" -> 50.0, "mixed" -> 60.0, "trad" -> 40.0,
    "sport" -> 25.0, "aid" -> 30.0, "boulder" -> 20.0)
  val SpatialBandwidthDefault = 50.0

  /** Bandwidth for a folded ([[asciiLower]]) route-type column. */
  def spatialBandwidthKm(routeTypeLc: Column): Column =
    typeLookup(routeTypeLc, SpatialBandwidth, SpatialBandwidthDefault)

  /** `2h²`, the Gaussian's denominator for a bandwidth `h`. */
  def twoBandwidthSq(h: Column): Column = lit(2.0) * pow(h, 2)

  /** `exp(-d² / 2h²)` for a given `2h²` — Gaussian decay, no hard cutoff. */
  def spatialKernel(distKm: Column, twoH2: Column): Column =
    exp(-(pow(distKm, 2)) / twoH2)

  /** [[spatialKernel]] with the route type's bandwidth. */
  def spatialWeight(distanceKm: Column, routeType: Column): Column =
    spatialKernel(distanceKm, twoBandwidthSq(spatialBandwidthKm(asciiLower(routeType))))

  // -------------------------------------------------------------------------
  // Temporal (ref: backend/app/services/temporal_weighting.py:24-80,
  //           config algorithm_config.py:51-79)
  // -------------------------------------------------------------------------

  val TemporalLambda: Map[String, Double] = Map(
    "alpine" -> 0.9998, "ice" -> 0.9997, "mixed" -> 0.9997, "trad" -> 0.9995,
    "sport" -> 0.999, "aid" -> 0.9995, "boulder" -> 0.999)
  val TemporalLambdaDefault = 0.9996
  val TemporalDecayImpact = 0.35
  val TemporalDecayShape = 1.5
  val TemporalSeasonalImpact = 0.10
  val SeasonalBoost = 1.5
  /** The same-season temporal multiplier, 1 + (1.5 − 1)·0.10. */
  val SeasonalMultiplier: Double = 1.0 + (SeasonalBoost - 1.0) * TemporalSeasonalImpact

  /** Decay λ for a folded ([[asciiLower]]) route-type column. */
  def temporalLambda(routeTypeLc: Column): Column =
    typeLookup(routeTypeLc, TemporalLambda, TemporalLambdaDefault)

  /** Northern-hemisphere season for a date column
    * (ref: `backend/app/utils/time_utils.py:12-56`).
    */
  def seasonOf(date: Column): Column = {
    val m = month(date)
    when(m.isin(12, 1, 2), "winter")
      .when(m.isin(3, 4, 5), "spring")
      .when(m.isin(6, 7, 8), "summer")
      .otherwise("fall")
  }

  /** |Δdays| between two dates, as a double (ref uses abs, `time_utils.py:59-77`). */
  def dayCount(planDate: Column, accidentDate: Column): Column =
    abs(datediff(planDate, accidentDate)).cast("double")

  /** Both dates fall in the same season. */
  def sameSeason(a: Column, b: Column): Column = seasonOf(a) === seasonOf(b)

  /** `1 − 0.35·(1 − (λ^days)^1.5)`: the decay before any seasonal boost. */
  def temporalBase(lambda: Column, days: Column): Column =
    lit(1.0) - lit(TemporalDecayImpact) * (lit(1.0) - pow(pow(lambda, days), TemporalDecayShape))

  /** `base`, ×[[SeasonalMultiplier]] when `inSeason`. */
  def seasonallyBoosted(inSeason: Column, base: Column): Column =
    when(inSeason, base * lit(SeasonalMultiplier)).otherwise(base)

  /** [[temporalBase]] with the route type's λ, boosted when both dates
    * share a season.
    */
  def temporalWeight(currentDate: Column, accidentDate: Column, routeType: Column): Column =
    seasonallyBoosted(sameSeason(currentDate, accidentDate),
      temporalBase(temporalLambda(asciiLower(routeType)), dayCount(currentDate, accidentDate)))

  // -------------------------------------------------------------------------
  // Elevation (ref: backend/app/services/elevation_weighting.py:16-50,
  //            config algorithm_config.py:202-215)
  //
  // Canonical semantics = bonus-only (1.0 .. 1.15), never a penalty. The
  // batch-vectorized penalty variant (location_safety_computation.py:375-384)
  // is a reference-internal divergence; the INTERACTIVE kernel here stays
  // bonus-only (SURVEY §7.4(1)), while LocationKernel reproduces the
  // penalty variant faithfully for the factorized batch path it belongs to.
  // -------------------------------------------------------------------------

  val ElevationDecayConstant: Map[String, Double] = Map(
    "alpine" -> 1600, "ice" -> 1600, "mixed" -> 1600, "trad" -> 2400,
    "aid" -> 2400, "sport" -> 3600, "boulder" -> 6000)
  val ElevationDecayDefault = 2400.0
  val ElevationBonusMax = 0.15

  /** Elevation decay constant for a folded ([[asciiLower]]) route-type column. */
  def elevationDecayConstant(routeTypeLc: Column): Column =
    typeLookup(routeTypeLc, ElevationDecayConstant, ElevationDecayDefault)

  /** `1 + 0.15·exp(−(|Δelev|/c)²)`; NULL elevation on either side → 1.0. */
  def elevationBonus(routeElev: Column, accElev: Column, decayC: Column): Column =
    when(routeElev.isNull || accElev.isNull, lit(1.0))
      .otherwise(lit(1.0) + lit(ElevationBonusMax) * exp(-pow(abs(accElev - routeElev) / decayC, 2)))

  /** [[elevationBonus]] with the route type's decay constant. */
  def elevationWeight(routeElev: Column, accidentElev: Column, routeType: Column): Column =
    elevationBonus(routeElev, accidentElev, elevationDecayConstant(asciiLower(routeType)))

  // -------------------------------------------------------------------------
  // Severity (ref: backend/app/services/severity_weighting.py:18-148,
  //           config algorithm_config.py:237-245)
  // -------------------------------------------------------------------------

  /** Canonical severity → multiplier (`algorithm_config.py:237-245`). */
  val SeverityWeights: Map[String, Double] =
    Map("fatal" -> 1.3, "serious" -> 1.1, "minor" -> 1.0, "unknown" -> 1.0)

  /** Term-containment sets for severity normalization, in match-priority
    * order (`severity_weighting.py:93-148`). Public so the DuckDB oracle SQL
    * is generated from the same constants (graft.queries.Sql).
    */
  val SeverityTerms: Seq[(String, Seq[String])] = Seq(
    "fatal" -> Seq("fatal", "death", "fatality", "died", "killed"),
    "serious" -> Seq("serious", "severe", "critical", "injured", "injury", "hospitalized"),
    "minor" -> Seq("minor", "slight", "light", "uninjured", "no injury"))

  /** The severity weight: exact case-folded dict lookup with default 1.0.
    * The reference influence kernel does NOT apply the term-containment
    * normalizer (`safety_algorithm.py:278` calls
    * `calculate_severity_weight(accident.severity)` which is a plain
    * `SEVERITY_BOOSTERS.get(severity.lower(), 1.0)`,
    * `severity_weighting.py:18-55`) — so free text like "Serious Injury"
    * scores 1.0 in the kernel. normalizeSeverity (F10) remains a separate
    * data-prep operator, whose levels this lookup scores too. A NULL
    * severity matches no key and scores 1.0.
    */
  def severityWeight(raw: Column): Column = {
    val lc = asciiLower(raw)
    KernelSeverityKeys.foldLeft(when(lit(false), lit(0.0))) { case (acc, k) =>
      acc.when(lc === k, lit(SeverityWeights(k)))
    }.otherwise(lit(1.0))
  }

  /** The severity keys [[severityWeight]] matches; every other value
    * (minor, unknown, free text) scores 1.0.
    */
  private[graft] val KernelSeverityKeys: Seq[String] = Seq("fatal", "serious")

  /** Raw free-text severity → canonical level via term containment
    * (ref: `severity_weighting.py:93-148`; order fatal → serious → minor).
    */
  def normalizeSeverity(raw: Column): Column = {
    val s = lower(trim(raw))
    val containsAny = (terms: Seq[String]) =>
      terms.map(t => s.contains(t)).reduce(_ || _)
    SeverityTerms.foldLeft(when(raw.isNull || s === "", "unknown")) {
      case (acc, (level, terms)) => acc.when(containsAny(terms), level)
    }.otherwise("unknown")
  }

  // -------------------------------------------------------------------------
  // Route type (ref: config algorithm_config.py:89-155; lookup
  //             route_type_weighting.py:17-58)
  // -------------------------------------------------------------------------

  /** Asymmetric (planning, accident) similarity matrix — note the canary
    * effect: (alpine, sport)=0.9 but (sport, alpine)=0.3.
    */
  val RouteTypeWeights: Map[(String, String), Double] = Map(
    ("sport", "sport") -> 1.0, ("sport", "trad") -> 0.7, ("sport", "boulder") -> 0.6,
    ("sport", "alpine") -> 0.3, ("sport", "ice") -> 0.2, ("sport", "mixed") -> 0.3,
    ("sport", "aid") -> 0.5,
    ("trad", "sport") -> 0.6, ("trad", "trad") -> 1.0, ("trad", "boulder") -> 0.4,
    ("trad", "alpine") -> 0.6, ("trad", "ice") -> 0.3, ("trad", "mixed") -> 0.5,
    ("trad", "aid") -> 0.8,
    ("alpine", "sport") -> 0.9, ("alpine", "trad") -> 0.8, ("alpine", "boulder") -> 0.3,
    ("alpine", "alpine") -> 1.0, ("alpine", "ice") -> 0.8, ("alpine", "mixed") -> 0.9,
    ("alpine", "aid") -> 0.6,
    ("ice", "sport") -> 0.4, ("ice", "trad") -> 0.5, ("ice", "boulder") -> 0.2,
    ("ice", "alpine") -> 0.9, ("ice", "ice") -> 1.0, ("ice", "mixed") -> 0.9,
    ("ice", "aid") -> 0.4,
    ("mixed", "sport") -> 0.5, ("mixed", "trad") -> 0.6, ("mixed", "boulder") -> 0.3,
    ("mixed", "alpine") -> 0.9, ("mixed", "ice") -> 0.9, ("mixed", "mixed") -> 1.0,
    ("mixed", "aid") -> 0.5,
    ("aid", "sport") -> 0.5, ("aid", "trad") -> 0.8, ("aid", "boulder") -> 0.2,
    ("aid", "alpine") -> 0.6, ("aid", "ice") -> 0.3, ("aid", "mixed") -> 0.5,
    ("aid", "aid") -> 1.0,
    ("boulder", "sport") -> 0.7, ("boulder", "trad") -> 0.4, ("boulder", "boulder") -> 1.0,
    ("boulder", "alpine") -> 0.2, ("boulder", "ice") -> 0.2, ("boulder", "mixed") -> 0.3,
    ("boulder", "aid") -> 0.3)
  val DefaultRouteTypeWeight = 0.5

  /** Matrix lookup as an `element_at(map_literal, concat(...))` — a single
    * codegen-friendly map probe instead of a 49-arm `when` chain.
    */
  def routeTypeWeight(planningType: Column, accidentType: Column): Column = {
    val entries = RouteTypeWeights.toSeq.sortBy(_._1)
    val m = map(entries.flatMap { case ((p, a), w) =>
      Seq(lit(s"$p|$a"), lit(w))
    }: _*)
    // try_element_at: a pair outside the 49-entry matrix must fall to the
    // 0.5 default (ROUTE_TYPE_COMPATIBILITY.get(pair, 0.5)) — plain
    // element_at THROWS under ANSI mode for a missing key, so the coalesce
    // default was unreachable exactly when an unnormalized type (raw user
    // input, or inference's 'default') reached the kernel on an ANSI session
    coalesce(
      try_element_at(m, concat(asciiLower(planningType), lit("|"), asciiLower(accidentType))),
      lit(DefaultRouteTypeWeight))
  }

  // -------------------------------------------------------------------------
  // Grade (ref: backend/app/services/grade_weighting.py:208-267,
  //        config algorithm_config.py:225-229)
  // -------------------------------------------------------------------------

  val GradeHalfWeightDiff = 3.0
  val GradeMinWeight = 0.25
  /** σ such that a 3-grade difference → weight 0.5 (`grade_weighting.py:259-261`). */
  val GradeSigma: Double = GradeHalfWeightDiff / 1.18

  /** `max(0.25, exp(−Δ²/(2σ²)))` on pre-parsed numeric difficulties;
    * NULL difficulty on either side → neutral 1.0.
    */
  def gradeWeight(routeDifficulty: Column, accidentDifficulty: Column): Column = {
    val diff = abs(routeDifficulty - accidentDifficulty)
    val w = exp(-pow(diff, 2) / lit(2.0 * GradeSigma * GradeSigma))
    when(routeDifficulty.isNull || accidentDifficulty.isNull, lit(1.0))
      .otherwise(greatest(lit(GradeMinWeight), w))
  }

  // -------------------------------------------------------------------------
  // Combination + normalization (ref: safety_algorithm.py:293-372,
  //   config algorithm_config.py:256-259)
  // -------------------------------------------------------------------------

  /** Cubic weather power (`safety_algorithm.py:313`; the "quadratic" comments
    * in the reference are stale — code is cubic everywhere, SURVEY §7.4(1)).
    */
  val WeatherPower = 3
  val WeatherExclusionThreshold = 0.25
  val RiskNormalizationFactor = 7.0
  val MaxRiskScore = 100.0

  /** `0 if wsim < 0.25 else wsim³` (ref: `safety_algorithm.py:310-319`). */
  def weatherFactor(weatherSimilarity: Column): Column =
    when(weatherSimilarity < WeatherExclusionThreshold, lit(0.0))
      .otherwise(pow(weatherSimilarity, WeatherPower))

  /** `min(100, max(0, Σ·7.0))` (ref: `safety_algorithm.py:348-367`). */
  def normalizeRiskScore(totalInfluence: Column): Column =
    least(lit(MaxRiskScore), greatest(lit(0.0), totalInfluence * RiskNormalizationFactor))

  /** API color thresholds 30/50/70 (`backend/app/api/v1/mp_routes.py:153-170`).
    * The batch surface uses 25/50/75 (`location_safety_computation.py:541-549`)
    * — pass `batchThresholds = true` for that variant (SURVEY §7.4(1)).
    */
  def colorCode(risk: Column, batchThresholds: Boolean = false): Column = {
    val (lo, mid, hi) = if (batchThresholds) (25, 50, 75) else (30, 50, 70)
    when(risk < lo, "green").when(risk < mid, "yellow")
      .when(risk < hi, "orange").otherwise("red")
  }

  /** Exponential-decay half-life in years for a decay λ
    * (ref: `backend/app/services/temporal_weighting.py:185-217`).
    */
  def halfLifeYears(lambdaValue: Double): Double =
    math.log(0.5) / math.log(lambdaValue) / 365.25
}
