package graft.kernel

import graft.expr.{GeoExprs, WeightExprs}

/** The influence kernel's per-pair factor math on primitive doubles — the
  * one written definition the multi-date fold ([[RouteFold]]) evaluates
  * for every (route, accident) pair.
  *
  * Each function performs the same operations, in the same order and with
  * the same math functions, as the Catalyst factor expressions of the
  * pair-grain kernel ([[SafetyKernel.influenceColumns]], GeoExprs,
  * WeightExprs), so the two agree bit for bit: Spark's POWER and EXP call
  * `StrictMath`, while SIN, ASIN, SQRT, RADIANS and ABS call
  * `java.lang.Math` (`java.lang.Math.exp`/`pow` differ from StrictMath by
  * an ulp on some inputs). Comparisons follow Spark's double ordering, in
  * which NaN is larger than every other value. NULL handling stays with
  * the caller: these take only non-NULL inputs.
  */
private[kernel] object PairMath {

  private val TwoEarthRadiusKm = 2.0 * GeoExprs.EarthRadiusKm
  private val GradeTwoSigma2 = 2.0 * WeightExprs.GradeSigma * WeightExprs.GradeSigma

  /** The same-season temporal multiplier, 1 + (1.5 − 1)·0.10. */
  val SeasonalMultiplier: Double =
    1.0 + (WeightExprs.SeasonalBoost - 1.0) * WeightExprs.TemporalSeasonalImpact

  /** Canonical (planning, accident) route-type weights, flattened
    * planning-major: index = planningIdx × 7 + accidentIdx.
    */
  val RouteTypeMatrix: Array[Double] =
    (for (p <- SafetyKernel.CanonicalTypes; a <- SafetyKernel.CanonicalTypes)
      yield WeightExprs.RouteTypeWeights((p, a))).toArray

  /** `GeoExprs.haversineKmHoisted`: 2R·asin(√(sin²(Δφ/2) + cosφ₁cosφ₂·sin²(Δλ/2))). */
  def haversineKm(cosLat1: Double, lat1: Double, lon1: Double,
                  cosLat2: Double, lat2: Double, lon2: Double): Double = {
    val dLat = Math.toRadians(lat2 - lat1)
    val dLon = Math.toRadians(lon2 - lon1)
    val a = StrictMath.pow(Math.sin(dLat / 2), 2) +
      cosLat1 * cosLat2 * StrictMath.pow(Math.sin(dLon / 2), 2)
    TwoEarthRadiusKm * Math.asin(Math.sqrt(a))
  }

  /** exp(−d²/(2h²)), 2h² hoisted per route. */
  def spatial(distKm: Double, twoH2: Double): Double =
    StrictMath.exp(-StrictMath.pow(distKm, 2) / twoH2)

  /** 1 + 0.15·exp(−(|Δelev|/c)²) — for two non-NULL elevations. */
  def elevation(elev: Double, aElev: Double, decayC: Double): Double =
    1.0 + WeightExprs.ElevationBonusMax *
      StrictMath.exp(-StrictMath.pow(Math.abs(aElev - elev) / decayC, 2))

  /** Matrix weight for two canonical type indexes, 0.5 when either is -1. */
  def routeType(routeIdx: Int, accidentIdx: Int): Double =
    if (routeIdx >= 0 && accidentIdx >= 0) RouteTypeMatrix(routeIdx * 7 + accidentIdx)
    else WeightExprs.DefaultRouteTypeWeight

  /** greatest(0.25, exp(−Δ²/(2σ²))) — for two non-NULL difficulties. */
  def grade(difficulty: Double, aDifficulty: Double): Double =
    greatest(WeightExprs.GradeMinWeight,
      StrictMath.exp(-StrictMath.pow(Math.abs(difficulty - aDifficulty), 2) / GradeTwoSigma2))

  /** base = spatial·temporal·elevation·route_type·severity·grade, then
    * ×weather — the reference's multiplication order.
    */
  def influence(spatial: Double, temporal: Double, elevation: Double, routeType: Double,
                severity: Double, grade: Double, weather: Double): Double =
    spatial * temporal * elevation * routeType * severity * grade * weather

  /** `influence > 1e-6` under Spark's ordering (NaN counts). */
  def significant(influence: Double): Boolean =
    greaterThan(influence, SafetyKernel.SignificanceFloor)

  /** Spark's `greatest(lo, x)`: x replaces lo only when strictly greater. */
  private def greatest(lo: Double, x: Double): Double =
    if (greaterThan(x, lo)) x else lo

  /** Spark's double `>` for a non-NaN right side: NaN is the largest value. */
  private def greaterThan(x: Double, y: Double): Boolean =
    x > y || java.lang.Double.isNaN(x)
}
