package graft.kernel

import graft.expr.{GeoExprs, WeightExprs}

/** The influence kernel's per-pair factor math on primitive doubles — the
  * one written definition the fold ([[RouteFold]]) evaluates for every
  * (route, accident) pair.
  *
  * Each function performs the same operations, in the same order and with
  * the same math functions, as the one Catalyst body of its factor
  * (`GeoExprs.haversineKmHoisted`, `WeightExprs.spatialKernel`,
  * `elevationBonus`, `gradeWeight`, `weatherFactor`), so the fold agrees
  * bit for bit with a pair-grain kernel of those bodies (the specs'
  * reference). The temporal factor has no twin here: the fold reads the Catalyst
  * `temporalBase` slots and applies `WeightExprs.SeasonalMultiplier`
  * ([[RouteFold]]). Spark's POWER and EXP call `StrictMath`, while SIN,
  * ASIN, SQRT, RADIANS and ABS call `java.lang.Math`
  * (`java.lang.Math.exp`/`pow` differ from StrictMath by an ulp on some
  * inputs). `StrictMath.pow(x, 2)` is written `x * x`:
  * FdLibm's pow returns exactly `x * x` for `y == 2` (NaN, ±0 and ±∞
  * included). Comparisons follow Spark's double ordering, in which NaN is
  * larger than every other value. NULL handling stays with the caller:
  * these take only non-NULL inputs.
  *
  * [[spatialVanishes]] lets the fold skip a pair whose spatial factor is
  * exactly 0.0 without any trig: `StrictMath.exp(y)` is 0.0 for every
  * `y < −745.1332191019411` (FdLibm's underflow threshold), which
  * `−d²/(2h²)` crosses beyond about 38.6 h. [[beyondGate]] skips a pair
  * beyond a prune gate ([[gateA]]) the same way.
  */
private[kernel] object PairMath {

  private val TwoEarthRadiusKm = 2.0 * GeoExprs.EarthRadiusKm
  private val GradeTwoSigma2 = 2.0 * WeightExprs.GradeSigma * WeightExprs.GradeSigma

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
    val sLat = Math.sin(dLat / 2)
    val sLon = Math.sin(dLon / 2)
    val a = sLat * sLat + cosLat1 * cosLat2 * (sLon * sLon)
    TwoEarthRadiusKm * Math.asin(Math.sqrt(a))
  }

  /** exp(−d²/(2h²)), 2h² hoisted per route. */
  def spatial(distKm: Double, twoH2: Double): Double =
    StrictMath.exp(-(distKm * distKm) / twoH2)

  /** −y below which `StrictMath.exp(y)` returns exactly 0.0. */
  private val ExpZeroBelow = 745.1332191019411

  /** Relative slack on both skip bounds: far above the few ulps of
    * rounding in the bounds and in the haversine chain.
    */
  private val SkipMargin = 1e-6

  /** Per route: the haversine term `a` (see [[haversineKm]]) above which
    * `spatial(haversineKm(…), twoH2)` is exactly 0.0, with [[SkipMargin]]
    * to spare; +∞ when no distance on the sphere gets there (or 2h² is
    * not a positive number).
    */
  def zeroSpatialA(twoH2: Double): Double = termBeyond(Math.sqrt(ExpZeroBelow * twoH2))

  /** Per route: the haversine term `a` above which `haversineKm(…)`
    * exceeds `gateKm`, with [[SkipMargin]] to spare; +∞ when no distance
    * on the sphere gets there (or the gate is not a number).
    */
  def gateA(gateKm: Double): Double = termBeyond(gateKm)

  /** Per route: the latitude difference (degrees) beyond which
    * `haversineKm(…)` exceeds `gateKm`, with [[SkipMargin]] to spare, for
    * two latitudes within ±90°: the distance is then at least R·|Δφ|.
    */
  def gateLatDeg(gateKm: Double): Double =
    Math.toDegrees(gateKm / GeoExprs.EarthRadiusKm) * (1 + SkipMargin)

  private def termBeyond(distKm: Double): Double = {
    val halfAngle = distKm / TwoEarthRadiusKm * (1 + SkipMargin)
    if (!(halfAngle < Math.PI / 2)) Double.PositiveInfinity
    else {
      val s = Math.sin(halfAngle)
      s * s * (1 + SkipMargin)
    }
  }

  /** True only when `spatial(haversineKm(…), twoH2)` is exactly 0.0, for
    * any inputs: the lower bound of [[aAbove]] clears `zeroA`
    * ([[zeroSpatialA]] of that 2h²), and the upper bound `sin² x ≤ x²`
    * keeps `a` below 1, so `asin(√a)` is finite and increasing. A NaN or
    * infinite input fails a test.
    */
  def spatialVanishes(cosLat1: Double, lat1: Double, lon1: Double,
                      cosLat2: Double, lat2: Double, lon2: Double, zeroA: Double): Boolean = {
    val x1 = Math.abs(Math.toRadians(lat2 - lat1) / 2)
    val x2 = Math.abs(Math.toRadians(lon2 - lon1) / 2)
    val c = cosLat1 * cosLat2
    aAbove(x1, x2, c, zeroA) && x1 * x1 + c * (x2 * x2) < 1 - SkipMargin
  }

  /** True only when `haversineKm(…)` exceeds the gate `gateA` was made
    * from ([[gateA]]) or is NaN, for any inputs: the lower bound of
    * [[aAbove]] clears `gateA`. No upper bound on `a` is needed: past 1
    * the distance is NaN, which fails a gate too.
    */
  def beyondGate(cosLat1: Double, lat1: Double, lon1: Double,
                 cosLat2: Double, lat2: Double, lon2: Double, gateA: Double): Boolean =
    aAbove(Math.abs(Math.toRadians(lat2 - lat1) / 2), Math.abs(Math.toRadians(lon2 - lon1) / 2),
      cosLat1 * cosLat2, gateA)

  /** `c = cosLat1 · cosLat2 ≥ 0` and a trig-free lower bound on the
    * haversine term `a = sin² x1 + c · sin² x2` exceeds `bound`.
    */
  private def aAbove(x1: Double, x2: Double, c: Double, bound: Double): Boolean = {
    val s1 = sinLowerBound(x1)
    val s2 = sinLowerBound(x2)
    c >= 0 && s1 * s1 + c * (s2 * s2) > bound
  }

  /** A lower bound on `sin x` for `x ≥ 0`: `x − x³/6` below 1; on
    * [1, 2.1], inside [1, π − 1] where `sin x ≥ sin 1 > 0.8414`, 0.84;
    * 0 beyond.
    */
  private def sinLowerBound(x: Double): Double =
    if (x < 1.0) x - x * x * x / 6 else if (x <= 2.1) 0.84 else 0.0

  /** 1 + 0.15·exp(−(|Δelev|/c)²) — for two non-NULL elevations. */
  def elevation(elev: Double, aElev: Double, decayC: Double): Double = {
    val x = Math.abs(aElev - elev) / decayC
    1.0 + WeightExprs.ElevationBonusMax * StrictMath.exp(-(x * x))
  }

  /** Matrix weight for two canonical type indexes, 0.5 when either is -1. */
  def routeType(routeIdx: Int, accidentIdx: Int): Double =
    if (routeIdx >= 0 && accidentIdx >= 0) RouteTypeMatrix(routeIdx * 7 + accidentIdx)
    else WeightExprs.DefaultRouteTypeWeight

  /** greatest(0.25, exp(−Δ²/(2σ²))) — for two non-NULL difficulties. */
  def grade(difficulty: Double, aDifficulty: Double): Double = {
    val x = Math.abs(difficulty - aDifficulty)
    greatest(WeightExprs.GradeMinWeight, StrictMath.exp(-(x * x) / GradeTwoSigma2))
  }

  /** 0.0 below the exclusion threshold (NaN is not), else `wsim³`. */
  def weatherFactor(wsim: Double): Double =
    if (wsim < WeightExprs.WeatherExclusionThreshold) 0.0
    else StrictMath.pow(wsim, WeightExprs.WeatherPower)

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
