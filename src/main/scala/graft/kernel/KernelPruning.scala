package graft.kernel

import org.apache.spark.sql.{Column, DataFrame}

import graft.expr.WeightExprs

/** Influence-floor pruning for the scoring kernel — the 100 TB path
  * (SURVEY §7.3(d), O8/O12).
  *
  * The exact kernel scores every route × every accident. At 100× routes
  * the dominant cost is pairs whose influence is guaranteed below the
  * significance floor (O8: 1e-6, `location_safety_computation.py:406-411`).
  * Since every non-spatial factor is bounded above
  * (temporal ≤ 1.05, elevation ≤ 1.15, route-type ≤ 1.0, severity ≤ 1.3,
  * grade ≤ 1.0, weather ≤ 1.0 unamplified), influence ≥ floor requires
  *
  * {{{ spatial = exp(-d²/2h²) ≥ floor / B   ⇒   d ≤ h·√(2·ln(B/floor)) }}}
  *
  * with B the product of those bounds. The pruned fold
  * ([[SafetyKernel.scoreRoutesForDates]] with `pruned`) drops every pair
  * beyond that gate, so each dropped pair adds less than the floor: the
  * total risk error per route is < |accidents|·floor·7, and every pair the
  * exact kernel counts in `n_contributing` is kept with the same influence.
  */
object KernelPruning {

  /** Upper bound on the non-spatial factor product (unamplified weather). */
  val NonSpatialBound: Double =
    1.05 * 1.15 * 1.0 * WeightExprs.SeverityWeights("fatal") * 1.0 * 1.0

  /** Gate radius per km of bandwidth at `floor`, unamplified weather. */
  private def radiusFactorFor(floor: Double): Double =
    math.sqrt(2.0 * math.log(NonSpatialBound / floor))

  /** Gate radius per km of bandwidth at the significance floor: a route's
    * gate is `__h` times this.
    */
  private[graft] val SignificanceRadiusFactor: Double =
    radiusFactorFor(SafetyKernel.SignificanceFloor)

  /** Pruned end-to-end scoring for one plan date: the pruned fold, with the
    * columns of [[SafetyKernel.scoreRoutes]]. Its rows are the exact
    * kernel's: a route no pair reaches reads 0.0/0, a NULL-coordinate route
    * NULL/0, a repeated `route_id` one row, and an empty accident set gives
    * no rows. It has no latitude domain, and a route-side `wmult` (amplified
    * weather) is rejected; score that with the exact
    * [[SafetyKernel.scoreRoutes]].
    */
  def scoreRoutesPruned(routes: DataFrame, accidents: DataFrame, planDate: Column): DataFrame =
    SafetyKernel.scoreRoutesForDates(routes, accidents, Seq(planDate), pruned = true)
      .drop("prediction_date")
}
