package graft.kernel

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expr.WeightExprs

/** The influence kernel — the heart of the engine (SURVEY §2.7).
  *
  * Reference dataflow (`backend/app/services/safety_algorithm.py:197-345`,
  * vectorized twin `safety_algorithm_vectorized.py:314-379`): every planned
  * route is scored against every accident —
  *
  * {{{
  * base = spatial × temporal × elevation × route_type × severity × grade
  * influence = base × weather_factor(similarity)
  * risk(route) = min(100, max(0, Σ_accidents influence × 7.0))
  * }}}
  *
  * Spark-first shape: the accidents side is small (~6.9K rows in the
  * reference; ≪ broadcast threshold even at 100× that), so the conceptual
  * cross join is a per-route fold ([[RouteFold]]) over the accidents,
  * broadcast as primitive arrays: no route-side shuffle before one
  * `route_id`-keyed aggregate, and no operator handles a row per pair.
  * Every entry here — one date, several dates, pruned, amplified weather,
  * top-k contributors — is that fold.
  *
  * Each factor's Catalyst formula is written once, in WeightExprs
  * (`spatialKernel`, `temporalBase`, `seasonallyBoosted`, `elevationBonus`,
  * `severityWeight`, `gradeWeight`, `weatherFactor`): the fold's hoisted
  * per-route and per-accident columns apply them, and PairMath performs
  * the per-pair ones in the same operations and order.
  *
  * Expected input columns —
  *   routes:    route_id, lat, lon, elev, route_type (canonical, any ASCII case),
  *              difficulty (nullable Double), optionally wmult (double)
  *   accidents: accident_id, a_lat, a_lon, a_elev, acc_type, severity_raw,
  *              a_date, a_difficulty, and optionally wsim (weather
  *              similarity in [0,1]; missing column → neutral 0.5, the
  *              reference's missing-pattern path `safety_algorithm.py:265-269`)
  */
object SafetyKernel {

  val NeutralWeatherSimilarity = 0.5
  val SignificanceFloor = 1e-6 // O8, location_safety_computation.py:406-411

  /** THE canonical route-type list (`route_type_weights.py` key order) —
    * the kernel's matrix/index building and every oracle-side type
    * enumeration (KernelQueries.typesDf/typesValues, Sql.TypeByIdx) derive
    * from this one value, so a type added or renamed here propagates
    * everywhere or nowhere.
    */
  private[graft] val CanonicalTypes =
    Seq("alpine", "ice", "mixed", "trad", "sport", "aid", "boulder")

  /** Canonical type index (0-6) or -1; lets the per-pair path use integer
    * arithmetic instead of string comparisons.
    */
  private def typeIdx(typeLc: Column): Column =
    CanonicalTypes.zipWithIndex.foldLeft(when(lit(false), lit(0))) {
      case (acc, (t, i)) => acc.when(typeLc === t, i)
    }.otherwise(-1)

  /** The fold parallelizes over ROUTE partitions only — a small
    * single-file parquet scan (one split) would run the whole
    * routes × accidents loop on one core (graft.Partitioning.balanced).
    */
  private def balance(routes: DataFrame): DataFrame = graft.Partitioning.balanced(routes)

  /** Route-side enrichment: every type-dependent constant hoisted out of
    * the pair loop. The type is case-folded once per row
    * ([[WeightExprs.asciiLower]]) and every lookup reads the folded column.
    */
  private[kernel] def enrichRoutes(routes: DataFrame): DataFrame =
    routes
      .withColumn("__rt_lc", WeightExprs.asciiLower(col("route_type")))
      .withColumn("__h", WeightExprs.spatialBandwidthKm(col("__rt_lc")))
      .withColumn("__elev_c", WeightExprs.elevationDecayConstant(col("__rt_lc")))
      .withColumn("__rt_idx", typeIdx(col("__rt_lc")))
      // pair-loop hoists: cos(lat) for the haversine, 2h² for the spatial
      // Gaussian — both depend on the route row only
      .withColumn("__coslat", cos(radians(col("lat"))))
      .withColumn("__two_h2", WeightExprs.twoBandwidthSq(col("__h")))

  /** The date-independent accident enrichment — severity weight, type
    * index, weather factor (wsim defaults to neutral 0.5), cos(lat) —
    * shared by the fold's accident arrays ([[RouteFold]]) and
    * [[LocationKernel]].
    */
  private[kernel] def accidentScalars(accidents: DataFrame): DataFrame = {
    val accBase =
      if (accidents.columns.contains("wsim")) accidents
      else accidents.withColumn("wsim", lit(NeutralWeatherSimilarity))
    accBase
      .withColumn("__sev_w", WeightExprs.severityWeight(col("severity_raw")))
      .withColumn("__acc_idx", typeIdx(WeightExprs.asciiLower(col("acc_type"))))
      .withColumn("__wfactor", WeightExprs.weatherFactor(col("wsim")))
      .withColumn("__a_coslat", cos(radians(col("a_lat"))))
  }

  /** Plan date and accident date fall in the same season. */
  private[kernel] def accidentSameSeason(planDate: Column): Column =
    WeightExprs.sameSeason(planDate, col("a_date"))

  /** For one plan date, the accident's temporal base weight
    * ([[WeightExprs.temporalBase]]) per canonical type, with the default
    * slot last: λ can only be one of the canonical types' values or the
    * default, so the two per-pair pow() calls collapse to a per-ACCIDENT
    * precompute that the fold indexes with the route's type index.
    */
  private[kernel] def temporalSlots(planDate: Column): Column = {
    val days = WeightExprs.dayCount(planDate, col("a_date"))
    array((CanonicalTypes.map(WeightExprs.TemporalLambda) :+ WeightExprs.TemporalLambdaDefault)
      .map(lam => WeightExprs.temporalBase(lit(lam), days)): _*)
  }

  /** Routes × accidents → per-route risk for one plan date: the exact
    * fold of [[scoreRoutesForDates]] without `prediction_date`.
    */
  def scoreRoutes(routes: DataFrame, accidents: DataFrame, planDate: Column): DataFrame =
    scoreRoutesForDates(routes, accidents, Seq(planDate), pruned = false).drop("prediction_date")

  /** Multi-date scoring — the nightly batch
    * (ScoringPipeline.computeDailyScores) scores the same routes ×
    * accidents for several plan dates, and only the TEMPORAL factor
    * depends on the date: the fold ([[RouteFold]]) evaluates the other
    * factors once per pair and sums each date in accident order. One
    * `route_id`-keyed aggregate over the fold's |route rows| merges rows
    * sharing a route_id, and the date fan-out is a posexplode over |routes|
    * rows. Each (route, date) is bit-identical to a Catalyst pair-grain
    * kernel summed by a partial aggregate — pinned by the specs against
    * the test tree's reference and by the DuckDB oracle.
    *
    * Contract: `wmult` is a route-side column, double, as is `wsim` then;
    * coordinates, elevations and difficulties are double or integral; the
    * accident arrays (accidents × (63 + 64 × dates) bytes) stay below
    * `spark.sql.maxBroadcastTableSize`. The collect itself is bounded by
    * `spark.driver.maxResultSize`. Each breach fails with a message.
    *
    * Returns the scoreRoutes columns + `prediction_date`.
    */
  def scoreRoutesForDates(routes: DataFrame, accidents: DataFrame,
                          dates: Seq[String]): DataFrame =
    scoreRoutesForDates(routes, accidents, dates.map(d => to_date(lit(d))), pruned = false)

  /** The multi-date fold over date columns (any date-valued expression,
    * e.g. a serving date literal), optionally pruned.
    *
    * With `pruned` a pair counts only if its distance `dist_km` is at
    * most the route's gate `__h · √(2·ln(B/SignificanceFloor))`
    * ([[KernelPruning]]; a NaN distance fails it). Per route, the pruned
    * fold is bit-identical to the exact kernel's pairs with every non-NULL
    * influence beyond that gate replaced by 0.0, then summed: the rows are
    * the exact kernel's, and a route no pair reaches reads 0.0/0 (NULL/0
    * when every influence is NULL, as with a NULL coordinate; no rows for
    * an empty accident set). There is no latitude domain: the gate holds
    * at the poles and across the antimeridian.
    * [[KernelPruning.scoreRoutesPruned]] is this fold for one date. A
    * route-side `wmult` is rejected when pruned: the gate bound assumes a
    * weather factor of at most 1.
    */
  def scoreRoutesForDates(routes: DataFrame, accidents: DataFrame,
                          dates: Seq[Column], pruned: Boolean): DataFrame = {
    require(dates.nonEmpty, "scoreRoutesForDates: empty dates list")
    val folded = RouteFold(enrichRoutes(balance(routes)), accidents, dates, pruned)
    val aggCols = dates.indices.flatMap { i =>
      Seq(sum(col(s"__tot_$i")).as(s"__tot_$i"), sum(col(s"__n_$i")).as(s"__n_$i"))
    }
    folded
      .groupBy("route_id")
      .agg(aggCols.head, aggCols.tail: _*)
      .select(col("route_id"), posexplode(array(dates.indices.map(i =>
        struct(col(s"__tot_$i").as("t"), col(s"__n_$i").as("n"))): _*)))
      .select(col("route_id"),
        col("col.t").as("total_influence"), col("col.n").as("n_contributing"),
        col("pos").as("__di"))
      .withColumn("risk_score", WeightExprs.normalizeRiskScore(col("total_influence")))
      .withColumn("color_code", WeightExprs.colorCode(col("risk_score")))
      .withColumn("prediction_date", element_at(array(dates: _*), col("__di") + 1))
      .drop("__di")
  }

  /** [[scoreRoutes]] plus each route's top-`k` contributing accidents
    * (W1) from the same exact fold pass: `contributors` holds (`rank`
    * from 1, `accident_id`, `influence`, `dist_km`, `spatial_w`,
    * `temporal_w`, `elevation_w`, `route_type_w`, `severity_w`,
    * `grade_w`) structs by `influence` descending (NaN first, NULL last),
    * then `accident_id` ascending (integral). Every pair competes, a void
    * one with a NULL influence; a factor is NULL where the pair kernel's
    * column is. Each route row keeps a heap of at most `k` pairs, so no
    * pair fan-out reaches a shuffle (SURVEY §7.4(5)).
    */
  def scoreWithContributors(routes: DataFrame, accidents: DataFrame, planDate: Column,
                            k: Int): DataFrame = {
    require(k > 0, s"scoreWithContributors: k is $k, not positive")
    val folded = RouteFold(enrichRoutes(balance(routes)), accidents, Seq(planDate),
      pruned = false, topK = k)
    val merged = folded
      .groupBy("route_id")
      .agg(sum("__tot_0").as("total_influence"), sum("__n_0").as("n_contributing"),
        collect_list("__top").as("__top"))
    RouteFold.rankContributors(merged, k)
      .withColumn("risk_score", WeightExprs.normalizeRiskScore(col("total_influence")))
      .withColumn("color_code", WeightExprs.colorCode(col("risk_score")))
  }
}
