package graft.kernel

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expr.{GeoExprs, WeightExprs}

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
  * cross join is a **broadcast nested-loop join** with zero shuffle on the
  * routes side; the kernel itself is one `select` of pure column arithmetic
  * (whole-stage codegen, no UDFs), followed by a hash aggregation on
  * `route_id`. At 100 TB of routes this scales linearly with route
  * partitions: no route-side shuffle until the final (already partial-
  * aggregated) groupBy, whose key cardinality = #routes. The multi-date
  * nightly kernel ([[scoreRoutesForDates]]) evaluates the same factors as
  * a per-route fold over primitive accident arrays ([[RouteFold]],
  * [[PairMath]]); this pair-grain form is its bitwise reference.
  *
  * Each factor's Catalyst formula is written once, in WeightExprs
  * (`spatialKernel`, `temporalBase`, `seasonallyBoosted`, `elevationBonus`,
  * `severityWeight`, `gradeWeight`): this kernel applies them to hoisted
  * per-route and per-accident columns, the standalone factor weights to
  * per-type lookups, so both evaluate the same expression trees.
  *
  * Expected input columns —
  *   routes:    route_id, lat, lon, elev, route_type (canonical, any ASCII case),
  *              difficulty (nullable Double)
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

  /** Per-(route × accident) influence decomposition over a broadcast cross
    * join. Returns the pair grain with every factor as its own column —
    * downstream ops (risk agg, top-k breakdown, factor-contribution
    * analytics A13) all derive from this one plan.
    *
    * Everything that depends on only ONE side is computed BEFORE the join
    * (bandwidth/elevation-constant/type index per route; severity weight,
    * season flag, temporal slots per accident) so the O(routes × accidents)
    * inner loop is pure numeric trig/exp — no string ops, no when-chains
    * over strings. Results are bit-identical to the reference composition
    * (the hoisted values are the same values, evaluated once).
    */
  def pairInfluence(routes: DataFrame, accidents: DataFrame, planDate: Column): DataFrame = {
    requireRouteSideWmult("pairInfluence", accidents)
    influenceColumns(
      enrichRoutes(balance(routes)).crossJoin(broadcast(enrichAccidents(accidents, planDate)))
        .withColumn("dist_km", GeoExprs.haversineKmHoisted(
          col("__coslat"), col("lat"), col("lon"), col("__a_coslat"), col("a_lat"), col("a_lon"))))
  }

  /** The A7 multiplier `wmult` is a ROUTE-side column ([[influenceColumns]]).
    * An accidents frame carrying it would be amplified per pair by
    * [[pairInfluence]] and ignored by the fold ([[scoreRoutesForDates]]),
    * so the two would score it differently without an error: reject it.
    */
  private def requireRouteSideWmult(caller: String, accidents: DataFrame): Unit =
    require(!accidents.columns.contains("wmult"),
      s"$caller: accidents carry wmult (amplified weather), a route-side column")

  /** The broadcast-NLJ kernel parallelizes over ROUTE partitions only — a
    * small single-file parquet scan (one split) would run the whole
    * routes × accidents loop on one core (graft.Partitioning.balanced).
    */
  private def balance(routes: DataFrame): DataFrame = graft.Partitioning.balanced(routes)

  /** Route-side enrichment: every type-dependent constant hoisted out of
    * the pair loop. The type is case-folded once per row
    * ([[WeightExprs.asciiLower]]) and every lookup reads the folded column.
    */
  private def enrichRoutes(routes: DataFrame): DataFrame =
    routes
      .withColumn("__rt_lc", WeightExprs.asciiLower(col("route_type")))
      .withColumn("__h", WeightExprs.spatialBandwidthKm(col("__rt_lc")))
      .withColumn("__elev_c", WeightExprs.elevationDecayConstant(col("__rt_lc")))
      .withColumn("__rt_idx", typeIdx(col("__rt_lc")))
      // pair-loop hoists: cos(lat) for the haversine, 2h² for the spatial
      // Gaussian — both depend on the route row only
      .withColumn("__coslat", cos(radians(col("lat"))))
      .withColumn("__two_h2", WeightExprs.twoBandwidthSq(col("__h")))

  /** Accident-side enrichment for one plan date: severity weight, type
    * index, season flag, weather factor — all per accident, never per pair.
    */
  private def enrichAccidents(accidents: DataFrame, planDate: Column): DataFrame =
    accidentScalars(accidents)
      .withColumn("__same_season", accidentSameSeason(planDate))
      // λ can only be one of the canonical types' values or the default,
      // so the two per-pair pow() calls of the temporal weight collapse to
      // a per-ACCIDENT slot-per-type precompute; the pair loop just
      // indexes it with the route's type index. Same constants, same op
      // order → the picked value is bit-identical to the inline formula.
      .withColumn("__tw_arr", temporalSlots(planDate))

  /** The date-independent accident enrichment — severity weight, type
    * index, weather factor (wsim defaults to neutral 0.5), cos(lat) —
    * shared by [[enrichAccidents]], the multi-date fold's accident
    * arrays ([[RouteFold]]) and [[LocationKernel]].
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
    * slot last — the precompute indexed by `__rt_idx` in
    * [[influenceColumns]].
    */
  private[kernel] def temporalSlots(planDate: Column): Column = {
    val days = WeightExprs.dayCount(planDate, col("a_date"))
    array((CanonicalTypes.map(WeightExprs.TemporalLambda) :+ WeightExprs.TemporalLambdaDefault)
      .map(lam => WeightExprs.temporalBase(lit(lam), days)): _*)
  }

  /** The per-pair kernel over an already-joined (enriched-routes ×
    * enriched-accidents) frame — the body of [[pairInfluence]]. It reads
    * exactly these columns, which the caller supplies:
    *
    *  - `dist_km` (the caller's haversine, `GeoExprs.haversineKmHoisted`);
    *  - route side ([[enrichRoutes]]): `__two_h2`, `__rt_idx`, `__elev_c`,
    *    `elev`, `difficulty`;
    *  - accident side ([[enrichAccidents]]): `__tw_arr`, `__same_season`,
    *    `__acc_idx`, `__sev_w`, `__wfactor`, `a_elev`, `a_difficulty`;
    *  - `wsim` and `wmult`, only when the frame carries `wmult`.
    *
    * If the ROUTE side carries a `wmult` column (the A7 extreme-weather
    * multiplier from the route-location bucket's historical stats,
    * `weather_similarity.py:221-344` / batch per-bucket caching in
    * `safety_computation_optimized.py:516-560`), the weather factor is
    * computed per PAIR from the amplified similarity
    * `wsim × wmult` (final_similarity = base × multiplier,
    * `weather_similarity.py:473`) instead of the accident-hoisted factor —
    * exclusion threshold and quadratic power apply to the amplified value.
    * An accident-side `wmult` is rejected ([[requireRouteSideWmult]]).
    */
  private def influenceColumns(pairs: DataFrame): DataFrame = {
    val amplified = pairs.columns.contains("wmult")
    // temporal: 1 − 0.35·(1 − (λ^days)^1.5), ×1.05 same season — from the
    // per-accident per-type-slot precompute
    val baseWeight = element_at(col("__tw_arr"),
      when(col("__rt_idx") >= 0, col("__rt_idx") + 1)
        .otherwise(CanonicalTypes.size + 1).cast("int")) // default = last slot
    pairs
      // spatial: exp(-d²/(2h²)) with per-route bandwidth (2h² hoisted)
      .withColumn("spatial_w", WeightExprs.spatialKernel(col("dist_km"), col("__two_h2")))
      .withColumn("temporal_w", WeightExprs.seasonallyBoosted(col("__same_season"), baseWeight))
      // elevation: bonus-only gaussian with per-route constant
      .withColumn("elevation_w",
        WeightExprs.elevationBonus(col("elev"), col("a_elev"), col("__elev_c")))
      // route-type: int-indexed flat 7×7 matrix (same literals as the map form)
      .withColumn("route_type_w",
        when(col("__rt_idx") >= 0 && col("__acc_idx") >= 0,
          element_at(array(PairMath.RouteTypeMatrix.toSeq.map(lit): _*),
            (col("__rt_idx") * 7 + col("__acc_idx") + 1).cast("int")))
          .otherwise(WeightExprs.DefaultRouteTypeWeight))
      .withColumn("severity_w", col("__sev_w"))
      .withColumn("grade_w", WeightExprs.gradeWeight(col("difficulty"), col("a_difficulty")))
      // multiplication order mirrors the reference composition exactly
      // (safety_algorithm.py:293-319) — and the DuckDB oracle SQL.
      .withColumn("base_influence",
        col("spatial_w") * col("temporal_w") * col("elevation_w") *
          col("route_type_w") * col("severity_w") * col("grade_w"))
      .withColumn("weather_factor",
        if (amplified) WeightExprs.weatherFactor(col("wsim") * col("wmult"))
        else col("__wfactor"))
      .withColumn("influence", col("base_influence") * col("weather_factor"))
      .drop("__rt_lc", "__h", "__elev_c", "__rt_idx", "__sev_w", "__acc_idx",
        "__same_season", "__wfactor", "__coslat", "__a_coslat", "__tw_arr", "__two_h2")
  }

  /** Aggregate pair influences to per-route risk (A1 + F16).
    *
    * The explicit narrow projection before the groupBy matters at scale:
    * without it the plan keeps the full ~20-column factor frame alive
    * through several Project layers and materializes every pair row
    * (~3.5× slower at 1.16B pairs); with it, Catalyst collapses the kernel
    * into one fused Project producing exactly (route_id, influence).
    */
  def scoreRoutes(pairs: DataFrame): DataFrame =
    pairs
      .select("route_id", "influence")
      .groupBy("route_id")
      .agg(
        sum("influence").as("total_influence"),
        sum(when(col("influence") > SignificanceFloor, 1L).otherwise(0L))
          .as("n_contributing"))
      .withColumn("risk_score", WeightExprs.normalizeRiskScore(col("total_influence")))
      .withColumn("color_code", WeightExprs.colorCode(col("risk_score")))

  /** End-to-end: routes × accidents → per-route risk. */
  def scoreRoutes(routes: DataFrame, accidents: DataFrame, planDate: Column): DataFrame =
    scoreRoutes(pairInfluence(routes, accidents, planDate))

  /** Multi-date scoring — the nightly batch
    * (ScoringPipeline.computeDailyScores) scores the same routes ×
    * accidents for several plan dates, and only the TEMPORAL factor
    * depends on the date.
    *
    * The kernel is a per-route fold, not a pair-grain plan: the accidents
    * are enriched by the same Catalyst expressions as [[enrichAccidents]],
    * collected once and broadcast as primitive arrays ([[RouteFold]]);
    * each balanced route partition then runs one loop per route over
    * those arrays. The loop evaluates the date-independent factors once
    * per pair with [[PairMath]], picks each date's precomputed temporal
    * weight, and accumulates `total_influence` and `n_contributing` per
    * date in accident order, skipping pairs whose spatial factor is
    * exactly 0.0 (they would add ±0.0). One `route_id`-keyed aggregate
    * over the fold's |route rows| merges rows sharing a route_id, and the
    * date fan-out is a posexplode over |routes| rows. No operator handles
    * a row per pair.
    *
    * Per-(route, date) results are bit-identical to
    * `scoreRoutes(routes, accidents, to_date(lit(d)))`: PairMath performs
    * the Catalyst factor expressions' operations in the same order with
    * the same math functions, and each sum adds its accidents in the same
    * broadcast order as the pair-grain partial aggregate, with Spark's
    * NULL and NaN semantics — pinned by ScoringPipelineSpec's multi-date ≡
    * per-date arms.
    *
    * Contract: neither side carries `wmult` (amplified weather is scored
    * by [[pairInfluence]] only); coordinates, elevations and
    * difficulties are double or integral; the accident arrays
    * (accidents × (63 + 64 × dates) bytes) stay below
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
    * fold is bit-identical to `pairInfluence` with every non-NULL influence
    * beyond that gate replaced by 0.0, then summed: the rows are the exact
    * kernel's, and a route no pair reaches reads 0.0/0 (NULL/0 when every
    * influence is NULL, as with a NULL coordinate; no rows for an empty
    * accident set). There is no latitude domain: the gate holds at the
    * poles and across the antimeridian. [[KernelPruning.scoreRoutesPruned]]
    * is this fold for one date. `pruned = false` is the exact multi-date
    * kernel above.
    */
  def scoreRoutesForDates(routes: DataFrame, accidents: DataFrame,
                          dates: Seq[Column], pruned: Boolean): DataFrame = {
    require(dates.nonEmpty, "scoreRoutesForDates: empty dates list")
    require(!routes.columns.contains("wmult"),
      "scoreRoutesForDates: routes carry wmult (amplified weather), which the " +
        "multi-date kernel does not score; use pairInfluence")
    requireRouteSideWmult("scoreRoutesForDates", accidents)
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

  /** Top-k contributing accidents per route (W1) — rank-filter BEFORE any
    * collect so the shuffle carries ≤ k rows per route, never the full
    * pair fan-out (SURVEY §7.4(5)).
    */
  def topContributors(pairs: DataFrame, k: Int = 50): DataFrame = {
    val w = Window.partitionBy("route_id")
      .orderBy(col("influence").desc, col("accident_id").asc)
    pairs
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }
}
