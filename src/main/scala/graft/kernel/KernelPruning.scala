package graft.kernel

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expr.WeightExprs

/** Influence-floor-driven spatial pruning for the scoring kernel — the
  * 100 TB path (SURVEY §7.3(d), O8/O12).
  *
  * The exact kernel is a cross join: every route × every accident. At
  * reference scale (168K × 6.9K) brute force is fine; at 100× routes the
  * dominated cost is pairs whose influence is guaranteed below the
  * significance floor (O8: 1e-6, `location_safety_computation.py:406-411`).
  * Since every non-spatial factor is bounded above
  * (temporal ≤ 1.05, elevation ≤ 1.15, route-type ≤ 1.0, severity ≤ 1.3,
  * grade ≤ 1.0, weather ≤ 1.0 unamplified), influence ≥ floor requires
  *
  * {{{ spatial = exp(-d²/2h²) ≥ floor / B   ⇒   d ≤ h·√(2·ln(B/floor)) }}}
  *
  * with B the product of those bounds. Bucketing both sides into a
  * lat/lon grid (cell size radius/K, see CellDiv) turns the cross join
  * into an EQUI-join on cell id with a (2K+1)² neighborhood fan-out on
  * the route (probe) side: routes shuffle/scan ONCE, the broadcast holds
  * one row per (accident, tier), join key cardinality is the grid, and
  * per-route work drops from |accidents| to |accidents within the
  * window|. Lossless above the floor: any pair
  * within the radius sits ≤ K cells apart per axis, so only sub-floor
  * pairs are dropped — total risk error per route is <
  * |accidents|·floor·7 (≈ 0.05 risk points at 6.9K accidents), and
  * exactly 0 for every pair the exact kernel would keep with influence
  * ≥ floor.
  */
object KernelPruning {

  /** Upper bound on the non-spatial factor product (unamplified weather). */
  val NonSpatialBound: Double =
    1.05 * 1.15 * 1.0 * WeightExprs.SeverityWeights("fatal") * 1.0 * 1.0

  /** The ONE hMax both the public radius and the tier grid derive from —
    * two independent maxes here could silently diverge (the map's max and
    * the default bandwidth only happen to order the same way today).
    */
  private val HMaxKm: Double =
    (WeightExprs.SpatialBandwidth.values.toSet + WeightExprs.SpatialBandwidthDefault).max

  /** Conservative prune radius (km) for a floor, using the LARGEST spatial
    * bandwidth (alpine 75 km) — per-type refinement would prune more but
    * the global bound keeps the cell grid uniform. `weatherBound` is the
    * caller's upper bound on the A7 multiplier when the route side carries
    * `wmult` (amplified weather factor = (wsim·wmult)³ can exceed the
    * unamplified ≤ 1 assumption); 1.0 = unamplified.
    */
  def pruneRadiusKm(floor: Double, weatherBound: Double = 1.0): Double =
    HMaxKm * radiusFactorFor(floor, weatherBound)

  private def radiusFactorFor(floor: Double, weatherBound: Double): Double =
    math.sqrt(2.0 * math.log(
      NonSpatialBound * math.pow(weatherBound, WeightExprs.WeatherPower) / floor))

  /** Gate radius per km of bandwidth at the significance floor, unamplified
    * weather: a route's gate is `__h` times this.
    */
  private[kernel] val SignificanceRadiusFactor: Double =
    radiusFactorFor(SafetyKernel.SignificanceFloor, 1.0)

  private val KmPerDegLat = 111.0

  /** Longitude cell COUNT for a prune radius: the largest count whose
    * uniform cell width (360/count degrees) still covers the radius at
    * `maxAbsLat`. A count that divides 360 evenly is what makes the
    * antimeridian seam safe — every cell has the same width, so ±1
    * wrap-around neighbors always cover the radius (a non-dividing cell
    * size would leave a narrow final cell through which an in-radius pair
    * could sit two cells apart).
    */
  private def lonCells(radiusKm: Double, maxAbsLat: Double): Long = {
    val minDeg = radiusKm / (KmPerDegLat * math.cos(math.toRadians(maxAbsLat)))
    math.max(1L, math.floor(360.0 / minDeg).toLong)
  }

  /** Bandwidth TIERS for the grid: every route's bandwidth maps UP to the
    * smallest tier ≥ it, and each tier gets its own (cell size, lon ring)
    * grid — still lossless (the tier radius covers the route's true gate
    * radius). Round 18: one tier PER DISTINCT BANDWIDTH (plus the
    * default), so every canonical route type searches a window sized to
    * its OWN gate radius — under the round-17 three-tier grid a sport
    * route (h=25) probed a 30 km-tier window (+44% area) and a trad route
    * (h=40) a 60 km one (+125%). The fan-out no longer rides the
    * broadcast side (round-17 swap), so extra tiers cost only
    * |accidents| rows of broadcast each (~69K at the 10× shape) while
    * window area — the candidate volume driver — drops ~26% on the bench
    * type mix. Derived from WeightExprs so a bandwidth change moves the
    * tier with it.
    */
  private[kernel] val RadiusTierKm: Seq[Double] =
    (WeightExprs.SpatialBandwidth.values.toSet + WeightExprs.SpatialBandwidthDefault)
      .filter(_ <= HMaxKm).toSeq.sorted

  /** Cells-per-gate-radius K: cell size = tierRadius / K, fan-out ±K.
    * K=2 (25-cell windows) measured best at the 10× batch; K=1 is the
    * classic 3×3. Raising K further shaves candidates sublinearly
    * ((2+1/K)² → 4) while the probe fan-out grows as (2K+1)². Round-18
    * re-measurement AT the probe-side fan-out (round-17 swap) with
    * per-bandwidth tiers: K=3 count-only uniform 10× wall 69.3 s vs
    * K=2's 60.7 s — the 49-vs-25 probe-row fan-out costs more than the
    * 6.25r²→5.44r² candidate cut saves, so K=2 stays the chosen point
    * (confirming the round-11 measurement on the old fan-out side). */
  private val CellDiv = 2

  /** Cell extents in degrees (lat, lon) of the SPORT-bandwidth tier under
    * the default floor — the geometry tests and benches need to plant
    * geo-skew STRICTLY INSIDE one grid cell of the hot rows' OWN tier
    * (the "half the catalog in one crag" workload plants `sport` routes/
    * accidents). Derived from the same constants as pairInfluencePruned,
    * so a tier or CellDiv change moves the plant with it. (Named
    * tier0CellDegrees when the sport bandwidth mapped to the lowest tier;
    * with per-bandwidth tiers it is the sport tier's own cell.)
    */
  private[graft] def tier0CellDegrees(maxAbsLat: Double = 72.0): (Double, Double) = {
    val sportTierKm = RadiusTierKm.find(_ >= WeightExprs.SpatialBandwidth("sport"))
      .getOrElse(RadiusTierKm.last)
    val cellKm = sportTierKm * SignificanceRadiusFactor / CellDiv
    (cellKm / KmPerDegLat, 360.0 / lonCells(cellKm, maxAbsLat))
  }

  private def tierOf(h: Column): Column =
    RadiusTierKm.zipWithIndex.dropRight(1)
      .foldLeft(when(lit(false), lit(0))) { case (acc, (t, i)) => acc.when(h <= t, i) }
      .otherwise(RadiusTierKm.length - 1)

  /** Per-tier chained lookup: `exprs(i)` where `tier` = i. */
  private def byTier(tier: Column, exprs: Seq[Column]): Column =
    exprs.zipWithIndex.dropRight(1)
      .foldLeft(when(lit(false), exprs.head)) { case (acc, (e, i)) => acc.when(tier === i, e) }
      .otherwise(exprs.last)

  /** The pruned pair stream: same columns as SafetyKernel.pairInfluence,
    * containing every pair within the per-route prune radius (superset of
    * all pairs with influence ≥ floor). ONE broadcast equi-join on the
    * composite key (tier, latCell, lonCell): accidents key their own cell
    * (× one row per tier — the broadcast stays |accidents|·tiers rows,
    * cache-resident even at 10× accident density); each route probes every
    * cell of its tier's ±K window, i.e. the (2K+1)² neighborhood fan-out
    * rides the PROBE side (25 cheap hash lookups per route at K=2), never
    * the broadcast. No cross join anywhere in the plan; a route sits in
    * exactly one tier and probes each window cell once, so no pair can be
    * produced twice.
    *
    * Candidate → pair funnel, cheapest test first, each expensive value
    * computed ONCE (the round-17 restructure; the pre-17 form let the
    * optimizer inline every gate into the join condition, where the full
    * asin-haversine ran before the cheap latitude test and was then
    * re-derived from scratch inside the influence projection — the
    * committed plans/r17 before/after explains show the two shapes):
    *  1. tier grid membership (the equi-join itself) — K=2 cells shrink
    *     the window area to 6.25r² from the classic 3×3's 9r²;
    *  2. a latitude-only prefilter — true distance ≥ 111.19·|Δlat| km, so
    *     111·|Δlat| > gate ⇒ the pair is out; one subtraction+compare
    *     for every cell-window candidate (stays in the join condition —
    *     it references no computed column);
    *  3. a longitude prefilter from the haversine identity: squaring
    *     d ≥ 2R·√(cosφ₁cosφ₂)·|sin(Δλ/2)| and d ≤ gate gives
    *     cosφ₁·cosφ₂·sin²(Δλ/2) ≤ sin²(gate/2R) — ONE sin (whose square
    *     is exactly the haversine's own Δλ term, kept as a column) against
    *     the per-route hoisted `__hav_gate`, no sqrt/abs, wrap-correct
    *     across ±180° for free, sound at every latitude;
    *  4. the same bound on the FULL haversine argument
    *     `sin²(Δφ/2) + cosφ₁cosφ₂·sin²(Δλ/2) ≤ __hav_gate` — one more sin,
    *     still no asin/sqrt; `__hav_gate` carries +1e-9 relative slack so
    *     fp rounding can only ADMIT a boundary candidate, never drop one
    *     (steps 2-4 are prefilters: correctness needs only superset-pass);
    *  5. exact haversine `d = 2R·asin(√hav)` — asin + sqrt paid only by
    *     near-gate survivors, reusing the step-4 `hav` column — against
    *     the per-route gate radius d ≤ h_route·√(2·ln(B/floor)), sharper
    *     than any grid since it uses the route's own bandwidth. This gate
    *     and `dist_km` itself are bit-identical to `haversineKmHoisted`
    *     (same ops, same association), so the pruned pair set and every
    *     pair's influence are unchanged from the pre-17 form.
    *
    * The hav/dist columns are [[graft.expr.EvalOnce]]-pinned: without the
    * pin the optimizer pushes each gate into the join condition by
    * inlining the column definition, and the projection re-derives it —
    * the guide-§4.4 double-evaluation, measured at 2 asin + 5 sin per
    * gated pair in the pre-17 plan vs 1 asin + 2 sin pinned.
    *
    * CALLER-VISIBLE side effect of the pins (round-18 advisor note): a
    * non-deterministic column blocks predicate pushdown and project
    * collapse THROUGH the gated projection for every downstream consumer
    * — e.g. a caller filtering on `route_id` above this frame cannot
    * push that filter toward the routes scan. Callers that pre-filter
    * should filter the `routes`/`accidents` INPUTS, not the pair output.
    * The ingest delta applies the step-5 gate inside the per-route fold
    * instead (SafetyKernel.scoreRoutesForDates with `pruned`).
    *
    * Measured at the 10× batch (1.68M × 69K, same host/session), round 11:
    * 3×3 no lon-filter 157.6 s → K=2 + both prefilters 133.8 s (−15%);
    * K=3 and prefilter-less K=2 are both WORSE (fan-out cost / haversine
    * volume). Round 17, same K=2 geometry: the compute-once funnel above
    * (OPTIMIZATION_r17.md has the A/B).
    */
  def pairInfluencePruned(routes: DataFrame, accidents: DataFrame, planDate: Column,
                          floor: Double = SafetyKernel.SignificanceFloor,
                          maxAbsLat: Double = 72.0,
                          weatherBound: Double = 1.0): DataFrame = {
    // an amplified-weather frame (route-side wmult, A7) breaks the
    // B-product the radius derives from: (wsim·wmult)³ can exceed 1, so an
    // above-floor pair could sit beyond the unamplified gate and be lost
    // SILENTLY. Make the caller state their multiplier cap; the declared
    // cap is then VERIFIED against the data at execution (below) — a
    // weatherBound smaller than an actual wmult fails the job instead of
    // silently losing above-floor pairs. Both read the routes, so an
    // accident-side wmult is rejected outright.
    SafetyKernel.requireRouteSideWmult("pairInfluencePruned", accidents)
    require(!routes.columns.contains("wmult") || weatherBound > 1.0,
      "routes carry wmult (amplified weather): pass weatherBound ≥ the max " +
        "multiplier so the prune radius still bounds influence above the floor")
    val radiusFactor = radiusFactorFor(floor, weatherBound)
    val tierRadii = RadiusTierKm.map(_ * radiusFactor)
    // FINER cells than the gate radius: cell size r/K with a (2K+1)²
    // fan-out window shrinks the candidate area from (3r)² = 9r² (K=1) to
    // ((2+1/K)·r)² — 6.25r² at K=2, a ~30% candidate cut for 25 cells of
    // accident fan-out instead of 9 (the fan-out side is the SMALL
    // broadcast table, so the trade buys per-pair work with cheap rows).
    // Coverage stays exact: |Δcell| ≤ ceil(r/s) = K per axis, and each lon
    // ring's cell width ≥ r_deg/K, so ±K ring cells span ≥ r_deg at
    // maxAbsLat — same lossless-above-the-floor argument as K=1.
    val latDegs = tierRadii.map(_ / CellDiv / KmPerDegLat)
    val nLons = tierRadii.map(r => lonCells(r / CellDiv, maxAbsLat))

    // the `floor` PARAMETER shadows functions.floor in this scope
    val F = org.apache.spark.sql.functions
    def latCellFor(lat: Column, tier: Column): Column =
      byTier(tier, latDegs.map(d => F.floor(lat / d).cast("long")))
    def lonCellFor(lon: Column, tier: Column): Column =
      byTier(tier, nLons.map(n =>
        pmod(F.floor((lon + 180.0) / (360.0 / n)).cast("long"), lit(n))))

    // balanced like the exact path: a single-split routes scan would run
    // the whole pruned kernel on one core (graft.Partitioning.balanced)
    // runtime twin of the weatherBound require: one compare per ROUTE (not
    // per pair) that raise_error's on the first wmult above the declared
    // cap. The otherwise-branch keeps the predicate non-foldable, so the
    // optimizer cannot prove it away; cost is negligible pre-fan-out.
    val routesChecked =
      if (routes.columns.contains("wmult"))
        routes.where(when(col("wmult").isNull || col("wmult") <= weatherBound, lit(true))
          .otherwise(raise_error(concat(
            lit("pruned kernel: wmult="), col("wmult"),
            lit(s" exceeds declared weatherBound=$weatherBound — " +
              "above-floor pairs would be silently lost")))))
      else routes
    // THE ROUTE SIDE CARRIES THE (2K+1)² NEIGHBORHOOD FAN-OUT, NOT THE
    // BROADCAST SIDE (round-17 swap): a route probes every cell its ±K
    // window covers; accidents key only their OWN cell (× one row per
    // tier). Match condition is unchanged — |Δcell| ≤ K per axis with lon
    // modulo adjacency — because the offset range is symmetric, so the
    // candidate set, the gates and every pair's influence are identical
    // to the accident-fanned form. What changes is WHERE the fan-out
    // cost lands: the broadcast relation shrinks (2K+1)²-fold (at the 10×
    // batch: 5.2M rows ≈ 1 GB → 207K rows ≈ tens of MB), so the per-
    // candidate match iteration — the actual wall at 10× scale, 9G
    // candidate rows streamed out of the hashed relation — reads a cache-
    // resident table instead of DRAM, and the relation build/torrent cost
    // stops scaling with the fan-out. The probe side pays (2K+1)² more
    // probe rows, but probes are O(1) hash lookups on a narrow row — the
    // cheap side of the trade (guide §3.1: broadcast the side that fits;
    // OPTIMIZATION_r17.md has the A/B).
    val routesCelled = SafetyKernel.enrichRoutes(graft.Partitioning.balanced(routesChecked))
      .withColumn("__tier", tierOf(col("__h")))
      .withColumn("__r_cell_lat", latCellFor(col("lat"), col("__tier")))
      .withColumn("__r_cell_lon", lonCellFor(col("lon"), col("__tier")))
      // per-route gate hoists: the exact gate radius (km) and the squared-
      // haversine form of the same gate, sin²(gate/2R)·(1+1e-9) — the
      // slack covers fp rounding of the ~5-op hav computation so the
      // squared pre-gates can only admit a boundary candidate, never drop
      // a pair the exact dist gate keeps (gate/2R ≤ ~0.03 rad ≪ π/2, so
      // sin² is monotone on the whole domain)
      .withColumn("__gate_km", col("__h") * radiusFactor)
      .withColumn("__hav_gate",
        pow(sin(col("__gate_km") / (2.0 * graft.expr.GeoExprs.EarthRadiusKm)), 2) *
          (1.0 + 1e-9))
      .withColumn("__dlat",
        explode(array((-CellDiv to CellDiv).map(d => lit(d.toLong)): _*)))
      // per-tier offset list, DISTINCT after the modulo: a polar-friendly
      // maxAbsLat can shrink a tier's lon ring to n ≤ 2K cells, where the
      // constant ±K fan-out collapses to duplicate (tier, cell) keys and
      // every pair in that tier would match multiple probe rows. A small
      // ring needs only {0 … n-1} — still full ring coverage, no
      // duplicates.
      .withColumn("__dlon", explode(byTier(col("__tier"), nLons.map { n =>
        val offs =
          if (n >= 2L * CellDiv + 1) (-CellDiv.toLong to CellDiv.toLong).toSeq
          else 0L until n
        array(offs.map(lit): _*)
      })))
      .withColumn("__cell_lat", col("__r_cell_lat") + col("__dlat"))
      // wrap-around: each tier's lon ring is uniform, so modulo adjacency
      // is exact across the ±180° seam
      .withColumn("__cell_lon", byTier(col("__tier"),
        nLons.map(n => pmod(col("__r_cell_lon") + col("__dlon"), lit(n)))))
      .drop("__r_cell_lat", "__r_cell_lon", "__dlat", "__dlon")

    val accCelled = SafetyKernel.enrichAccidents(accidents, planDate)
      .withColumn("__tier", explode(array(RadiusTierKm.indices.map(i => lit(i)): _*)))
      .withColumn("__cell_lat", latCellFor(col("a_lat"), col("__tier")))
      .withColumn("__cell_lon", lonCellFor(col("a_lon"), col("__tier")))

    val joined = routesCelled
      .join(broadcast(accCelled), Seq("__tier", "__cell_lat", "__cell_lon"))
      .drop("__tier", "__cell_lat", "__cell_lon")

    import graft.expr.EvalOnceExpr.evalOnce
    val gated = joined
      // step 2: latitude prefilter (111.0 < 111.19 km/° keeps it sound) —
      // references no computed column, so the optimizer folds it into the
      // join condition where it short-circuits before any trig
      .where(abs(col("lat") - col("a_lat")) * KmPerDegLat <= col("__gate_km"))
      // step 3: LONGITUDE prefilter — a sound great-circle lower bound
      // from the haversine identity: sin²(d/2R) ≥ cosφ₁·cosφ₂·sin²(Δλ/2)
      // and asin(y) ≥ y on [0,1]. (The naive 111·Δλ·min(cos)
      // parallel-distance bound is UNSOUND at high latitude — the
      // over-the-pole great circle undercuts it.) Compared in SQUARED form
      // against the hoisted per-route __hav_gate, so the test costs one
      // sin + two multiplies, and its sin² IS the haversine's own Δλ term
      // — pinned once (EvalOnce), reused by step 4's hav and step 5's
      // dist. sin(x)² keeps the exact pow(sin(dLon/2), 2) AST of
      // haversineKmHoisted so the downstream dist_km stays bit-identical.
      .withColumn("__s2lon",
        evalOnce(pow(sin(radians(col("a_lon") - col("lon")) / 2), 2)))
      .where(col("__coslat") * col("__a_coslat") * col("__s2lon") <=
        col("__hav_gate"))
      // step 4: full haversine ARGUMENT against the same squared gate —
      // one more sin, still no asin/sqrt; association (c1*c2)*s2 matches
      // haversineKmHoisted exactly
      .withColumn("__hav",
        evalOnce(pow(sin(radians(col("a_lat") - col("lat")) / 2), 2) +
          col("__coslat") * col("__a_coslat") * col("__s2lon")))
      .where(col("__hav") <= col("__hav_gate"))
      // step 5: the exact per-route gate on the true distance — asin+sqrt
      // paid only here, by near-gate survivors; 2R·asin(√hav) is
      // haversineKmHoisted's own final step over the same hav value, so
      // dist_km (which the spatial weight consumes downstream) is
      // bit-identical to the inline form
      .withColumn("dist_km",
        evalOnce(lit(2.0 * graft.expr.GeoExprs.EarthRadiusKm) *
          asin(sqrt(col("__hav")))))
      .where(col("dist_km") <= col("__gate_km"))
      .drop("__s2lon", "__hav", "__gate_km", "__hav_gate")
    SafetyKernel.influenceColumns(gated)
  }

  /** Pruned end-to-end scoring — drop-in for SafetyKernel.scoreRoutes with
    * bounded error below the floor. Routes with NO accident within the
    * prune radius are re-attached with risk 0 (the exact kernel gives them
    * a sub-floor positive risk; both round to green/0-ish, and the serving
    * layer treats missing as 0 — documented divergence below the floor).
    *
    * DOMAIN: losslessness above the floor holds for |lat| ≤ `maxAbsLat`
    * (default 72° — raise it for polar data; that WIDENS the longitude
    * cells, i.e. fewer of them and coarser pruning at low latitudes, not
    * more). Longitude wraps correctly across ±180° (uniform cell ring,
    * modulo fan-out; rings of 1-2 cells fan out with distinct offsets
    * only). Rows beyond `maxAbsLat` can silently miss in-radius pairs —
    * route polar workloads through the exact kernel or a higher
    * `maxAbsLat`. `weatherBound`: required > 1 when `routes` carries the
    * A7 `wmult` column (see pairInfluencePruned).
    */
  def scoreRoutesPruned(routes: DataFrame, accidents: DataFrame, planDate: Column,
                        floor: Double = SafetyKernel.SignificanceFloor,
                        maxAbsLat: Double = 72.0,
                        weatherBound: Double = 1.0): DataFrame = {
    val scored = SafetyKernel.scoreRoutes(
      pairInfluencePruned(routes, accidents, planDate, floor, maxAbsLat, weatherBound))
    routes.select("route_id").join(scored, Seq("route_id"), "left")
      .na.fill(Map("total_influence" -> 0.0, "n_contributing" -> 0L, "risk_score" -> 0.0))
      .na.fill(Map("color_code" -> "green"))
  }
}
