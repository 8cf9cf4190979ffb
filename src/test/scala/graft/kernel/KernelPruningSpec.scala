package graft.kernel

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec

class KernelPruningSpec extends SparkSpec {

  import spark.implicits._

  // continental-spread synthetic data: routes over ~35-55°N, 95-125°W
  private def routes: DataFrame = spark.range(500).select(
    col("id").as("route_id"),
    (lit(35.0) + (col("id") % 2000) / 100.0).as("lat"),
    (lit(-125.0) + (col("id") % 3000) / 100.0).as("lon"),
    (lit(1000.0) + (col("id") % 3000)).as("elev"),
    when(col("id") % 3 === 0, "alpine").when(col("id") % 3 === 1, "sport")
      .otherwise("trad").as("route_type"),
    (lit(5.0) + (col("id") % 11)).as("difficulty"))

  private def accidents: DataFrame = spark.range(200).select(
    col("id").as("accident_id"),
    (lit(35.0) + ((col("id") * 37) % 2000) / 100.0).as("a_lat"),
    (lit(-125.0) + ((col("id") * 53) % 3000) / 100.0).as("a_lon"),
    (lit(800.0) + ((col("id") * 13) % 3500)).as("a_elev"),
    when(col("id") % 2 === 0, "alpine").otherwise("sport").as("acc_type"),
    when(col("id") % 3 === 0, "fatal").otherwise("minor").as("severity_raw"),
    date_add(to_date(lit("2024-01-01")), (col("id") % 730).cast("int")).as("a_date"),
    (lit(4.0) + ((col("id") * 7) % 13)).as("a_difficulty"))

  private val planDate = to_date(lit("2024-07-15"))

  /** The fold over one plan date, exact or pruned at the significance floor. */
  private def fold(rts: DataFrame, accs: DataFrame, pruned: Boolean): DataFrame =
    SafetyKernel.scoreRoutesForDates(rts, accs, Seq(planDate), pruned)

  /** (route_id, total_influence, n_contributing) rows as strings, by route:
    * string equality is bit-equality of the doubles (NaN and NULL included).
    */
  private def totalRows(df: DataFrame): Seq[String] =
    df.select("route_id", "total_influence", "n_contributing").orderBy("route_id")
      .collect().map(_.toString).toSeq

  /** The pruned fold's definition on the pair grain: `pairInfluence` with
    * every non-NULL influence beyond `dist_km <= __h · radiusFactor`
    * replaced by 0.0, summed per route.
    */
  private def gatedPairTotals(rts: DataFrame, accs: DataFrame): DataFrame = {
    val gated = PairKernel.pairInfluence(
        rts.withColumn("gate_km", graft.expr.WeightExprs.spatialBandwidthKm(
          graft.expr.WeightExprs.asciiLower(col("route_type"))) *
          KernelPruning.SignificanceRadiusFactor), accs, planDate)
      .withColumn("influence",
        when(col("influence").isNull || col("dist_km") <= col("gate_km"), col("influence"))
          .otherwise(lit(0.0)))
    PairKernel.scoreRoutes(gated)
  }

  /** route_id → (total_influence, n_contributing, risk_score) row. */
  private def byRoute(df: DataFrame): Map[Long, Row] =
    df.select("route_id", "total_influence", "n_contributing", "risk_score").collect()
      .map(r => r.getLong(0) -> r).toMap

  /** The pruned kernel keeps every significant pair, checked at route
    * grain: its totals are bitwise the gated pair sums, and its
    * `n_contributing` (pairs above the floor) equals the exact kernel's for
    * every route. Returns the pruned and the exact rows by route.
    */
  private def keepsEverySignificantPair(rts: DataFrame,
                                        accs: DataFrame): (Map[Long, Row], Map[Long, Row]) = {
    val pruned = KernelPruning.scoreRoutesPruned(rts, accs, planDate)
    val prunedTotals = totalRows(pruned)
    val gatedTotals = totalRows(gatedPairTotals(rts, accs))
    val firstDiff = prunedTotals.zipAll(gatedTotals, "", "").find { case (a, b) => a != b }
    assert(firstDiff.isEmpty, s"pruned totals vs the gated pair sums: $firstDiff")
    val p = byRoute(pruned)
    val e = byRoute(PairKernel.scoreRoutes(rts, accs, planDate))
    assert(p.keySet == e.keySet)
    val miscounted = e.collect {
      case (id, r) if p(id).getLong(2) != r.getLong(2) => (id, p(id).getLong(2), r.getLong(2))
    }
    assert(miscounted.isEmpty, s"(route, pruned n, exact n): ${miscounted.take(5)}")
    (p, e)
  }

  private def gateKm(routeType: String): Double =
    graft.expr.WeightExprs.SpatialBandwidth(routeType) * KernelPruning.SignificanceRadiusFactor

  private def distKm(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double =
    PairMath.haversineKm(math.cos(math.toRadians(lat1)), lat1, lon1,
      math.cos(math.toRadians(lat2)), lat2, lon2)

  private def accidentRows(rows: Seq[(Long, Option[Double], Option[Double], String)]): DataFrame =
    rows.zipWithIndex.map { case ((id, lat, lon, t), i) =>
      (id, lat, lon, Some(1500.0 + 150 * i), t, if (i % 2 == 0) "fatal" else "serious",
        java.sql.Date.valueOf(s"2023-0${1 + i % 9}-10"), Some(6.0 + i % 5))
    }.toDF("accident_id", "a_lat", "a_lon", "a_elev", "acc_type", "severity_raw", "a_date",
      "a_difficulty")

  test("prune radius formula: floor 1e-6 with alpine bandwidth") {
    // alpine has the widest bandwidth, so its gate is the widest radius
    val r = gateKm("alpine")
    val expected = 75.0 * math.sqrt(2.0 * math.log(KernelPruning.NonSpatialBound / 1e-6))
    assert(approx(r, expected, 1e-9))
    assert(r > 300 && r < 500) // sanity: a few hundred km
    assert(graft.expr.WeightExprs.SpatialBandwidth.values.forall(_ <= 75.0))
  }

  test("pruned scoring matches exact scoring within the floor error bound") {
    val exact = PairKernel.scoreRoutes(routes, accidents, planDate)
      .select("route_id", "risk_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val pruned = KernelPruning.scoreRoutesPruned(routes, accidents, planDate)
      .select("route_id", "risk_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pruned.keySet == exact.keySet) // the exact kernel's rows
    // dropped pairs each contribute < floor → risk error < nAcc·floor·7
    val bound = 200 * SafetyKernel.SignificanceFloor * 7.0 + 1e-9
    val maxErr = exact.keys.map(k => math.abs(exact(k) - pruned(k))).max
    assert(maxErr <= bound, s"max error $maxErr vs bound $bound")
  }

  test("pruned pair stream is a strict subset and keeps every significant pair") {
    val (pruned, exact) = keepsEverySignificantPair(routes, accidents)
    assert(pruned.size == 500)
    // and pruning actually dropped pairs on spread-out data
    assert(exact.exists { case (id, r) => pruned(id).getDouble(1) != r.getDouble(1) },
      "no route lost a pair to the gate")
  }

  test("10x density + planted hot cell: pruned still bit-equal above the floor") {
    // the scale-stress shape the bench runs at 1.7M × 69K: accident density
    // 100× the base spec, including a degenerate cluster — 5000 accidents
    // piled onto ONE coordinate. The pruned totals must equal the gated
    // pair sums bit for bit, and every route keeps its exact contributor
    // count, one row per route.
    val denseRoutes = spark.range(1000).select(
      col("id").as("route_id"),
      (lit(35.0) + (col("id") % 2000) / 100.0).as("lat"),
      (lit(-125.0) + (col("id") % 3000) / 100.0).as("lon"),
      (lit(1000.0) + (col("id") % 3000)).as("elev"),
      when(col("id") % 3 === 0, "alpine").when(col("id") % 3 === 1, "sport")
        .otherwise("trad").as("route_type"),
      (lit(5.0) + (col("id") % 11)).as("difficulty"))
    val spread = spark.range(15000).select(
      col("id").as("accident_id"),
      (lit(35.0) + ((col("id") * 37) % 2000) / 100.0).as("a_lat"),
      (lit(-125.0) + ((col("id") * 53) % 3000) / 100.0).as("a_lon"),
      (lit(800.0) + ((col("id") * 13) % 3500)).as("a_elev"),
      when(col("id") % 2 === 0, "alpine").otherwise("sport").as("acc_type"),
      when(col("id") % 3 === 0, "fatal").otherwise("minor").as("severity_raw"),
      date_add(to_date(lit("2024-01-01")), (col("id") % 730).cast("int")).as("a_date"),
      (lit(4.0) + ((col("id") * 7) % 13)).as("a_difficulty"))
    val hotCell = spark.range(5000).select(
      (col("id") + 1000000L).as("accident_id"),
      lit(40.0).as("a_lat"), lit(-120.0).as("a_lon"),
      (lit(2000.0) + col("id") % 100).as("a_elev"),
      lit("alpine").as("acc_type"),
      when(col("id") % 3 === 0, "fatal").otherwise("minor").as("severity_raw"),
      date_add(to_date(lit("2024-01-01")), (col("id") % 730).cast("int")).as("a_date"),
      (lit(4.0) + (col("id") % 13)).as("a_difficulty"))
    val dense = spread.union(hotCell)

    val (pruned, exact) = keepsEverySignificantPair(denseRoutes, dense)
    assert(pruned.size == 1000)
    // the planted cluster is inside the gate of nearby routes
    assert(KernelPruning.scoreRoutesPruned(denseRoutes, hotCell, planDate)
      .where(col("n_contributing") > 0).count() > 0, "hot cell produced no significant pairs")
    // risk error bound still holds with 20K accidents
    val bound = 20000 * SafetyKernel.SignificanceFloor * 7.0 + 1e-9
    val maxErr = exact.keys.map(k => math.abs(exact(k).getDouble(3) - pruned(k).getDouble(3))).max
    assert(maxErr <= bound, s"max error $maxErr vs bound $bound")
  }

  test("geo-skewed catalog (half the routes in ONE tier-0 cell): still bit-equal above the floor") {
    // the kernel_batch_10x_skew layout at spec scale: Bench's skewed
    // generator plants ids >= n/2 strictly inside one hot cell
    // (Bench.HotCellDegrees, the grid kernel's former sport-tier cell).
    // Route-side clustering must change NOTHING about correctness — the
    // gate is per-pair geometry, independent of how many routes share a
    // place — and every route keeps one row.
    // 1500 accidents: the synthetic (lat, lon) pattern is a 1-D curve
    // (both coords driven by id), so small counts leave the hot cell's
    // neighborhood empty — 1500 puts the nearest accident ~40 km from
    // the cell center, well inside the sport gate radius, which keeps
    // the hot-half liveness assertion below meaningful
    val skewed = graft.Bench.syntheticRoutesSkewed(spark, 2000)
    val acc = graft.Bench.syntheticAccidents(spark, 1500)

    // the plant is real: the hot half occupies exactly one cell
    val (latDeg, lonDeg) = graft.Bench.HotCellDegrees
    val hotCells = skewed.where(col("route_id") >= 1000)
      .select(floor(col("lat") / latDeg).as("la"),
        floor((col("lon") + 180.0) / lonDeg).as("lo"))
      .distinct().count()
    assert(hotCells == 1L, s"hot half spans $hotCells cells, expected 1")
    assert(skewed.count() == 2000)

    val (pruned, _) = keepsEverySignificantPair(skewed, acc)
    assert(pruned.size == 2000)
    // hot routes genuinely participate (the cell sits inside the
    // continental accident spread, so significant pairs must exist there)
    assert(pruned.exists { case (id, r) => id >= 1000L && r.getLong(2) > 0 },
      "hot-cell routes produced no significant pairs — plant is dead")
  }

  test("accident-skewed history (half the accidents in ONE tier-0 cell): still bit-equal above the floor") {
    // the kernel_batch_10x_accskew layout at spec scale: Bench's skewed
    // accident generator plants ids >= n/2 strictly inside the same hot
    // cell — the direction the route-skew analysis names as dangerous
    // (the hot accidents fall in the latitude band of every nearby route).
    // Correctness must be unchanged: the gate is per-pair geometry,
    // however many accidents share a place.
    // 6000 routes = ONE full period of the synthetic lattice (lat cycles
    // mod 2000, lon mod 3000 → 6000 distinct points); shorter prefixes
    // are a partial diagonal whose nearest point to the hot cell is
    // ~750 km — outside every gate radius — which would leave the
    // liveness assertion below vacuously dead. At the full lattice the
    // nearest points sit 68-111 km out, inside the wider gates (the
    // bench-scale catalog replays this same 6000-point lattice 280×, so
    // liveness here proves the 10x arm's hot half is live too).
    val rts = graft.Bench.syntheticRoutes(spark, 6000)
    val acc = graft.Bench.syntheticAccidentsSkewed(spark, 1500)

    // the plant is real: the hot half occupies exactly one cell
    val (latDeg, lonDeg) = graft.Bench.HotCellDegrees
    val hotCells = acc.where(col("accident_id") >= 750)
      .select(floor(col("a_lat") / latDeg).as("la"),
        floor((col("a_lon") + 180.0) / lonDeg).as("lo"))
      .distinct().count()
    assert(hotCells == 1L, s"hot half spans $hotCells cells, expected 1")
    assert(acc.count() == 1500)

    val (pruned, _) = keepsEverySignificantPair(rts, acc)
    assert(pruned.size == 6000)
    // hot accidents genuinely participate (the cell sits inside the
    // continental route spread, so significant pairs must exist there)
    assert(KernelPruning.scoreRoutesPruned(rts, acc.where(col("accident_id") >= 750), planDate)
      .where(col("n_contributing") > 0).count() > 0,
      "hot-cell accidents produced no significant pairs — plant is dead")
  }

  test("polar routes (88-89°N): one row each, every significant pair kept") {
    // near the pole a gate spans every longitude: the grid kernel this
    // replaced needed a widened latitude domain here and de-duplicated its
    // collapsed longitude rings; the fold has neither
    val polarRoutes = spark.range(40).select(
      col("id").as("route_id"),
      (lit(88.0) + (col("id") % 100) / 100.0).as("lat"),
      (lit(-180.0) + (col("id") % 360) * 9.0).as("lon"),
      lit(500.0).as("elev"), lit("alpine").as("route_type"),
      (lit(5.0) + (col("id") % 11)).as("difficulty"))
    val polarAcc = spark.range(25).select(
      col("id").as("accident_id"),
      (lit(88.0) + ((col("id") * 37) % 100) / 100.0).as("a_lat"),
      (lit(-180.0) + ((col("id") * 53) % 360).cast("double")).as("a_lon"),
      lit(600.0).as("a_elev"), lit("alpine").as("acc_type"),
      lit("fatal").as("severity_raw"),
      date_add(to_date(lit("2024-01-01")), (col("id") % 730).cast("int")).as("a_date"),
      (lit(4.0) + ((col("id") * 7) % 13)).as("a_difficulty"))
    val (pruned, _) = keepsEverySignificantPair(polarRoutes, polarAcc)
    assert(pruned.size == 40)
    assert(pruned.values.exists(_.getLong(2) > 0))
  }

  test("amplified weather (wmult): rejected when pruned, scored when exact") {
    val amplified = routes.withColumn("wmult", lit(1.5))
    val ex = intercept[IllegalArgumentException] {
      KernelPruning.scoreRoutesPruned(amplified, accidents, planDate)
    }
    assert(ex.getMessage.contains("scoreRoutesForDates: routes carry wmult") &&
      ex.getMessage.endsWith("score them exact"), ex.getMessage)
    // k16's path: the exact fold scores (wsim·wmult) per pair
    val plain = byRoute(SafetyKernel.scoreRoutes(routes, accidents, planDate))
    val amp = byRoute(SafetyKernel.scoreRoutes(amplified, accidents, planDate))
    assert(amp.keySet == plain.keySet)
    assert(amp.exists { case (id, r) => r.getDouble(1) != plain(id).getDouble(1) },
      "wmult changed no exact total")
    assert(totalRows(SafetyKernel.scoreRoutes(amplified, accidents, planDate)) ==
      totalRows(PairKernel.scoreRoutes(amplified, accidents, planDate)))
  }

  test("an accident-side wmult is rejected by both pair kernels") {
    // the fold reads the multiplier from the routes alone: an accidents
    // frame carrying one would be scored unamplified without an error, so
    // the exact and the pruned fold both reject it
    val amplified = accidents.withColumn("wmult", lit(1.5))
    val exact = intercept[IllegalArgumentException] {
      SafetyKernel.scoreRoutes(routes, amplified, planDate)
    }
    assert(exact.getMessage.contains("scoreRoutesForDates: accidents carry wmult"), exact.getMessage)
    val pruned = intercept[IllegalArgumentException] {
      KernelPruning.scoreRoutesPruned(routes, amplified, planDate)
    }
    assert(pruned.getMessage.contains("scoreRoutesForDates: accidents carry wmult"),
      pruned.getMessage)
  }

  test("a route-side wmult fails the pruned kernel, whatever its values") {
    // the grid kernel accepted a declared cap and checked it per route at
    // execution; the fold rejects the column itself, before any job runs,
    // so no multiplier (above 1, neutral or NULL) is scored unamplified
    for (m <- Seq(lit(2.0), lit(1.0), lit(null).cast("double"))) {
      val ex = intercept[IllegalArgumentException] {
        KernelPruning.scoreRoutesPruned(routes.withColumn("wmult", m), accidents, planDate)
      }
      assert(ex.getMessage.contains("routes carry wmult (amplified weather)"), ex.getMessage)
    }
  }

  test("SQL function registration: dot_f64 + parse_grade + simhash64 + weather_similarity") {
    graft.sql.GraftFunctions.register(spark)
    assert(spark.sql("SELECT dot_f64(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .head().getDouble(0) == 11.0)
    assert(spark.sql("SELECT parse_grade('5.11') AS g").head().getDouble(0) == 11.5)
    // simhash64 (native expr over a token array) matches the HOF Column
    // form on the same text
    spark.range(1)
      .select(graft.text.TextExprs.tokens(org.apache.spark.sql.functions
        .lit("the quick brown fox")).as("toks"))
      .createOrReplaceTempView("tk")
    val viaSql = spark.sql("SELECT simhash64(toks) AS h FROM tk").head().getLong(0)
    val viaCol = spark.range(1)
      .select(graft.dedup.MinHashStaged.simhash63(org.apache.spark.sql.functions
        .lit("the quick brown fox")).as("h")).head().getLong(0)
    assert(viaSql == viaCol)
    // weather_similarity: self-similarity of a 7-day pattern ≈ 1
    spark.range(1)
      .select(graft.queries.Derived.weatherPattern(
        org.apache.spark.sql.functions.lit(1L)).as("p"))
      .createOrReplaceTempView("wp")
    val selfSim = spark.sql("SELECT weather_similarity(p, p) AS s FROM wp")
      .head().getDouble(0)
    assert(math.abs(selfSim - 1.0) < 1e-9)
  }

  // --- the pruned per-route fold (SafetyKernel.scoreRoutesForDates, pruned) -

  /** The last accident latitude due north of (lat, lon) whose distance is
    * within `gate`: one ulp further north the pair is beyond it.
    */
  private def latAtGate(lat: Double, lon: Double, gate: Double): Double = {
    var lo = lat
    var hi = lat + 10.0
    assert(distKm(lat, lon, hi, lon) > gate)
    while (Math.nextUp(lo) < hi) {
      val mid = lo + (hi - lo) / 2
      if (mid <= lo || mid >= hi) hi = Math.nextUp(lo)
      else if (distKm(lat, lon, mid, lon) <= gate) lo = mid else hi = mid
    }
    lo
  }

  test("pruned fold == pairInfluence gated at each route's radius, bitwise") {
    // NULL route and accident coordinates, a NaN distance (NaN latitude),
    // |Δlon| > 180° across the antimeridian, a pair one ulp either side of
    // the gate, and an accident past the pole (no latitude band holds it)
    val edgeLat = latAtGate(45.0, -110.0, gateKm("trad"))
    assert(distKm(45.0, -110.0, edgeLat, -110.0) <= gateKm("trad"))
    assert(distKm(45.0, -110.0, Math.nextUp(edgeLat), -110.0) > gateKm("trad"))
    val rts = Seq[(Long, Option[Double], Option[Double], Option[Double], String, Option[Double])](
      (1L, Some(40.0), Some(-105.0), Some(3000.0), "alpine", Some(10.0)),
      (2L, None, Some(-105.0), Some(2000.0), "sport", Some(12.0)),
      (3L, Some(40.2), None, Some(2500.0), "trad", Some(8.0)),
      (4L, Some(Double.NaN), Some(-105.0), Some(2000.0), "ice", Some(9.0)),
      (5L, Some(10.0), Some(179.9), Some(1200.0), "sport", Some(7.0)),
      (6L, Some(45.0), Some(-110.0), Some(1800.0), "trad", Some(8.0)),
      (7L, Some(88.0), Some(0.0), Some(2500.0), "alpine", Some(9.0)))
      .toDF("route_id", "lat", "lon", "elev", "route_type", "difficulty")
    val accs = accidentRows(Seq(
      (1L, Some(40.1), Some(-105.0), "alpine"),
      (2L, None, Some(-105.0), "sport"),
      (3L, Some(40.0), None, "trad"),
      (4L, Some(10.0), Some(-179.95), "sport"),
      (5L, Some(edgeLat), Some(-110.0), "trad"),
      (6L, Some(Math.nextUp(edgeLat)), Some(-110.0), "trad"),
      (7L, Some(43.0), Some(-105.0), "alpine"),  // ~333 km: inside route 1's 401 km gate
      (8L, Some(44.0), Some(-105.0), "ice"),     // ~445 km: beyond it
      (9L, Some(-30.0), Some(20.0), "mixed"),
      (10L, Some(91.0), Some(0.0), "alpine")))  // ~334 km from route 7
    val pruned = totalRows(fold(rts, accs, pruned = true))
    assert(pruned == totalRows(gatedPairTotals(rts, accs)))
    assert(pruned.size == 7)
    // NULL coordinates: every influence is NULL, as in the exact kernel
    for (id <- Seq(2, 3)) assert(pruned.contains(s"[$id,null,0]"), pruned)
    // the NaN distance fails every gate: 0.0/0; the exact fold keeps those
    // pairs, a NaN total with every pair counted
    assert(pruned.contains("[4,0.0,0]"), pruned)
    assert(totalRows(fold(rts, accs, pruned = false)).contains("[4,NaN,8]"))
    // the antimeridian pair (~16 km apart) and the one across the pole
    // contribute
    assert(!pruned.contains("[5,0.0,0]") && !pruned.contains("[7,0.0,0]"), pruned)
    // route 6 keeps the pair at the gate and drops the one an ulp beyond
    val edgePairs = PairKernel.pairInfluence(rts.where(col("route_id") === 6L),
        accs.where(col("accident_id").isin(5L, 6L)), planDate)
      .select("accident_id", "influence").as[(Long, Double)].collect().toMap
    val route6 = fold(rts.where(col("route_id") === 6L),
      accs.where(col("accident_id").isin(5L, 6L)), pruned = true)
      .select("total_influence").as[Double].head()
    assert(route6 == 0.0 + edgePairs(5L) && edgePairs(6L) > 0.0, (route6, edgePairs))
  }

  test("scoreRoutesPruned is the one-date pruned fold, polar pairs included") {
    val pruned = KernelPruning.scoreRoutesPruned(routes, accidents, planDate)
    // the columns of scoreRoutes, in order and type
    assert(pruned.schema.map(f => f.name -> f.dataType.simpleString) == Seq(
      "route_id" -> "bigint", "total_influence" -> "double", "n_contributing" -> "bigint",
      "risk_score" -> "double", "color_code" -> "string"))
    def allRows(df: DataFrame): Seq[String] =
      df.select("route_id", "total_influence", "n_contributing", "risk_score", "color_code")
        .orderBy("route_id").collect().map(_.toString).toSeq
    val viaFold = allRows(fold(routes, accidents, pruned = true))
    assert(allRows(pruned) == viaFold && viaFold.size == 500)
    assert(byRoute(pruned).values.count(_.getLong(2) > 0) > 100)
    // bitwise the gated pair sums, in accident order, over many pairs
    assert(totalRows(pruned) == totalRows(gatedPairTotals(routes, accidents)))
    // at 80°N the alpine route's 401 km gate spans 15° of longitude (~289
    // km), which the grid kernel this replaced never paired (its cells were
    // sized at 72°): the fold has no latitude domain and keeps the pair
    val polarRoute = Seq((1L, 80.0, 0.0, Some(3000.0), "alpine", Some(10.0)))
      .toDF("route_id", "lat", "lon", "elev", "route_type", "difficulty")
    val polarAcc = accidentRows(Seq((1L, Some(80.0), Some(15.0), "alpine")))
    assert(distKm(80.0, 0.0, 80.0, 15.0) < gateKm("alpine"))
    val polar = KernelPruning.scoreRoutesPruned(polarRoute, polarAcc, planDate)
    val (t, n) = polar.select("total_influence", "n_contributing").as[(Double, Long)].head()
    assert(t > 0.0 && n == 1L, (t, n))
    assert(totalRows(polar) == totalRows(gatedPairTotals(polarRoute, polarAcc)))
  }

  test("scoreRoutesPruned rows: NULL coordinate, repeated id, no accidents") {
    // the exact kernel's row contract (SafetyKernel.scoreRoutes): a
    // NULL-coordinate route reads NULL/0, a repeated route_id gives one
    // row, a route no pair reaches reads a total with its dropped sub-floor
    // pairs removed, and an empty accident set gives no rows
    val rts = Seq[(Long, Option[Double], Option[Double], Option[Double], String, Option[Double])](
      (1L, Some(40.0), Some(-105.0), Some(3000.0), "alpine", Some(10.0)),
      (2L, None, Some(-105.0), Some(2000.0), "sport", Some(12.0)),
      (3L, Some(40.2), Some(-105.1), Some(2500.0), "trad", Some(8.0)),
      (3L, Some(40.2), Some(-105.1), Some(2500.0), "trad", Some(8.0)),
      (4L, Some(43.5), Some(-105.0), Some(1800.0), "sport", Some(7.0)))
      .toDF("route_id", "lat", "lon", "elev", "route_type", "difficulty")
    val accs = accidentRows(Seq(
      (1L, Some(40.1), Some(-105.0), "alpine"),
      (2L, Some(40.5), Some(-105.3), "trad")))
    // route 4 is ~334 km from the nearer accident, beyond its 134 km gate
    assert(distKm(43.5, -105.0, 40.5, -105.3) > gateKm("sport"))
    def shape(df: DataFrame): Seq[(Long, Boolean, Long)] =
      df.select(col("route_id"), col("total_influence").isNull, col("n_contributing"))
        .as[(Long, Boolean, Long)].collect().sortBy(_._1).toSeq
    val pruned = KernelPruning.scoreRoutesPruned(rts, accs, planDate)
    val exact = PairKernel.scoreRoutes(rts, accs, planDate)
    assert(shape(pruned) == shape(exact))
    assert(shape(pruned) == Seq((1L, false, 2L), (2L, true, 0L), (3L, false, 4L), (4L, false, 0L)),
      shape(pruned))
    val p = byRoute(pruned)
    val e = byRoute(exact)
    // every pair of routes 1 and 3 is inside the gate: the exact totals
    assert(p(1L).getDouble(1) == e(1L).getDouble(1))
    // route 4's pairs are all beyond it: 0.0 for the exact sub-floor total
    assert(p(4L).getDouble(1) == 0.0 &&
      e(4L).getDouble(1) > 0.0 && e(4L).getDouble(1) < 2 * SafetyKernel.SignificanceFloor,
      (p(4L), e(4L)))
    val none = accs.where(lit(false))
    assert(KernelPruning.scoreRoutesPruned(rts, none, planDate).count() == 0L)
    assert(PairKernel.scoreRoutes(rts, none, planDate).count() == 0L)
  }
}
