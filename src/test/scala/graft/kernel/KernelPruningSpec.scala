package graft.kernel

import org.apache.spark.sql.DataFrame
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

  test("prune radius formula: floor 1e-6 with alpine bandwidth") {
    val r = KernelPruning.pruneRadiusKm(1e-6)
    val expected = 75.0 * math.sqrt(2.0 * math.log(KernelPruning.NonSpatialBound / 1e-6))
    assert(approx(r, expected, 1e-9))
    assert(r > 300 && r < 500) // sanity: a few hundred km
  }

  test("pruned scoring matches exact scoring within the floor error bound") {
    val exact = SafetyKernel.scoreRoutes(routes, accidents, planDate)
      .select("route_id", "risk_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val pruned = KernelPruning.scoreRoutesPruned(routes, accidents, planDate)
      .select("route_id", "risk_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pruned.keySet == exact.keySet) // every route present (left join)
    // dropped pairs each contribute < floor → risk error < nAcc·floor·7
    val bound = 200 * SafetyKernel.SignificanceFloor * 7.0 + 1e-9
    val maxErr = exact.keys.map(k => math.abs(exact(k) - pruned(k))).max
    assert(maxErr <= bound, s"max error $maxErr vs bound $bound")
  }

  test("pruned pair stream is a strict subset and keeps every significant pair") {
    val exactPairs = SafetyKernel.pairInfluence(routes, accidents, planDate)
      .select("route_id", "accident_id", "influence")
      .where(col("influence") >= SafetyKernel.SignificanceFloor)
      .as[(Long, Long, Double)].collect().toSet
    val prunedPairs = KernelPruning.pairInfluencePruned(routes, accidents, planDate)
      .select("route_id", "accident_id", "influence")
      .as[(Long, Long, Double)].collect()
    // no duplicates from the 3×3 fan-out (each pair lands in exactly one cell join)
    assert(prunedPairs.length == prunedPairs.map(p => (p._1, p._2)).distinct.length)
    // every significant pair survives with identical influence
    val prunedSet = prunedPairs.toSet
    assert(exactPairs.subsetOf(prunedSet))
    // and pruning actually pruned something on spread-out data
    val totalPairs = routes.count() * accidents.count()
    assert(prunedPairs.length < totalPairs)
  }

  test("10x density + planted hot cell: pruned still bit-equal above the floor") {
    // the scale-stress shape the bench runs at 1.7M × 69K: accident density
    // 100× the base spec, including a degenerate cluster — 5000 accidents
    // piled onto ONE coordinate (one grid cell). Equality above the floor
    // must be exact, not approximate, and the 3×3 fan-out must not
    // duplicate pairs even in the hot cell.
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

    val exactPairs = SafetyKernel.pairInfluence(denseRoutes, dense, planDate)
      .select("route_id", "accident_id", "influence")
      .where(col("influence") >= SafetyKernel.SignificanceFloor)
      .as[(Long, Long, Double)].collect().toSet
    val prunedPairs = KernelPruning.pairInfluencePruned(denseRoutes, dense, planDate)
      .select("route_id", "accident_id", "influence")
      .as[(Long, Long, Double)].collect()
    assert(prunedPairs.length == prunedPairs.map(p => (p._1, p._2)).distinct.length,
      "3x3 fan-out duplicated a pair")
    assert(exactPairs.subsetOf(prunedPairs.toSet),
      "a significant pair was pruned at 10x density")
    // the planted cluster is inside the grid's reach of nearby routes
    assert(exactPairs.exists(_._2 >= 1000000L), "hot cell produced no significant pairs")
    // risk error bound still holds with 20K accidents
    val exact = SafetyKernel.scoreRoutes(denseRoutes, dense, planDate)
      .select("route_id", "risk_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val pruned = KernelPruning.scoreRoutesPruned(denseRoutes, dense, planDate)
      .select("route_id", "risk_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val bound = 20000 * SafetyKernel.SignificanceFloor * 7.0 + 1e-9
    val maxErr = exact.keys.map(k => math.abs(exact(k) - pruned(k))).max
    assert(maxErr <= bound, s"max error $maxErr vs bound $bound")
  }

  test("geo-skewed catalog (half the routes in ONE tier-0 cell): still bit-equal above the floor") {
    // the kernel_batch_10x_skew layout at spec scale: Bench's skewed
    // generator plants ids >= n/2 strictly inside one tier-0 grid cell.
    // Route-side clustering must change NOTHING about correctness — the
    // equi-join's losslessness argument is per-pair geometry, independent
    // of how many routes share a cell — and the fan-out must not
    // duplicate pairs in the hot cell.
    // 1500 accidents: the synthetic (lat, lon) pattern is a 1-D curve
    // (both coords driven by id), so small counts leave the hot cell's
    // neighborhood empty — 1500 puts the nearest accident ~40 km from
    // the cell center, well inside the sport gate radius, which keeps
    // the hot-half liveness assertion below meaningful
    val skewed = graft.Bench.syntheticRoutesSkewed(spark, 2000)
    val acc = graft.Bench.syntheticAccidents(spark, 1500)

    // the plant is real: the hot half occupies exactly one tier-0 cell
    val (latDeg, lonDeg) = KernelPruning.tier0CellDegrees()
    val hotCells = skewed.where(col("route_id") >= 1000)
      .select(floor(col("lat") / latDeg).as("la"),
        floor((col("lon") + 180.0) / lonDeg).as("lo"))
      .distinct().count()
    assert(hotCells == 1L, s"hot half spans $hotCells cells, expected 1")
    assert(skewed.count() == 2000)

    val exactPairs = SafetyKernel.pairInfluence(skewed, acc, planDate)
      .select("route_id", "accident_id", "influence")
      .where(col("influence") >= SafetyKernel.SignificanceFloor)
      .as[(Long, Long, Double)].collect().toSet
    val prunedPairs = KernelPruning.pairInfluencePruned(skewed, acc, planDate)
      .select("route_id", "accident_id", "influence")
      .as[(Long, Long, Double)].collect()
    assert(prunedPairs.length == prunedPairs.map(p => (p._1, p._2)).distinct.length,
      "fan-out duplicated a pair under route-side clustering")
    assert(exactPairs.subsetOf(prunedPairs.toSet),
      "a significant pair was pruned on the skewed layout")
    // hot routes genuinely participate (the cell sits inside the
    // continental accident spread, so significant pairs must exist there)
    assert(exactPairs.exists(_._1 >= 1000L),
      "hot-cell routes produced no significant pairs — plant is dead")
  }

  test("accident-skewed history (half the accidents in ONE tier-0 cell): still bit-equal above the floor") {
    // the kernel_batch_10x_accskew layout at spec scale: Bench's skewed
    // accident generator plants ids >= n/2 strictly inside one tier-0
    // cell — the direction the route-skew analysis names as dangerous
    // (it lengthens the candidate list of every route whose window
    // covers the hot cell, and all hot accidents share ONE grid key).
    // Correctness must be unchanged: losslessness is per-pair geometry,
    // and the fan-out must not duplicate pairs however many accidents
    // share a cell.
    // 6000 routes = ONE full period of the synthetic lattice (lat cycles
    // mod 2000, lon mod 3000 → 6000 distinct points); shorter prefixes
    // are a partial diagonal whose nearest point to the hot cell is
    // ~750 km — outside every tier's gate radius — which would leave the
    // liveness assertion below vacuously dead. At the full lattice the
    // nearest points sit 68-111 km out, inside the wide-tier gates (the
    // bench-scale catalog replays this same 6000-point lattice 280×, so
    // liveness here proves the 10x arm's hot half is live too).
    val rts = graft.Bench.syntheticRoutes(spark, 6000)
    val acc = graft.Bench.syntheticAccidentsSkewed(spark, 1500)

    // the plant is real: the hot half occupies exactly one tier-0 cell
    val (latDeg, lonDeg) = KernelPruning.tier0CellDegrees()
    val hotCells = acc.where(col("accident_id") >= 750)
      .select(floor(col("a_lat") / latDeg).as("la"),
        floor((col("a_lon") + 180.0) / lonDeg).as("lo"))
      .distinct().count()
    assert(hotCells == 1L, s"hot half spans $hotCells cells, expected 1")
    assert(acc.count() == 1500)

    val exactPairs = SafetyKernel.pairInfluence(rts, acc, planDate)
      .select("route_id", "accident_id", "influence")
      .where(col("influence") >= SafetyKernel.SignificanceFloor)
      .as[(Long, Long, Double)].collect().toSet
    val prunedPairs = KernelPruning.pairInfluencePruned(rts, acc, planDate)
      .select("route_id", "accident_id", "influence")
      .as[(Long, Long, Double)].collect()
    assert(prunedPairs.length == prunedPairs.map(p => (p._1, p._2)).distinct.length,
      "fan-out duplicated a pair under accident-side clustering")
    assert(exactPairs.subsetOf(prunedPairs.toSet),
      "a significant pair was pruned on the accident-skewed layout")
    // hot accidents genuinely participate (the cell sits inside the
    // continental route spread, so significant pairs must exist there)
    assert(exactPairs.exists(_._2 >= 750L),
      "hot-cell accidents produced no significant pairs — plant is dead")
  }

  test("polar maxAbsLat: degenerate 1-2 cell lon rings emit no duplicate pairs") {
    // at maxAbsLat = 89 the widest tier's lon ring collapses to ONE cell
    // (minDeg ≈ 207°) — the old constant ±1 fan-out then emitted every
    // accident 3× per (tier, dlat) as duplicate keys, tripling influence
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
    val pairs = KernelPruning.pairInfluencePruned(
      polarRoutes, polarAcc, planDate, maxAbsLat = 89.0)
      .select("route_id", "accident_id", "influence")
      .as[(Long, Long, Double)].collect()
    assert(pairs.nonEmpty)
    assert(pairs.length == pairs.map(p => (p._1, p._2)).distinct.length,
      "duplicate (route, accident) pairs from a collapsed lon ring")
    // and every significant exact pair still survives with equal influence
    val exact = SafetyKernel.pairInfluence(polarRoutes, polarAcc, planDate)
      .select("route_id", "accident_id", "influence")
      .where(col("influence") >= SafetyKernel.SignificanceFloor)
      .as[(Long, Long, Double)].collect().toSet
    assert(exact.subsetOf(pairs.toSet))
  }

  test("amplified weather (wmult) requires an explicit weatherBound") {
    val amplified = routes.withColumn("wmult", lit(1.5))
    intercept[IllegalArgumentException] {
      KernelPruning.pairInfluencePruned(amplified, accidents, planDate)
    }
    // with the bound declared, the radius grows to cover (wsim·wmult)³ and
    // the pruned result matches the exact amplified kernel above the floor
    val exact = SafetyKernel.pairInfluence(amplified, accidents, planDate)
      .select("route_id", "accident_id", "influence")
      .where(col("influence") >= SafetyKernel.SignificanceFloor)
      .as[(Long, Long, Double)].collect().toSet
    val pruned = KernelPruning.pairInfluencePruned(
      amplified, accidents, planDate, weatherBound = 1.5)
      .select("route_id", "accident_id", "influence")
      .as[(Long, Long, Double)].collect().toSet
    assert(exact.subsetOf(pruned))
    // the declared bound widens the gate monotonically
    assert(KernelPruning.pruneRadiusKm(1e-6, 1.5) > KernelPruning.pruneRadiusKm(1e-6))
  }

  test("an accident-side wmult is rejected by both pair kernels") {
    // influenceColumns amplifies any joined wmult, but the pruned radius
    // and its runtime cap read the routes only: accident-side amplification
    // would be pruned with the unamplified radius and lose pairs silently
    val amplified = accidents.withColumn("wmult", lit(1.5))
    val exact = intercept[IllegalArgumentException] {
      SafetyKernel.pairInfluence(routes, amplified, planDate)
    }
    assert(exact.getMessage.contains("pairInfluence: accidents carry wmult"), exact.getMessage)
    val pruned = intercept[IllegalArgumentException] {
      KernelPruning.pairInfluencePruned(routes, amplified, planDate, weatherBound = 1.5)
    }
    assert(pruned.getMessage.contains("pairInfluencePruned: accidents carry wmult"),
      pruned.getMessage)
  }

  test("a weatherBound smaller than the data's wmult fails loudly, not silently") {
    // declared 1.1 but actual multiplier 2.0: before the runtime twin of
    // the require, this silently lost above-floor pairs — now the first
    // offending route raise_error's the job
    val lying = routes.withColumn("wmult", lit(2.0))
    val ex = intercept[Exception] {
      KernelPruning.pairInfluencePruned(lying, accidents, planDate,
        weatherBound = 1.1).count()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("exceeds declared weatherBound")),
      s"expected the wmult guard message, got: $ex")
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
      .select(graft.dedup.Dedup.simhash63(org.apache.spark.sql.functions
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
}
