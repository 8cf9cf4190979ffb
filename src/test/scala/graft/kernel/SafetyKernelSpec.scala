package graft.kernel

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.expr.WeightExprs
import graft.queries.Derived

/** End-to-end kernel fidelity on the reference's own canonical fixture
  * (test_safety_algorithm.py:30-120: Longs Peak + 4 accidents, no weather →
  * neutral 0.5). Expected risk/influences produced by executing the
  * reference calculate_safety_score on the identical inputs.
  */
class SafetyKernelSpec extends SparkSpec {

  import spark.implicits._

  private def longsPeak: DataFrame = Seq(
    (100L, 40.2549, -105.6426, Some(4346.0), "alpine", Option.empty[Double]))
    .toDF("route_id", "lat", "lon", "elev", "route_type", "difficulty")

  private def accidents: DataFrame = Seq(
    (1, 40.3549, -105.6426, Some(4200.0), "alpine", "Serious Injury", "2023-07-15"),
    (2, 41.2549, -105.6426, Some(3500.0), "alpine", "Minor Injury", "2023-07-15"),
    (3, 40.2549, -105.6426, Some(4346.0), "alpine", "Fatal", "2014-07-15"),
    (4, 40.2549, -105.6426, Some(4346.0), "sport", "Minor Injury", "2023-07-15"))
    .toDF("accident_id", "a_lat", "a_lon", "a_elev", "acc_type", "severity_raw", "d")
    .withColumn("a_date", to_date(col("d"))).drop("d")
    .withColumn("a_difficulty", lit(null).cast("double"))

  private val planDate = to_date(lit("2024-07-15"))

  /** The fold's top-`k` contributor structs over every route, flattened. */
  private def contributors(routes: DataFrame, accs: DataFrame, k: Int = 50): DataFrame =
    SafetyKernel.scoreWithContributors(routes, accs, planDate, k)
      .select(col("route_id"), explode(col("contributors")).as("c")).select("route_id", "c.*")

  test("risk score matches reference exactly: 3.30406861212714") {
    val res = SafetyKernel.scoreRoutes(longsPeak, accidents, planDate).head()
    val risk = res.getAs[Double]("risk_score")
    assert(approx(risk, 3.30406861212714, 1e-9), s"got $risk")
    assert(res.getAs[Long]("n_contributing") == 4)
    assert(res.getAs[String]("color_code") == "green")
  }

  test("per-accident influences match reference breakdown") {
    val pairs = contributors(longsPeak, accidents)
      .select("accident_id", "influence", "spatial_w", "temporal_w",
        "elevation_w", "route_type_w", "severity_w", "grade_w")
      .collect().map(r => r.getAs[Int]("accident_id") -> r).toMap
    // reference rounded breakdown: id → (influence, severity_w)
    assert(approx(pairs(3).getAs[Double]("influence"), 0.1505, 5e-5))
    assert(approx(pairs(1).getAs[Double]("influence"), 0.1437, 5e-5))
    assert(approx(pairs(4).getAs[Double]("influence"), 0.1309, 5e-5))
    assert(approx(pairs(2).getAs[Double]("influence"), 0.0469, 5e-5))
    // "Fatal" hits the raw lookup; "Serious Injury" does NOT (kernel quirk)
    assert(pairs(3).getAs[Double]("severity_w") == 1.3)
    assert(pairs(1).getAs[Double]("severity_w") == 1.0)
    // canary: sport accident at alpine plan → 0.9
    assert(pairs(4).getAs[Double]("route_type_w") == 0.9)
  }

  test("top contributors ranked by influence desc: 3, 1, 4, 2") {
    val top = contributors(longsPeak, accidents, 3)
      .orderBy("rank").select("accident_id").as[Int].collect()
    assert(top.toSeq == Seq(3, 1, 4))
  }

  test("no accidents → zero risk") {
    val res = SafetyKernel.scoreRoutes(longsPeak, accidents.limit(0), planDate)
    assert(res.count() == 0) // empty group-by: no row; serving layer coalesces to 0
  }

  test("known-outcomes invariant: nearby fatal cluster outranks distant minor") {
    // two synthetic locations scored against the same accidents: the one at
    // the accident cluster must score strictly higher (reference
    // test_known_outcomes_validation.py approach)
    val routes = Seq(
      (1L, 40.2549, -105.6426, Some(4346.0), "alpine", Option.empty[Double]), // at cluster
      (2L, 25.0, -80.0, Some(10.0), "alpine", Option.empty[Double])) // Florida
      .toDF("route_id", "lat", "lon", "elev", "route_type", "difficulty")
    val scored = SafetyKernel.scoreRoutes(routes, accidents, planDate)
      .select("route_id", "risk_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scored(1L) > scored(2L))
    assert(scored(2L) < 0.001) // ~2000 km away → negligible influence
  }

  test("weather similarity column gates influence (threshold 0.25, cubic)") {
    val withWsim = accidents.withColumn("wsim",
      when(col("accident_id") === 1, 0.9)
        .when(col("accident_id") === 2, 0.2) // below threshold → zeroed
        .otherwise(0.5))
    // the weather factor is the influence's last multiplier: over the
    // neutral run's influence (0.5³) it reads back as the factor itself
    def influences(accs: DataFrame): Map[Int, Double] = contributors(longsPeak, accs)
      .select("accident_id", "influence").as[(Int, Double)].collect().toMap
    val neutral = influences(accidents)
    val weather = influences(withWsim).map { case (id, infl) => id -> infl / neutral(id) * 0.125 }
    assert(approx(weather(1), math.pow(0.9, 3), 1e-12))
    assert(weather(2) == 0.0)
    assert(approx(weather(3), 0.125, 1e-12))
  }

  test("pairInfluence's factor columns equal the standalone WeightExprs factors, bit for bit") {
    // the Derived fixture, with one route type in upper case, an unknown
    // route type, a mixed-case and an unknown accident type and an
    // upper-case severity; it already has NULL elevations and
    // difficulties on both sides and every canonical type
    val dir = "/root/testdata/sf0.001"
    val routes = Derived.routes(spark, dir).withColumn("route_type",
      when(col("route_id") % 9 === 0, upper(col("route_type")))
        .when(col("route_id") % 11 === 0, lit("scramble")).otherwise(col("route_type")))
    val accs = Derived.accidents(spark, dir)
      .withColumn("acc_type", when(col("accident_id") === 8, initcap(col("acc_type")))
        .when(col("accident_id") === 9, lit("via ferrata")).otherwise(col("acc_type")))
      .withColumn("severity_raw",
        when(col("accident_id") === 5, upper(col("severity_raw"))).otherwise(col("severity_raw")))
    val factors = Seq(
      "spatial_w" -> WeightExprs.spatialWeight(col("dist_km"), col("route_type")),
      "temporal_w" -> WeightExprs.temporalWeight(Derived.planDate, col("a_date"), col("route_type")),
      "elevation_w" -> WeightExprs.elevationWeight(col("elev"), col("a_elev"), col("route_type")),
      "route_type_w" -> WeightExprs.routeTypeWeight(col("route_type"), col("acc_type")),
      "severity_w" -> WeightExprs.severityWeight(col("severity_raw")),
      "grade_w" -> WeightExprs.gradeWeight(col("difficulty"), col("a_difficulty")))
    val rows = PairKernel.pairInfluence(routes, accs, Derived.planDate)
      .select(Seq("route_type", "acc_type", "severity_raw", "elev", "a_elev", "difficulty",
        "a_difficulty").map(col) ++ factors.flatMap { case (n, f) => Seq(col(n), f) }: _*)
      .collect()
    // the fixture covers what the factors branch on
    def values(c: String): Set[Any] = rows.map(_.getAs[Any](c)).toSet
    val types = SafetyKernel.CanonicalTypes.toSet[Any]
    assert(types.subsetOf(values("route_type")) && types.subsetOf(values("acc_type")))
    assert(values("route_type")("scramble") && values("route_type").exists(t => t != null &&
      t.toString.exists(_.isUpper)))
    assert(values("acc_type")("via ferrata") && values("acc_type").exists(t => t != null &&
      t.toString.exists(_.isUpper)))
    assert(values("severity_raw")("FATAL") && values("severity_raw")("Serious Injury"))
    Seq("elev", "a_elev", "difficulty", "a_difficulty").foreach(c => assert(values(c)(null), c))
    for (r <- rows; ((name, _), i) <- factors.zipWithIndex) {
      val kernel = r.getDouble(7 + 2 * i)
      val standalone = r.getDouble(8 + 2 * i)
      assert(java.lang.Double.doubleToRawLongBits(kernel) ==
        java.lang.Double.doubleToRawLongBits(standalone), s"$name: $kernel vs $standalone in $r")
    }
  }

  test("the fold's contributor factors equal the standalone WeightExprs factors, bit for bit") {
    // every pair of the Derived fixture (k = its accident count), with an
    // unknown route type, an upper-case route type and NULL elevations
    // and difficulties on both sides; each reported factor against its
    // standalone expression over the route and accident inputs
    val dir = "/root/testdata/sf0.001"
    val routes = Derived.routes(spark, dir).where(col("route_id") <= 300).withColumn("route_type",
      when(col("route_id") % 9 === 0, upper(col("route_type")))
        .when(col("route_id") % 11 === 0, lit("scramble")).otherwise(col("route_type")))
    val accs = Derived.accidents(spark, dir)
    val k = accs.count().toInt
    val factors = Seq(
      "spatial_w" -> WeightExprs.spatialWeight(col("dist_km"), col("route_type")),
      "temporal_w" -> WeightExprs.temporalWeight(Derived.planDate, col("a_date"), col("route_type")),
      "elevation_w" -> WeightExprs.elevationWeight(col("elev"), col("a_elev"), col("route_type")),
      "route_type_w" -> WeightExprs.routeTypeWeight(col("route_type"), col("acc_type")),
      "severity_w" -> WeightExprs.severityWeight(col("severity_raw")),
      "grade_w" -> WeightExprs.gradeWeight(col("difficulty"), col("a_difficulty")))
    val rows = SafetyKernel.scoreWithContributors(routes, accs, Derived.planDate, k)
      .select(col("route_id"), explode(col("contributors")).as("c")).select("route_id", "c.*")
      .join(routes, "route_id").join(accs, "accident_id")
      .select(col("elev") +: col("a_elev") +: factors.flatMap { case (n, f) => Seq(col(n), f) }: _*)
      .collect()
    assert(rows.length == routes.count() * k)
    assert(rows.exists(_.isNullAt(0)) && rows.exists(_.isNullAt(1)), "no NULL elevation")
    for (r <- rows; ((name, _), i) <- factors.zipWithIndex) {
      val fold = r.getDouble(2 + 2 * i)
      val standalone = r.getDouble(3 + 2 * i)
      assert(java.lang.Double.doubleToRawLongBits(fold) ==
        java.lang.Double.doubleToRawLongBits(standalone), s"$name: $fold vs $standalone in $r")
    }
  }
}
