package graft

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Edge-case regressions for the library core: zero-distance proximity,
  * empty weather patterns, null-biased archive stats, breadcrumb twin
  * parity at the level cap, null-name serving rows.
  */
class RobustnessSpec extends SparkSpec {

  import spark.implicits._

  test("slc distance at identical coordinates is 0, not NaN — closest rows survive") {
    val pts = Seq((40.2549, -105.6160), (40.0, -105.0), (63.07, -151.0))
      .toDF("lat", "lon")
    val d = pts.select(graft.analytics.Analytics
      .slcDistanceKm(col("lat"), col("lon"), col("lat"), col("lon")).as("d"))
      .collect().map(_.getDouble(0))
    // acos near 1 is ill-conditioned: the clamp guarantees a FINITE value,
    // and the residual is sub-meter (acos(1-ulp) ≈ 2e-8 rad ≈ 0.1 m) — the
    // reference's arccos form has the same conditioning
    d.foreach(v => assert(!v.isNaN && v < 0.001, s"self-distance $v"))
    // and a sub-meter offset stays finite/tiny instead of NaN
    val near = pts.select(graft.analytics.Analytics
      .slcDistanceKm(col("lat"), col("lon"), col("lat") + 1e-9, col("lon")).as("d"))
      .collect().map(_.getDouble(0))
    near.foreach(v => assert(!v.isNaN && v < 0.001))
  }

  test("weather similarity survives an EMPTY pattern (0 days → 0.0)") {
    import graft.weather.WeatherExprs
    val none = array().cast("array<double>")
    val empty = WeatherExprs.pattern(none, none, none, none, none,
      array().cast("array<struct<min:double,avg:double,max:double>>"))
    val full = WeatherExprs.pattern(
      array((1 to 7).map(i => lit(i.toDouble)): _*),
      array((1 to 7).map(_ => lit(0.5)): _*),
      array((1 to 7).map(_ => lit(5.0)): _*),
      array((1 to 7).map(_ => lit(10000.0)): _*),
      array((1 to 7).map(_ => lit(50.0)): _*),
      array((1 to 7).map(i => struct(lit(i - 1.0).as("min"), lit(i.toDouble).as("avg"),
        lit(i + 1.0).as("max"))): _*))
    val out = spark.range(1)
      .select(graft.expr.WeatherPatternSimilarity.similarity(empty, full)).head()
    assert(!out.isNullAt(0) && out.getDouble(0) == 0.0,
      "empty-vs-full similarity must be the <5-day 0.0, not a crash")
  }

  test("archive stats skip null factor values in mean, weight, and validity count") {
    import graft.weather.WeatherStats
    // 40 rows, wind null on the odd 20: stats must reflect only the 20 real
    // samples — and 20 < MinSamples, so std must be withheld
    val archive = spark.range(40).select(
      lit(1L).as("bucket"), lit(6).as("month"),
      when(col("id") % 2 === 0, lit(10.0)).otherwise(lit(null)).as("wind_speed"))
    val row = WeatherStats.bucketStats(archive, "wind_speed", refMonth = 6).head()
    assert(row.getAs[Long]("n_samples") == 20L, "n_samples must count real samples")
    assert(math.abs(row.getAs[Double]("w_mean") - 10.0) < 1e-12,
      "nulls must not drag the weighted mean toward 0")
    assert(!row.getAs[Boolean]("valid"), "20 samples < 30 must not be valid")
    val multi = WeatherStats.bucketFactorStats(archive, Seq("wind_speed"), 6).head()
    assert(math.abs(multi.getAs[Double]("wind_speed_mean") - 10.0) < 1e-12)
    assert(multi.isNullAt(multi.fieldIndex("wind_speed_std")),
      "per-factor validity must use the factor's own sample count")
  }

  test("breadcrumb twins agree at the 15-level cap on a deep chain") {
    import graft.analytics.Analytics
    // 20-deep chain: node i's parent is i+1, names n1..n20
    val locs = (1L to 20L).map(i =>
      (i, s"n$i", if (i < 20) Some(i + 1) else None))
      .toDF("mp_id", "name", "parent_id")
    val driver = Analytics.breadcrumb(locs, 1L, excludeStates = false)
    val dist = Analytics.breadcrumbDistributed(locs, excludeStates = false)
      .where(col("mp_id") === 1L).head().getString(1)
    assert(driver.length == 15, s"driver walked ${driver.length} levels")
    assert(dist == driver.mkString(" > "),
      s"twins disagree:\n  driver: ${driver.mkString(" > ")}\n  dist:   $dist")
  }

  test("route-type weight falls to the 0.5 default for unknown pairs UNDER ANSI") {
    import graft.expr.WeightExprs
    val before = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      // raw user input / inference's 'default' — plain element_at would
      // throw MAP_KEY_DOES_NOT_EXIST here under ANSI
      val w = spark.range(1).select(WeightExprs.routeTypeWeight(
        lit("scramble"), lit("alpine")).as("w")).head().getDouble(0)
      assert(w == 0.5, s"unknown pair must default to 0.5, got $w")
      val known = spark.range(1).select(WeightExprs.routeTypeWeight(
        lit("alpine"), lit("sport")).as("w")).head().getDouble(0)
      assert(known == 0.9, "known pairs unchanged")
    } finally spark.conf.set("spark.sql.ansi.enabled", before)
  }

  test("map serving keeps null-named routes; the blacklist removes only names") {
    val routes = Seq(
      (1L, Some("route a"), 10L, "trad", Some(40.0), Some(-105.0)),
      (2L, None: Option[String], 10L, "trad", Some(40.1), Some(-105.1)),
      (3L, Some("bad route"), 10L, "trad", Some(40.2), Some(-105.2)))
      .toDF("mp_route_id", "name", "location_id", "type", "latitude", "longitude")
    val locations = Seq((10L, 40.0, -105.0)).toDF("mp_id", "loc_lat", "loc_lon")
    val scores = Seq((1L, 10.0, "green")).toDF("mp_route_id", "risk_score", "color_code")
    val served = graft.analytics.Analytics.mapWithSafety(
      routes, locations, scores, season = "all", blacklist = Seq("bad route"))
      .select("mp_route_id").collect().map(_.getLong(0)).toSet
    assert(served == Set(1L, 2L), s"got $served — null-named route must survive")
  }
}
