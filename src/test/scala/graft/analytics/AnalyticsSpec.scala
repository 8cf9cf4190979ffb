package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

class AnalyticsSpec extends SparkSpec {

  import spark.implicits._

  private def accidents: DataFrame = Seq(
    (1, "2023-01-10", 40.0, -105.0, "Fatal fall"),
    (2, "2023-01-20", 40.1, -105.0, "serious injury"),
    (3, "2023-07-05", 40.0, -105.1, "moderate injuries"),
    (4, "2023-07-15", 40.05, -105.05, "minor cuts"),
    (5, "2023-07-25", 55.0, -100.0, "Fatal avalanche")) // far away — excluded
    .toDF("accident_id", "d", "latitude", "longitude", "injury_severity")
    .withColumn("date", to_date(col("d"))).drop("d")
    .withColumn("route", lit(null).cast("string"))

  test("seasonalPatterns: 50km radius, severity-cased scores") {
    val rows = Analytics.seasonalPatterns(accidents, lit(40.0), lit(-105.0))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(rows.keySet == Set(1, 7)) // far accident excluded
    assert(rows(1)._1 == 2)
    assert(rows(1)._2 == 90.0) // (100 fatal + 80 serious)/2
    assert(rows(7)._1 == 2)
    assert(rows(7)._2 == 50.0) // (60 moderate + 40 minor)/2
  }

  test("accidentProximity: ordered by distance, impact decays, fuzzy match") {
    val acc = accidents.withColumn("route",
      when(col("accident_id") === 1, "The Great Roof Pitch 2").otherwise(null))
    val out = Analytics.accidentProximity(acc, lit(40.0), lit(-105.0),
      lit("the great roof"), 10).collect()
    assert(out.length == 4)
    // nearest first
    assert(out.head.getAs[Int]("accident_id") == 1)
    assert(out.head.getAs[Double]("impact_score") == 100.0) // dist 0 → 100
    assert(out.head.getAs[Boolean]("same_route")) // containment match
    assert(!out(1).getAs[Boolean]("same_route"))
    val dists = out.map(_.getAs[Double]("distance_km"))
    assert(dists.sliding(2).forall { case Array(a, b) => a <= b })
  }

  test("accidentProximity: null/empty names never match; NaN coords never rank first") {
    val acc = accidents.withColumn("route",
      when(col("accident_id") === 1, "The Great Roof").otherwise(lit("")))
    // null query name: same_route must be FALSE everywhere, not NULL
    val nullName = Analytics.accidentProximity(acc, lit(40.0), lit(-105.0),
      lit(null).cast("string"), 10).collect()
    assert(nullName.nonEmpty)
    nullName.foreach(r => assert(!r.getAs[Boolean]("same_route")))
    // empty query name: contains("") must not flag everything
    val emptyName = Analytics.accidentProximity(acc, lit(40.0), lit(-105.0),
      lit(""), 10).collect()
    emptyName.foreach(r => assert(!r.getAs[Boolean]("same_route")))
    // an empty ACCIDENT route must not match a real query name either
    val realName = Analytics.accidentProximity(acc, lit(40.0), lit(-105.0),
      lit("the great roof"), 10).collect()
    assert(realName.count(_.getAs[Boolean]("same_route")) == 1)

    // NaN coordinates pass isNotNull — they must NOT clamp to distance 0
    // and take over rank 1; they drop out of the radius like the reference
    val withNaN = accidents.unionByName(Seq(
      (99, java.sql.Date.valueOf("2023-07-01"), Double.NaN, -105.0, "fatal",
        null.asInstanceOf[String]))
      .toDF("accident_id", "date", "latitude", "longitude", "injury_severity", "route"))
    val ranked = Analytics.accidentProximity(withNaN, lit(40.0), lit(-105.0),
      lit("x"), 10).collect()
    assert(!ranked.map(_.getAs[Int]("accident_id")).contains(99))
    assert(ranked.head.getAs[Int]("accident_id") == 1)
  }

  test("accidentProximity: ties on distance and date straddling the limit keep the lowest ids") {
    // accident 1 is nearest; 5-9 share one spot farther out, 6 and 8 on one
    // date and 5, 7, 9 undated. Fed in descending id order, so only the
    // accident_id key can put the lowest ids first within each tie group.
    val d = Some(java.sql.Date.valueOf("2023-05-01"))
    val acc = (Seq(9 -> None, 8 -> d, 7 -> None, 6 -> d, 5 -> None)
      .map { case (id, date) => (id, date, 40.05, -105.05) } :+
      ((1, d, 40.0, -105.0)))
      .toDF("accident_id", "date", "latitude", "longitude")
      .withColumn("route", lit(null).cast("string"))
      .repartition(1)
    def ids(limit: Int): Seq[Int] =
      Analytics.accidentProximity(acc, lit(40.0), lit(-105.0), lit("x"), limit)
        .collect().map(_.getAs[Int]("accident_id")).toSeq
    assert(ids(2) == Seq(1, 6)) // the dated group straddles the limit
    assert(ids(4) == Seq(1, 6, 8, 5)) // the undated group straddles it
    assert(ids(6) == Seq(1, 6, 8, 5, 7, 9))
  }

  test("ascentAnalytics: null tick dates form no phantom month") {
    val ticks = Seq(
      (1L, Some(java.sql.Date.valueOf("2023-07-01")), "sport"),
      (2L, Some(java.sql.Date.valueOf("2023-07-02")), "trad"),
      (3L, Option.empty[java.sql.Date], "sport"))
      .toDF("tick_id", "tick_date", "type")
    val out = Analytics.ascentAnalytics(ticks, accidents).collect()
    assert(out.forall(!_.isNullAt(0)), "NULL month row leaked from null tick_date")
    val july = out.find(_.getAs[Int]("month_num") == 7).get
    assert(july.getAs[Long]("n_ascents") == 2)
  }

  test("ascentSummary: first-of-ties best/worst/peak, date-unfiltered totals") {
    def d(s: String) = Some(java.sql.Date.valueOf(s))
    // months 5 and 6: one tick each, no accidents → rate 0.0 TIE → best=5.
    // months 7 and 8: 2 ticks / 1 accident each → rate 500.0 TIE → worst=7.
    // peak ascents: months 7 and 8 tie at 2 → peak=7. A null-date tick and
    // a boulder tick exist only in the totals arm (boulder excluded there
    // too; null date counted — the reference's bare COUNT(*)).
    val ticks = Seq(
      (1L, d("2023-05-01"), "sport"), (2L, d("2023-06-01"), "trad"),
      (3L, d("2023-07-01"), "sport"), (4L, d("2023-07-02"), "sport"),
      (5L, d("2023-08-01"), "trad"), (6L, d("2023-08-02"), "trad"),
      (7L, Option.empty[java.sql.Date], "sport"), // null date: totals only
      (8L, d("2023-07-03"), "Bouldering")) // excluded everywhere
      .toDF("tick_id", "tick_date", "type")
    val accs = Seq(
      (1, d("2023-07-10")), (2, d("2023-08-10")),
      (3, Option.empty[java.sql.Date])) // null date still in total_accidents
      .toDF("accident_id", "date")
    val row = Analytics.ascentSummary(ticks, accs).head()
    assert(row.getAs[Long]("total_ascents") == 7) // 8 minus the boulder
    assert(row.getAs[Long]("total_accidents") == 3)
    assert(row.getAs[Double]("overall_rate") == math.rint(3000.0 / 7 * 100) / 100)
    assert(row.getAs[Int]("best_month") == 5)
    assert(row.getAs[Int]("worst_month") == 7)
    assert(row.getAs[Int]("peak_month") == 7)
    assert(row.getAs[Boolean]("has_data"))

    // no ticks at all → null months, zero totals, has_data false
    val empty = Analytics.ascentSummary(
      ticks.where(lit(false)), accs.where(lit(false))).head()
    assert(empty.getAs[Long]("total_ascents") == 0)
    assert(empty.getAs[Double]("overall_rate") == 0.0)
    assert(empty.isNullAt(empty.fieldIndex("best_month")))
    assert(!empty.getAs[Boolean]("has_data"))
  }

  test("riskBreakdown: influence ties break by accident_id, deterministically") {
    // two accidents at IDENTICAL coordinates/type/severity/date → identical
    // influence; topN=1 must pick accident 1 (lowest id), so the breakdown
    // equals the one computed from accident 1 alone on every run
    import graft.kernel.PairKernel
    val routes = Seq((1L, 40.0, -105.0, Some(3000.0), "alpine", Some(10.0)))
      .toDF("route_id", "lat", "lon", "elev", "route_type", "difficulty")
    def acc(id: Int, grade: Double) =
      (id, 40.1, -105.0, Some(2900.0), "alpine", "fatal", "2023-07-15", Some(grade))
    val accs = Seq(acc(2, 9.0), acc(1, 9.0), acc(3, 9.0))
      .toDF("accident_id", "a_lat", "a_lon", "a_elev", "acc_type", "severity_raw", "d", "a_difficulty")
      .withColumn("a_date", to_date(col("d"))).drop("d")
    val pairs = PairKernel.pairInfluence(routes, accs, to_date(lit("2024-07-15")))
    val viaTies = Analytics.riskBreakdown(pairs, topN = 1).head()
    val viaOne = Analytics.riskBreakdown(
      pairs.where(col("accident_id") === 1), topN = 1).head()
    viaTies.schema.fieldNames.filter(_.startsWith("avg_")).foreach { f =>
      assert(viaTies.getAs[Double](f) == viaOne.getAs[Double](f), f)
    }
  }

  test("normalizeRouteType: canonical passthrough, variants, default trad") {
    val cases = Seq(
      "sport" -> "sport", "Bouldering" -> "boulder", "big wall" -> "aid",
      "snow" -> "alpine", "toprope" -> "sport", "mountaineering" -> "alpine",
      "rock" -> "trad", "???" -> "trad", "" -> "trad")
    for ((raw, expected) <- cases)
      assert(evalString(Analytics.normalizeRouteType(lit(raw))) == expected, raw)
    assert(evalString(Analytics.normalizeRouteType(lit(null).cast("string"))) == "trad")
  }

  test("hourlyRisk + conditionsSummary + climbingWindows") {
    // 24-hour frame: good morning, storm at 12-14, cold night
    val hourly = (0 to 23).map { h =>
      val temp = if (h < 6) -20.0 else 15.0
      val precip = if (h >= 12 && h <= 14) 8.0 else 0.0
      val wind = 5.0
      (h, temp, precip, wind, Option.empty[Double], 9000.0)
    }.toDF("hour", "temp", "precip", "wind", "gust", "visibility")
    val risks = Analytics.conditionsSummary(
      Analytics.hourlyRisk(hourly, lit(20.0)))
    val byHour = risks.collect().map(r => r.getAs[Int]("hour") -> r).toMap
    // night: base 20 + cold 15 = 35, not daylight → not climbable
    assert(byHour(2).getAs[Double]("risk_score") == 35.0)
    assert(!byHour(2).getAs[Boolean]("is_climbable"))
    // storm: base 20 + precip 20 = 40 + vis? 9000>5000 no adj → 40, but precip ≥ 5 blocks
    assert(byHour(13).getAs[Double]("risk_score") == 40.0)
    assert(!byHour(13).getAs[Boolean]("is_climbable"))
    assert(byHour(13).getAs[String]("conditions_summary").contains("Rain/Snow"))
    // mid-morning is climbable
    assert(byHour(9).getAs[Boolean]("is_climbable"))
    assert(byHour(9).getAs[String]("conditions_summary") == "Good Conditions")

    val windows = Analytics.climbingWindows(risks).collect()
    // two windows: 6-11 and 15-18
    assert(windows.length == 2)
    val spans = windows.map(w => (w.getAs[Int]("start_hour"), w.getAs[Int]("end_hour"))).toSet
    assert(spans == Set((6, 11), (15, 18)))
  }

  test("riskBreakdown: factor shares sum to 100") {
    import graft.kernel.PairKernel
    val routes = Seq((1L, 40.0, -105.0, Some(3000.0), "alpine", Some(10.0)))
      .toDF("route_id", "lat", "lon", "elev", "route_type", "difficulty")
    val accs = Seq(
      (1, 40.1, -105.0, Some(2900.0), "alpine", "fatal", "2023-07-15", Some(9.0)),
      (2, 40.2, -105.1, Some(2500.0), "sport", "minor", "2023-01-15", Some(12.0)))
      .toDF("accident_id", "a_lat", "a_lon", "a_elev", "acc_type", "severity_raw", "d", "a_difficulty")
      .withColumn("a_date", to_date(col("d"))).drop("d")
    val pairs = PairKernel.pairInfluence(routes, accs, to_date(lit("2024-07-15")))
    val row = Analytics.riskBreakdown(pairs).head()
    val shares = row.schema.fieldNames.filter(_.startsWith("share_"))
      .map(f => row.getAs[Double](f))
    assert(approx(shares.sum, 100.0, 0.5)) // rounded to 1 decimal each
  }

  test("historicalTrends: stats + trend label") {
    val scores = (1 to 20).map(i => (s"2024-07-${"%02d".format(i)}", i * 2.0))
      .toDF("d", "risk_score")
      .withColumn("prediction_date", to_date(col("d"))).drop("d")
    val row = Analytics.historicalTrends(scores).head()
    assert(row.getAs[Double]("min_risk") == 2.0)
    assert(row.getAs[Double]("max_risk") == 40.0)
    assert(row.getAs[String]("trend") == "increasing")
  }

  test("breadcrumb: state-name stop rule (mp_routes.py:62-98), both forms") {
    val locations = Seq(
      (0L, "USA", Option.empty[Long]),
      (1L, "Colorado", Some(0L)),
      (2L, "RMNP", Some(1L)),
      (3L, "Longs Peak", Some(2L)),
      (4L, "The Diamond", Some(3L)))
      .toDF("mp_id", "name", "parent_id")
    // default: the walk stops AT the state — state and country excluded
    assert(Analytics.breadcrumb(locations, 4L) ==
      Seq("RMNP", "Longs Peak", "The Diamond"))
    val dist = Analytics.breadcrumbDistributed(locations, maxLevels = 5)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(dist(4L) == "RMNP > Longs Peak > The Diamond")
    assert(dist(2L) == "RMNP")
    assert(dist(1L) == "") // a state start node yields the empty path
    // excludeStates = false keeps the full chain
    assert(Analytics.breadcrumb(locations, 4L, excludeStates = false) ==
      Seq("USA", "Colorado", "RMNP", "Longs Peak", "The Diamond"))
    val full = Analytics.breadcrumbDistributed(locations, maxLevels = 5,
      excludeStates = false)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(full(4L) == "USA > Colorado > RMNP > Longs Peak > The Diamond")
  }

  test("mapWithSafety: season filter, blacklist, score left join") {
    val routes = Seq(
      (1L, "Good Ice Route", 10L, "Ice climbing", Some(40.0), Some(-105.0)),
      (2L, "Sunny Sport", 10L, "Sport", Some(40.1), Some(-105.1)),
      (3L, "Bad Coords Route", 10L, "Ice", Some(40.2), Some(-105.2)))
      .toDF("mp_route_id", "name", "location_id", "type", "latitude", "longitude")
    val locations = Seq((10L, 40.05, -105.05)).toDF("mp_id", "loc_lat", "loc_lon")
    val scores = Seq((1L, 42.0, "yellow")).toDF("mp_route_id", "risk_score", "color_code")
    val out = Analytics.mapWithSafety(routes, locations, scores,
      season = "winter", blacklist = Seq("bad coords route"))
      .select("mp_route_id", "risk_score").collect()
    assert(out.map(_.getLong(0)).toSet == Set(1L)) // sport filtered, blacklisted dropped
    assert(out.head.getDouble(1) == 42.0)
  }
}
