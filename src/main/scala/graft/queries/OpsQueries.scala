package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.expr.{GeoExprs, WeightExprs}
import graft.weather.WeatherStats

/** Remaining operator classes from SURVEY §2 expressible over the derived
  * tables: the P6 distance-gated filter, the J8 0.01°-bucket join, the S7
  * rounded-coordinate elevation lookup, and the A6 archive-statistics
  * aggregation (cyclic-month weighted mean/std + monthly volatility).
  */
object OpsQueries {

  /** Deterministic 60-day archive series per supplier key (A6 input) —
    * the temperature column of the SHARED archive4 generator, not a
    * second copy of its formulas: an edit to the generator reaches w05/w06
    * and the k16 kernel path together or not at all.
    */
  private def archive(s: SparkSession, dir: String): DataFrame =
    Derived.archive4(s, dir)
      .select(col("bucket"), col("month"), col("temperature").as("v"))

  private val archiveSql =
    s"""${Sql.Archive4Cte},
       |archive AS (SELECT bucket, month, temperature AS v FROM arch)""".stripMargin

  /** Derived accident free-text fields exercising every branch of the F13
    * inference cascade (Spark side; SQL twin in the oracle).
    */
  private def inferenceInputs(s: SparkSession, dir: String): DataFrame =
    Tables.supplier(s, dir).select(
      col("s_suppkey").as("accident_id"),
      when(col("s_suppkey") % 8 === 0, lit(null).cast("string"))
        .when(col("s_suppkey") % 8 === 1, "Ice Climbing, Alpine")
        .when(col("s_suppkey") % 8 === 2, "Sport Climbing, grade:5.12a")
        .when(col("s_suppkey") % 8 === 3, "grade:5.9, Roped")
        .when(col("s_suppkey") % 8 === 4, "Bouldering, V5")
        .when(col("s_suppkey") % 8 === 5, "unroped solo")
        .when(col("s_suppkey") % 8 === 6, "")
        .otherwise("Mixed Climbing").as("tags"),
      when(col("s_suppkey") % 5 === 0, "Climbing")
        .when(col("s_suppkey") % 5 === 1, "Backcountry Tourer")
        .when(col("s_suppkey") % 5 === 2, "Hiker")
        .when(col("s_suppkey") % 5 === 3, lit(null).cast("string"))
        .otherwise("Mountaineer").as("activity"),
      when(col("s_suppkey") % 6 === 0, "fall")
        .when(col("s_suppkey") % 6 === 1, "ice_climbing")
        .when(col("s_suppkey") % 6 === 2, "avalanche")
        .when(col("s_suppkey") % 6 === 3, "rockfall")
        .when(col("s_suppkey") % 6 === 4, lit(null).cast("string"))
        .otherwise("rappel").as("accident_type"))

  /** SF-independent planted index 0..n-1: one supplier row × an exploded
    * sequence, so the k27–k29 fixtures are bit-identical at every test SF
    * (the DuckDB twin is `range(n)`). Every test dir has supplier row 1.
    */
  private def plantedK(s: SparkSession, dir: String, n: Int): DataFrame =
    Tables.supplier(s, dir).where(col("s_suppkey") === 1)
      .select(explode(sequence(lit(0), lit(n - 1))).as("k"))

  /** k27's planted accidents: every severity arm of the A8 case (fatal/
    * death/serious/severe/moderate/minor/light/other/null), near/far
    * coordinates around (40.5, -105.0) so the <50 km SLC gate is live,
    * and null date/lat/lon arms that the entry must drop.
    */
  private def seasonalAccidents(s: SparkSession, dir: String): DataFrame = {
    val sevArms = Seq("Fatal fall", "death on descent", "SERIOUS injury",
      "severe trauma", "Moderate bruising", "minor scrape", "light sprain",
      "rockfall", null)
    plantedK(s, dir, 240).select(
      col("k"),
      sevArms.zipWithIndex.foldLeft(when(lit(false), lit(""))) {
        case (acc, (t, i)) => acc.when(col("k") % sevArms.size === i,
          Option(t).map(lit).getOrElse(lit(null).cast("string")))
      }.as("injury_severity"),
      when(col("k") % 40 === 37, lit(null).cast("date"))
        .otherwise(make_date(lit(2023), (col("k") % 12) + 1, (col("k") * 7) % 28 + 1))
        .as("date"),
      when(col("k") % 29 === 5, lit(null).cast("double"))
        .when(col("k") % 5 === 0, 47.0) // ~720 km out: the far arm
        .otherwise(lit(40.5) + (((col("k") * 3) % 40) - 20) / 100.0).as("latitude"),
      when(col("k") % 31 === 8, lit(null).cast("double"))
        .otherwise(lit(-105.0) + (((col("k") * 11) % 50) - 25) / 100.0).as("longitude"))
  }

  /** k28's planted ticks/accidents: boulder arms the P10 exclusion drops,
    * null type (kept), null dates (dropped from monthly, kept in totals),
    * and accident months 1..8 only — months 9..12 exercise the 0-accident
    * left-join arm and the rate ties the first-of-ties rule must break.
    */
  private def ascentTicks(s: SparkSession, dir: String): DataFrame = {
    val typeArms = Seq("Sport", "Trad", "boulder", "Bouldering", null, "Ice", "Alpine")
    plantedK(s, dir, 300).select(
      when(col("k") % 50 === 49, lit(null).cast("date"))
        .otherwise(make_date(lit(2023), (col("k") % 12) + 1, (col("k") % 27) + 1))
        .as("tick_date"),
      typeArms.zipWithIndex.foldLeft(when(lit(false), lit(""))) {
        case (acc, (t, i)) => acc.when(col("k") % typeArms.size === i,
          Option(t).map(lit).getOrElse(lit(null).cast("string")))
      }.as("type"))
  }

  private def ascentAccidents(s: SparkSession, dir: String): DataFrame =
    plantedK(s, dir, 60).select(
      when(col("k") % 20 === 19, lit(null).cast("date"))
        .otherwise(make_date(lit(2023), (col("k") % 8) + 1, (col("k") % 25) + 1))
        .as("date"))

  /** k29's planted kernel pairs: influence takes only three dyadic values
    * (1.5/1.0/0.5) so the tie group straddles the top-10 boundary and the
    * accident_id tiebreak decides membership; the six factor weights are
    * exact 64ths, so every partial sum is an exactly-representable dyadic
    * and the averages are order-independent across engines.
    */
  private def breakdownPairs(s: SparkSession, dir: String): DataFrame =
    plantedK(s, dir, 120).select(
      expr("CAST(k DIV 20 + 1 AS BIGINT)").as("route_id"),
      (col("k") % 20 + 1).cast("long").as("accident_id"),
      ((lit(3) - col("k") % 3).cast("double") / 2.0).as("influence"),
      ((((col("k") * 3) % 32) + 2).cast("double") / 64.0).as("spatial_w"),
      ((((col("k") * 5) % 16) + 4).cast("double") / 64.0).as("temporal_w"),
      ((((col("k") * 7) % 32) + 1).cast("double") / 64.0).as("elevation_w"),
      ((((col("k") * 9) % 16) + 8).cast("double") / 64.0).as("route_type_w"),
      ((((col("k") * 11) % 32) + 3).cast("double") / 64.0).as("severity_w"),
      ((((col("k") * 13) % 16) + 6).cast("double") / 64.0).as("grade_w"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // --- A8 through the REAL entry: severity-cased scoring, strict <50 km
    // SLC gate, month grouping over planted accidents hitting every arm ---
    "k27_seasonal_patterns" -> ((s, dir) => {
      graft.analytics.Analytics.seasonalPatterns(
        seasonalAccidents(s, dir), lit(40.5), lit(-105.0))
    }),

    // --- A9 monthly through the REAL entry: boulder exclusion, phantom-
    // null-month drop, 0-accident months, rate per 1000 ------------------
    "k28_ascent_analytics" -> ((s, dir) => {
      graft.analytics.Analytics.ascentAnalytics(
        ascentTicks(s, dir), ascentAccidents(s, dir))
    }),

    // --- A9 summary: totals (date-unfiltered), overall rate, best/worst/
    // peak month under the reference's first-of-ties rule (months 9-12
    // tie at rate 0.0 — best_month must be 9, not an arbitrary winner) ---
    "k28b_ascent_summary" -> ((s, dir) => {
      graft.analytics.Analytics.ascentSummary(
        ascentTicks(s, dir), ascentAccidents(s, dir))
    }),

    // --- A13 through the REAL entry: top-10 by influence with the
    // accident_id tiebreak straddling the boundary, per-factor averages,
    // shares normalized to 100% ------------------------------------------
    "k29_risk_breakdown" -> ((s, dir) => {
      graft.analytics.Analytics.riskBreakdown(breakdownPairs(s, dir), topN = 10)
        .orderBy("route_id")
    }),

    // --- F11 through the REAL UDF: the full grade-parse cascade (YDS
    // lookup, +/- modifiers, slash averaging, V/VB, WI/AI/M, A/C, bare
    // fallback, whitespace/case/null/garbage) over planted inputs; the
    // oracle SQL is GENERATED — its lookup VALUES come from the same
    // YdsGrades map the UDF reads ---------------------------------------
    "k26_grade_parse" -> ((s, dir) => {
      val arms = GradeArms
      Tables.supplier(s, dir).select(col("s_suppkey").as("id"),
          arms.zipWithIndex.foldLeft(when(lit(false), lit(""))) {
            case (acc, (t, i)) =>
              acc.when(col("s_suppkey") % arms.size === i,
                Option(t).map(lit).getOrElse(lit(null).cast("string")))
          }.as("grade"))
        .select(col("id"), col("grade"),
          round(graft.expr.GradeParser.parseGrade(col("grade")), 4).as("difficulty"))
        .orderBy("id")
    }),

    // --- W2+F22+J5 through the proximity listing: spherical-law-of-cosines
    // distance gate, exp impact score, fuzzy same-route containment with
    // the null/empty guards, dist-asc/date-desc-nulls-last order, and a
    // BINDING limit. Coordinates depend on s_suppkey % 40, so keys 40
    // apart tie on distance and the date-desc-nulls-last tiebreak decides
    // who crosses the LIMIT boundary; a tie group can hold several NULL
    // dates (keys 6, 126 and 606 at sf0.1), so accident_id ASC is the last
    // key and the order is total --------------------------------------
    "k25_accident_proximity" -> ((s, dir) => {
      import graft.analytics.Analytics
      val acc = Tables.supplier(s, dir).select(
        col("s_suppkey").as("accident_id"),
        when(col("s_suppkey") % 13 === 0, lit(null).cast("double"))
          .otherwise(lit(40.0) + ((col("s_suppkey") % 40) * 7 % 200) / 100.0).as("latitude"),
        when(col("s_suppkey") % 17 === 0, lit(null).cast("double"))
          .otherwise(lit(-105.5) + ((col("s_suppkey") % 40) * 11 % 300) / 100.0).as("longitude"),
        when(col("s_suppkey") % 6 === 0, lit(null).cast("date"))
          .otherwise(date_add(to_date(lit("2023-01-01")),
            ((col("s_suppkey") * 3) % 700).cast("int"))).as("date"),
        when(col("s_suppkey") % 10 === 0, lit(null).cast("string"))
          .when(col("s_suppkey") % 10 === 1, "")
          .when(col("s_suppkey") % 10 === 2, "The Great Route")
          .when(col("s_suppkey") % 10 === 3, "great route")
          .when(col("s_suppkey") % 10 === 4, "  GREAT ROUTE  ")
          .otherwise(concat(lit("route "), (col("s_suppkey") % 37).cast("string")))
          .as("route"))
      Analytics.accidentProximity(acc, lit(40.5), lit(-105.0), lit("Great Route"),
          limit = 15)
        .select(col("accident_id"), round(col("distance_km"), 6).as("dist_km"),
          col("impact_score"), col("same_route"),
          date_format(col("date"), "yyyy-MM-dd").as("acc_date"))
    }),

    // --- F23+F24+F14+P10 through the serving helpers: 50 suppliers x 24
    // derived forecast hours exercising every adjustment arm (temp bands,
    // precip tiers, wind/gust, visibility, clamp), the named-parts /
    // fallback summary, the full normalization mapping incl. trim/case/
    // null/empty/unknown, and the boulder-exclusion predicate ------------
    "k24_hourly_serving" -> ((s, dir) => {
      import graft.analytics.Analytics
      val rawTypeArms = Seq("YDS", "Traditional", "sport climb", "Bouldering",
        "ICE CLIMB", "ice climbing", "Alpine Climb", "mountaineering",
        "aid climb", "big wall", "snow", "rock", "toprope", "  Sport  ",
        null, "", "weird thing")
      val base = Tables.supplier(s, dir).where(col("s_suppkey") <= 50)
        .select(col("s_suppkey").as("ak"))
        .select(col("ak"), explode(sequence(lit(0), lit(23))).as("hour"))
        .withColumn("temp",
          when(col("ak") % 9 === 0 && col("hour") % 5 === 0, lit(null).cast("double"))
            .otherwise(((col("ak") * 13 + col("hour") * 7) % 56 - 20).cast("double")))
        .withColumn("precip",
          when(col("ak") % 7 === 0 && col("hour") % 3 === 0, lit(null).cast("double"))
            .otherwise(((col("ak") * 11 + col("hour")) % 12).cast("double") * 0.6))
        .withColumn("wind",
          when(col("ak") % 8 === 3, lit(null).cast("double"))
            .otherwise(((col("ak") * 5 + col("hour") * 3) % 22).cast("double")))
        .withColumn("gust",
          when(col("hour") % 4 === 0 && col("wind").isNotNull, col("wind") + 6.0)
            .otherwise(lit(null).cast("double")))
        .withColumn("visibility",
          when(col("hour") % 6 === 0, 400.0).when(col("hour") % 6 === 1, 3000.0)
            .when(col("hour") % 6 === 2, lit(null).cast("double")).otherwise(9000.0))
        .withColumn("base_risk", (col("ak") % 80).cast("double"))
        .withColumn("raw_type",
          rawTypeArms.zipWithIndex.foldLeft(when(lit(false), lit(""))) {
            case (acc, (t, i)) =>
              acc.when((col("ak") + col("hour")) % 17 === i,
                Option(t).map(lit).getOrElse(lit(null).cast("string")))
          })
      Analytics.conditionsSummary(Analytics.hourlyRisk(base, col("base_risk")))
        .select(col("ak"), col("hour"), col("risk_score"), col("is_daylight"),
          col("is_climbable"), col("conditions_summary"),
          Analytics.normalizeRouteType(col("raw_type")).as("canon_type"),
          (!lower(coalesce(col("raw_type"), lit("")))
            .isin("boulder", "bouldering")).as("kept_p10"))
        .orderBy("ak", "hour")
    }),

    // --- J7+P3+P4+S3 through the REAL serving entry: mapWithSafety over
    // derived routes/locations/scores. Winter season keeps ice|mixed
    // (P3 live), two planted blacklist names drop rows (P4 live, null
    // names pass), %9 rows inherit coordinates from the parent location
    // (S3 coalesce live), and the left score join counts per type --------
    "k23_map_serving" -> ((s, dir) => {
      val routes = Derived.routes(s, dir).select(
        col("route_id").as("mp_route_id"),
        when(col("route_id") % 9 === 0, lit(null).cast("double"))
          .otherwise(col("lat")).as("latitude"),
        when(col("route_id") % 9 === 0, lit(null).cast("double"))
          .otherwise(col("lon")).as("longitude"),
        col("route_type").as("type"),
        when(col("route_id") % 11 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("route-"), (col("route_id") % 50).cast("string")))
          .as("name"),
        (col("route_id") % 150 + 1).as("location_id"))
      val locations = Derived.locations(s, dir)
        .select(col("location_id").as("mp_id"), col("loc_lat"), col("loc_lon"))
      val scores = Derived.routes(s, dir).where(col("route_id") % 3 === 0)
        .select(col("route_id").as("mp_route_id"),
          ((col("route_id") % 100) / 10.0).as("risk_score"))
      graft.analytics.Analytics.mapWithSafety(
          routes, locations, scores, "winter", Seq("route-7", "route-13"))
        .groupBy("type")
        .agg(count(lit(1)).as("n"),
          coalesce(sum(when(col("risk_score").isNotNull, 1L)), lit(0L)).as("n_scored"),
          (coalesce(sum(round(col("eff_lat") * 100).cast("long")), lit(0L))
            .cast("double") / 100.0).as("sum_lat"))
        .orderBy("type")
    }),

    // F13: route-type inference rule cascade over derived free text.
    "k15_type_inference" -> ((s, dir) => {
      inferenceInputs(s, dir)
        .select(col("accident_id"), col("tags"), col("activity"), col("accident_type"),
          graft.expr.RouteTypeExprs.inferFromAccident(
            col("activity"), col("accident_type"), col("tags")).as("inferred_type"))
        .orderBy("accident_id")
    }),

    // F13 confidence variant: same cascade returning the inference
    // confidence (route_type_mapper.py:168-241).
    "k17_type_confidence" -> ((s, dir) => {
      inferenceInputs(s, dir)
        .select(col("accident_id"),
          graft.expr.RouteTypeExprs.inferFromAccident(
            col("activity"), col("accident_type"), col("tags")).as("inferred_type"),
          graft.expr.RouteTypeExprs.inferenceConfidence(
            col("activity"), col("accident_type"), col("tags")).as("confidence"))
        .orderBy("accident_id")
    }),

    // P6: keep accident if close (≤50km) OR strict type match (rtw ≥ 0.85).
    "k11_distance_gate" -> ((s, dir) => {
      val pairs = Derived.routes(s, dir).where(col("route_id") <= 200)
        .crossJoin(broadcast(Derived.accidents(s, dir)))
        .withColumn("dist_km",
          GeoExprs.haversineKm(col("lat"), col("lon"), col("a_lat"), col("a_lon")))
        .withColumn("rtw", WeightExprs.routeTypeWeight(col("route_type"), col("acc_type")))
      pairs
        .groupBy("route_id")
        .agg(
          sum(when(col("dist_km") <= 50.0 || col("rtw") >= 0.85, 1L).otherwise(0L))
            .as("n_kept"),
          count(lit(1)).as("n_total"))
        .orderBy("route_id")
    }),

    // J8: weather dedup by 0.01° bucket — derived key join shape.
    "k12_bucket_join" -> ((s, dir) => {
      Derived.accidents(s, dir)
        .groupBy(
          round(col("a_lat"), 2).as("b_lat"),
          round(col("a_lon"), 2).as("b_lon"))
        .agg(count(lit(1)).as("n_accidents"), min("accident_id").as("first_id"))
        .orderBy("b_lat", "b_lon")
    }),

    // S7: elevation lookup by rounded coords — fill null-elevation routes
    // from the known-elevation routes sharing the rounded grid cell.
    "k13_elev_lookup" -> ((s, dir) => {
      val routes = Derived.routes(s, dir)
      val lookup = routes.where(col("elev").isNotNull)
        .groupBy(
          round(col("lat"), 3).as("g_lat"),
          round(col("lon"), 3).as("g_lon"))
        .agg(min("elev").as("grid_elev"))
      routes.where(col("elev").isNull)
        .join(lookup,
          round(col("lat"), 3) === col("g_lat") &&
            round(col("lon"), 3) === col("g_lon"), "left")
        .select(col("route_id"), coalesce(col("grid_elev"), lit(-1.0)).as("filled_elev"))
        .orderBy("route_id")
    }),

    // A6: cyclic-month-weighted archive statistics per bucket (ref month 7).
    "w05_archive_stats" -> ((s, dir) => {
      WeatherStats.bucketStats(archive(s, dir), "v", refMonth = 7)
        .select(
          col("bucket"), col("n_samples"),
          round(col("w_mean"), 6).as("w_mean"),
          round(col("w_std"), 6).as("w_std"),
          col("valid"))
        .orderBy("bucket")
    }),

    // A6 volatility groups: per (bucket, month) mean/std/count.
    "w06_monthly_volatility" -> ((s, dir) => {
      WeatherStats.monthlyVolatility(archive(s, dir), "v")
        .select(
          col("bucket"), col("month"),
          round(col("m_mean"), 6).as("m_mean"),
          round(col("m_std"), 6).as("m_std"),
          col("n"))
        .orderBy("bucket", "month")
    }))

  /** Independently-written SQL mirror of the F13 cascade
    * (route_type_mapper.py:13-165 — including the faithful `roped`
    * substring behavior).
    */
  /** Shared derived-inputs CTEs for the F13 oracles (k15, k17). */
  private val inferenceInputCtes: String =
    """inp AS (
      |  SELECT s_suppkey AS accident_id,
      |         CASE (s_suppkey % 8) WHEN 0 THEN NULL
      |              WHEN 1 THEN 'Ice Climbing, Alpine'
      |              WHEN 2 THEN 'Sport Climbing, grade:5.12a'
      |              WHEN 3 THEN 'grade:5.9, Roped'
      |              WHEN 4 THEN 'Bouldering, V5'
      |              WHEN 5 THEN 'unroped solo'
      |              WHEN 6 THEN ''
      |              ELSE 'Mixed Climbing' END AS tags,
      |         CASE (s_suppkey % 5) WHEN 0 THEN 'Climbing'
      |              WHEN 1 THEN 'Backcountry Tourer'
      |              WHEN 2 THEN 'Hiker'
      |              WHEN 3 THEN NULL
      |              ELSE 'Mountaineer' END AS activity,
      |         CASE (s_suppkey % 6) WHEN 0 THEN 'fall'
      |              WHEN 1 THEN 'ice_climbing'
      |              WHEN 2 THEN 'avalanche'
      |              WHEN 3 THEN 'rockfall'
      |              WHEN 4 THEN NULL
      |              ELSE 'rappel' END AS accident_type
      |  FROM supplier),
      |lowered AS (
      |  SELECT *, lower(coalesce(tags, '')) AS t,
      |         lower(coalesce(accident_type, '')) AS at,
      |         lower(coalesce(activity, '')) AS act
      |  FROM inp)""".stripMargin

  /** The F13 type cascade as one SQL expression over `t`/`at`/`act`. */
  private val inferredTypeSql: String = {
    val high = (11 to 15).map(i => s"contains(t, '5.$i')").mkString(" OR ")
    val low = (1 to 10).map(i => s"contains(t, '5.$i')").mkString(" OR ")
    s"""coalesce(
       |    CASE WHEN contains(t, 'ice climbing') OR contains(t, 'ice climb') THEN 'ice'
       |         WHEN contains(t, 'mixed climbing') OR contains(t, 'mixed climb') THEN 'mixed'
       |         WHEN contains(t, 'alpine') OR contains(t, 'mountaineering') THEN 'alpine'
       |         WHEN contains(t, 'sport climbing') OR contains(t, 'sport climb') THEN 'sport'
       |         WHEN contains(t, 'trad') OR contains(t, 'traditional climbing') THEN 'trad'
       |         WHEN contains(t, 'aid climbing') OR contains(t, 'aid climb') THEN 'aid'
       |         WHEN contains(t, 'boulder') THEN 'boulder'
       |         WHEN contains(t, 'grade:') AND ($high) AND NOT contains(t, 'trad') THEN 'sport'
       |         WHEN contains(t, 'grade:') AND ($low) AND NOT contains(t, 'sport') THEN 'trad'
       |         WHEN contains(t, 'roped') THEN 'trad'
       |         WHEN contains(t, 'unroped') AND contains(t, 'solo') THEN 'alpine' END,
       |    CASE WHEN contains(at, 'ice_climbing') OR contains(at, 'ice') THEN 'ice'
       |         WHEN contains(at, 'avalanche') THEN 'alpine'
       |         WHEN contains(at, 'rockfall') THEN 'alpine'
       |         WHEN contains(at, 'roped_climbing') THEN 'trad'
       |         WHEN contains(at, 'rappel') THEN 'trad'
       |         WHEN contains(at, 'solo') THEN 'alpine' END,
       |    CASE WHEN contains(act, 'backcountry') THEN 'alpine'
       |         WHEN contains(act, 'climber') OR contains(act, 'climbing') THEN 'trad'
       |         WHEN contains(act, 'mountaineer') THEN 'alpine'
       |         WHEN contains(act, 'canyoneering') THEN 'trad'
       |         WHEN contains(act, 'ski') THEN 'alpine'
       |         WHEN contains(act, 'hiker') OR contains(act, 'motorist')
       |              OR contains(act, 'rescuer') OR contains(act, 'rider') THEN 'default' END,
       |    'default')""".stripMargin
  }

  private val inferenceOracle: String =
    s"""WITH $inferenceInputCtes
       |SELECT accident_id, tags, activity, accident_type,
       |  $inferredTypeSql AS inferred_type
       |FROM lowered
       |ORDER BY accident_id""".stripMargin

  /** F13 confidence cascade (route_type_mapper.py:168-241), independent SQL
    * mirror: explicit tags 0.95 → specific accident type 0.85/0.80 →
    * grade/roped tags 0.60 → generic non-empty accident type 0.50 →
    * activity 0.60/0.40 → 0.20.
    */
  private val confidenceOracle: String = {
    val explicit = Seq("ice climbing", "sport climbing", "trad", "alpine",
      "mountaineering", "mixed climbing", "aid climbing", "boulder")
      .map(x => s"contains(t, '$x')").mkString(" OR ")
    s"""WITH $inferenceInputCtes
       |SELECT accident_id,
       |  $inferredTypeSql AS inferred_type,
       |  CASE WHEN $explicit THEN 0.95
       |       WHEN contains(at, 'ice_climbing') OR contains(at, 'ice') THEN 0.85
       |       WHEN contains(at, 'avalanche') THEN 0.80
       |       WHEN contains(t, 'grade:') OR contains(t, 'roped') THEN 0.60
       |       WHEN at <> '' AND at <> 'unknown' THEN 0.50
       |       WHEN contains(act, 'backcountry') OR contains(act, 'mountaineer') THEN 0.60
       |       WHEN contains(act, 'climber') OR contains(act, 'climbing') THEN 0.40
       |       ELSE 0.20 END AS confidence
       |FROM lowered
       |ORDER BY accident_id""".stripMargin
  }


  /** k26's planted grade strings — every cascade arm live. */
  private val GradeArms: Seq[String] = Seq(null, "", "   ", "5.9", "5.10a",
    "5.11D", "5.12b+", "5.10c-", "5.10a/b", "5.9/10a", "5.15d", "V5", "vb",
    "V12+", "WI4", "AI2", "M8", "A3", "C2", "10a", "9", "garbage", "5.8+",
    " 5.7 ")

  /** GENERATED DuckDB twin of GradeParser.parse: the YDS VALUES list is
    * emitted from GradeParser.ydsTable, the regex arms mirror the Scala
    * cascade order, and every multiplier is CAST AS DOUBLE with the same
    * association as the Scala arithmetic; output rounded at 4 on both
    * sides to absorb ulp dust in the 0.4/1.2/1.4/0.6 products.
    */
  private def gradeParseOracle: String = {
    val ydsVals = graft.expr.GradeParser.ydsTable
      .map { case (k, v) => s"('$k', CAST($v AS DOUBLE))" }.mkString(", ")
    val armsCase = GradeArms.zipWithIndex.map { case (t, i) =>
      if (t == null) s"WHEN $i THEN NULL" else s"WHEN $i THEN '$t'"
    }.mkString(" ")
    def lk(x: String) = s"(SELECT v FROM ydsmap WHERE k = ($x))"
    // direct | '+'+0.25 | '-'-0.25 | slash-average — parseYds's order
    def parseYds(x: String): String = {
      val direct = lk(x)
      val plus = s"CASE WHEN ($x) LIKE '%+' THEN ${lk(s"substr($x, 1, length($x) - 1)")} + 0.25 END"
      val minus = s"CASE WHEN ($x) LIKE '%-' THEN ${lk(s"substr($x, 1, length($x) - 1)")} - 0.25 END"
      val first = s"split_part($x, '/', 1)"
      val suffix = s"split_part($x, '/', 2)"
      val fSimple = s"coalesce(${lk(first)}, " +
        s"CASE WHEN ($first) LIKE '%+' THEN ${lk(s"substr($first, 1, length($first) - 1)")} + 0.25 END, " +
        s"CASE WHEN ($first) LIKE '%-' THEN ${lk(s"substr($first, 1, length($first) - 1)")} - 0.25 END)"
      val sLk = lk(s"regexp_extract($first, '^(5\\.\\d+)', 1) || ($suffix)")
      val slash = s"CASE WHEN length($x) - length(replace($x, '/', '')) = 1 " +
        s"THEN (($fSimple) + ($sLk)) / 2 END"
      s"coalesce($direct, $plus, $minus, $slash)"
    }
    val yds = s"CASE WHEN lg LIKE '5.%' THEN ${parseYds("lg")} END"
    val v = "CASE WHEN ug LIKE 'V%' THEN coalesce(" +
      "CASE WHEN regexp_matches(ug, '^V\\d') THEN CAST(10.0 AS DOUBLE) + " +
      "CAST(regexp_extract(ug, '^V(\\d+)', 1) AS INT) * CAST(0.4 AS DOUBLE) END, " +
      "CASE WHEN ug = 'VB' THEN CAST(10.0 AS DOUBLE) - 0.5 END) END"
    val ice = "CASE WHEN ug LIKE 'WI%' OR ug LIKE 'AI%' OR ug LIKE 'M%' THEN coalesce(" +
      "CASE WHEN regexp_matches(ug, '^WI\\d') THEN CAST(6.0 AS DOUBLE) + " +
      "(CAST(regexp_extract(ug, '^WI(\\d+)', 1) AS INT) - 1) * CAST(1.2 AS DOUBLE) END, " +
      "CASE WHEN regexp_matches(ug, '^AI\\d') THEN CAST(7.0 AS DOUBLE) + " +
      "(CAST(regexp_extract(ug, '^AI(\\d+)', 1) AS INT) - 1) * CAST(1.4 AS DOUBLE) END, " +
      "CASE WHEN regexp_matches(ug, '^M\\d') THEN CAST(7.0 AS DOUBLE) + " +
      "(CAST(regexp_extract(ug, '^M(\\d+)', 1) AS INT) - 1) * CAST(0.6 AS DOUBLE) END) END"
    val aid = "CASE WHEN (ug LIKE 'A%' OR ug LIKE 'C%') AND length(t) >= 2 " +
      "AND substr(t, 2, 1) BETWEEN '0' AND '9' THEN coalesce(" +
      "CASE WHEN regexp_matches(ug, '^A\\d') THEN CAST(8.0 AS DOUBLE) + " +
      "CAST(regexp_extract(ug, '^A(\\d+)', 1) AS INT) * CAST(1.2 AS DOUBLE) END, " +
      "CASE WHEN regexp_matches(ug, '^C\\d') THEN CAST(8.0 AS DOUBLE) + " +
      "CAST(regexp_extract(ug, '^C(\\d+)', 1) AS INT) * CAST(1.2 AS DOUBLE) END) END"
    val fallback = parseYds("'5.' || lg")
    s"""WITH ydsmap(k, v) AS (VALUES $ydsVals),
       |inputs AS (SELECT s_suppkey AS id,
       |             CASE (s_suppkey % ${GradeArms.size}) $armsCase END AS grade
       |           FROM supplier),
       |t1 AS (SELECT id, grade, trim(grade) AS t,
       |              lower(trim(grade)) AS lg, upper(trim(grade)) AS ug
       |       FROM inputs)
       |SELECT id, grade,
       |  round(CASE WHEN t IS NULL OR t = '' THEN NULL
       |        ELSE coalesce($yds, $v, $ice, $aid, $fallback) END, 4) AS difficulty
       |FROM t1
       |ORDER BY id""".stripMargin
  }

  /** Shared DuckDB CTEs for the k28 fixtures — emitted once so monthly and
    * summary cannot drift.
    */
  private val ascentFixtureCtes: String =
    s"""tk AS (SELECT CAST(t.k AS INT) AS k FROM range(300) t(k)),
       |ticks AS (
       |  SELECT CASE WHEN k % 50 = 49 THEN NULL
       |              ELSE make_date(2023, (k % 12) + 1, (k % 27) + 1) END AS tick_date,
       |         CASE (k % 7) WHEN 0 THEN 'Sport' WHEN 1 THEN 'Trad'
       |              WHEN 2 THEN 'boulder' WHEN 3 THEN 'Bouldering'
       |              WHEN 4 THEN NULL WHEN 5 THEN 'Ice' ELSE 'Alpine' END AS type
       |  FROM tk),
       |ka AS (SELECT CAST(t.k AS INT) AS k FROM range(60) t(k)),
       |acc AS (
       |  SELECT CASE WHEN k % 20 = 19 THEN NULL
       |              ELSE make_date(2023, (k % 8) + 1, (k % 25) + 1) END AS dt
       |  FROM ka),
       |mt AS (SELECT CAST(EXTRACT(MONTH FROM tick_date) AS INT) AS month_num,
       |              CAST(count(*) AS BIGINT) AS n_ascents
       |       FROM ticks WHERE tick_date IS NOT NULL
       |         AND lower(coalesce(type, '')) NOT IN ('boulder', 'bouldering')
       |       GROUP BY 1),
       |ma AS (SELECT CAST(EXTRACT(MONTH FROM dt) AS INT) AS month_num,
       |              CAST(count(*) AS BIGINT) AS n_accidents
       |       FROM acc WHERE dt IS NOT NULL GROUP BY 1),
       |monthly AS (
       |  SELECT mt.month_num, mt.n_ascents,
       |         CAST(coalesce(ma.n_accidents, 0) AS BIGINT) AS n_accidents,
       |         round(coalesce(ma.n_accidents, 0) * 1000.0 / mt.n_ascents, 2)
       |           AS accidents_per_1k_ascents
       |  FROM mt LEFT JOIN ma USING (month_num))""".stripMargin

  /** k29's six factor formulas, shared between the fixture CTE emitters. */
  private val breakdownFactors: Seq[(String, String)] = Seq(
    "spatial_w" -> "CAST(((k * 3) % 32) + 2 AS DOUBLE) / 64.0",
    "temporal_w" -> "CAST(((k * 5) % 16) + 4 AS DOUBLE) / 64.0",
    "elevation_w" -> "CAST(((k * 7) % 32) + 1 AS DOUBLE) / 64.0",
    "route_type_w" -> "CAST(((k * 9) % 16) + 8 AS DOUBLE) / 64.0",
    "severity_w" -> "CAST(((k * 11) % 32) + 3 AS DOUBLE) / 64.0",
    "grade_w" -> "CAST(((k * 13) % 16) + 6 AS DOUBLE) / 64.0")

  val oracles: Map[String, String] = Map(
    "k27_seasonal_patterns" -> {
      val c = "cos(radians(40.5)) * cos(radians(latitude)) * " +
        "cos(radians(longitude) - radians(-105.0)) + " +
        "sin(radians(40.5)) * sin(radians(latitude))"
      s"""WITH t AS (SELECT CAST(t.k AS INT) AS k FROM range(240) t(k)),
         |a0 AS (
         |  SELECT k,
         |    CASE (k % 9) WHEN 0 THEN 'Fatal fall' WHEN 1 THEN 'death on descent'
         |         WHEN 2 THEN 'SERIOUS injury' WHEN 3 THEN 'severe trauma'
         |         WHEN 4 THEN 'Moderate bruising' WHEN 5 THEN 'minor scrape'
         |         WHEN 6 THEN 'light sprain' WHEN 7 THEN 'rockfall'
         |         ELSE NULL END AS injury_severity,
         |    CASE WHEN k % 40 = 37 THEN NULL
         |         ELSE make_date(2023, (k % 12) + 1, ((k * 7) % 28) + 1) END AS dt,
         |    CASE WHEN k % 29 = 5 THEN NULL
         |         WHEN k % 5 = 0 THEN 47.0
         |         ELSE 40.5 + (((k * 3) % 40) - 20) / 100.0 END AS latitude,
         |    CASE WHEN k % 31 = 8 THEN NULL
         |         ELSE -105.0 + (((k * 11) % 50) - 25) / 100.0 END AS longitude
         |  FROM t),
         |f AS (
         |  SELECT *,
         |    CASE WHEN contains(lower(injury_severity), 'fatal')
         |              OR contains(lower(injury_severity), 'death') THEN 100
         |         WHEN contains(lower(injury_severity), 'serious')
         |              OR contains(lower(injury_severity), 'severe') THEN 80
         |         WHEN contains(lower(injury_severity), 'moderate') THEN 60
         |         WHEN contains(lower(injury_severity), 'minor')
         |              OR contains(lower(injury_severity), 'light') THEN 40
         |         ELSE 30 END AS score
         |  FROM a0
         |  WHERE dt IS NOT NULL AND latitude IS NOT NULL AND longitude IS NOT NULL
         |    AND 6371.0 * acos(least(greatest($c, -1.0), 1.0)) < 50)
         |SELECT CAST(EXTRACT(MONTH FROM dt) AS INT) AS month_num,
         |       CAST(count(*) AS BIGINT) AS accident_count,
         |       round(avg(score), 1) AS avg_risk_score
         |FROM f GROUP BY 1 ORDER BY month_num""".stripMargin
    },
    "k28_ascent_analytics" ->
      s"""WITH $ascentFixtureCtes
         |SELECT month_num, n_ascents, n_accidents, accidents_per_1k_ascents
         |FROM monthly ORDER BY month_num""".stripMargin,
    "k28b_ascent_summary" ->
      s"""WITH $ascentFixtureCtes,
         |best AS (SELECT month_num FROM monthly
         |         ORDER BY accidents_per_1k_ascents ASC, month_num ASC LIMIT 1),
         |worst AS (SELECT month_num FROM monthly
         |          ORDER BY accidents_per_1k_ascents DESC, month_num ASC LIMIT 1),
         |peak AS (SELECT month_num FROM monthly
         |         ORDER BY n_ascents DESC, month_num ASC LIMIT 1),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS total_ascents FROM ticks
         |        WHERE lower(coalesce(type, '')) NOT IN ('boulder', 'bouldering')),
         |ta AS (SELECT CAST(count(*) AS BIGINT) AS total_accidents FROM acc)
         |SELECT tot.total_ascents, ta.total_accidents,
         |  CASE WHEN tot.total_ascents > 0
         |       THEN round(ta.total_accidents * 1000.0 / tot.total_ascents, 2)
         |       ELSE 0.0 END AS overall_rate,
         |  best.month_num AS best_month, worst.month_num AS worst_month,
         |  peak.month_num AS peak_month,
         |  tot.total_ascents > 0 AS has_data
         |FROM tot, ta, best, worst, peak""".stripMargin,
    "k29_risk_breakdown" -> {
      val factorCols = breakdownFactors
        .map { case (n, f) => s"    $f AS $n" }.mkString(",\n")
      val avgCols = breakdownFactors
        .map { case (n, _) => s"avg($n) AS avg_$n" }.mkString(", ")
      val total = breakdownFactors.map { case (n, _) => s"avg_$n" }.mkString(" + ")
      val shareCols = breakdownFactors
        .map { case (n, _) => s"  round(avg_$n / ($total) * 100, 1) AS share_$n" }
        .mkString(",\n")
      s"""WITH t AS (SELECT CAST(t.k AS INT) AS k FROM range(120) t(k)),
         |p AS (
         |  SELECT CAST(k // 20 + 1 AS BIGINT) AS route_id,
         |    CAST(k % 20 + 1 AS BIGINT) AS accident_id,
         |    CAST(3 - (k % 3) AS DOUBLE) / 2.0 AS influence,
         |$factorCols
         |  FROM t),
         |r AS (SELECT p.*, row_number() OVER (PARTITION BY route_id
         |        ORDER BY influence DESC, accident_id ASC) AS rn FROM p),
         |a AS (SELECT route_id, $avgCols FROM r WHERE rn <= 10 GROUP BY route_id)
         |SELECT route_id, ${breakdownFactors.map { case (n, _) => s"avg_$n" }.mkString(", ")},
         |$shareCols
         |FROM a ORDER BY route_id""".stripMargin
    },
    "k26_grade_parse" -> gradeParseOracle,
    "k25_accident_proximity" -> {
      val c = "cos(radians(40.5)) * cos(radians(latitude)) * " +
        "cos(radians(longitude) - radians(-105.0)) + " +
        "sin(radians(40.5)) * sin(radians(latitude))"
      s"""WITH acc AS (
         |  SELECT s_suppkey AS accident_id,
         |    CASE WHEN s_suppkey % 13 = 0 THEN NULL
         |         ELSE 40.0 + (((s_suppkey % 40) * 7) % 200) / 100.0 END AS latitude,
         |    CASE WHEN s_suppkey % 17 = 0 THEN NULL
         |         ELSE -105.5 + (((s_suppkey % 40) * 11) % 300) / 100.0 END AS longitude,
         |    CASE WHEN s_suppkey % 6 = 0 THEN NULL
         |         ELSE DATE '2023-01-01' + CAST((s_suppkey * 3) % 700 AS INT) END AS dt,
         |    CASE (s_suppkey % 10) WHEN 0 THEN NULL WHEN 1 THEN ''
         |         WHEN 2 THEN 'The Great Route' WHEN 3 THEN 'great route'
         |         WHEN 4 THEN '  GREAT ROUTE  '
         |         ELSE 'route ' || CAST(s_suppkey % 37 AS VARCHAR) END AS route
         |  FROM supplier),
         |d AS (
         |  SELECT acc.*, 6371.0 * acos(least(greatest($c, -1.0), 1.0)) AS distance_km
         |  FROM acc WHERE latitude IS NOT NULL AND longitude IS NOT NULL),
         |f AS (
         |  SELECT d.*, lower(trim(route)) AS a FROM d WHERE distance_km < 50),
         |scored AS (
         |  SELECT accident_id, distance_km,
         |    round(100.0 * exp(-distance_km / 10), 1) AS impact_score,
         |    CASE WHEN route IS NULL OR a = '' THEN FALSE
         |         ELSE a = 'great route' OR contains(a, 'great route')
         |              OR contains('great route', a) END AS same_route,
         |    dt
         |  FROM f
         |  ORDER BY distance_km ASC, dt DESC NULLS LAST, accident_id ASC
         |  LIMIT 15)
         |SELECT accident_id, round(distance_km, 6) AS dist_km, impact_score,
         |       same_route, strftime(dt, '%Y-%m-%d') AS acc_date
         |FROM scored
         |ORDER BY distance_km ASC, dt DESC NULLS LAST, accident_id ASC""".stripMargin
    },
    "k24_hourly_serving" -> {
      val rawCase = Seq("YDS", "Traditional", "sport climb", "Bouldering",
        "ICE CLIMB", "ice climbing", "Alpine Climb", "mountaineering",
        "aid climb", "big wall", "snow", "rock", "toprope", "  Sport  ",
        null, "", "weird thing").zipWithIndex.map { case (t, i) =>
          if (t == null) s"WHEN $i THEN NULL" else s"WHEN $i THEN '$t'"
        }.mkString(" ")
      val canon = Seq("alpine", "ice", "mixed", "trad", "sport", "aid", "boulder")
        .map(t => s"'$t'").mkString(", ")
      val mapCase = Seq(
        "yds" -> "trad", "traditional" -> "trad", "trad climb" -> "trad",
        "sport climb" -> "sport", "bouldering" -> "boulder",
        "ice climb" -> "ice", "ice climbing" -> "ice",
        "alpine climb" -> "alpine", "mountaineering" -> "alpine",
        "aid climb" -> "aid", "big wall" -> "aid", "snow" -> "alpine",
        "rock" -> "trad", "toprope" -> "sport")
        .map { case (k, v) => s"WHEN t = '$k' THEN '$v'" }.mkString(" ")
      s"""WITH h0 AS (
         |  SELECT s_suppkey AS ak, CAST(t.h AS INT) AS hour
         |  FROM supplier CROSS JOIN range(24) t(h) WHERE s_suppkey <= 50),
         |f AS (
         |  SELECT ak, hour,
         |    CASE WHEN ak % 9 = 0 AND hour % 5 = 0 THEN NULL
         |         ELSE CAST(((ak * 13 + hour * 7) % 56) - 20 AS DOUBLE) END AS temp,
         |    CASE WHEN ak % 7 = 0 AND hour % 3 = 0 THEN NULL
         |         ELSE CAST((ak * 11 + hour) % 12 AS DOUBLE) * 0.6 END AS precip,
         |    CASE WHEN ak % 8 = 3 THEN NULL
         |         ELSE CAST((ak * 5 + hour * 3) % 22 AS DOUBLE) END AS wind,
         |    CAST(ak % 80 AS DOUBLE) AS base_risk,
         |    CASE ((ak + hour) % 17) $rawCase END AS raw_type,
         |    CASE WHEN hour % 6 = 0 THEN 400.0 WHEN hour % 6 = 1 THEN 3000.0
         |         WHEN hour % 6 = 2 THEN NULL ELSE 9000.0 END AS visibility
         |  FROM h0),
         |g AS (SELECT f.*,
         |        CASE WHEN hour % 4 = 0 AND wind IS NOT NULL THEN wind + 6.0 END AS gust
         |      FROM f),
         |adj AS (
         |  SELECT g.*,
         |    (CASE WHEN temp IS NULL THEN 0.0 WHEN temp < -15 THEN 15.0
         |          WHEN temp < -5 THEN 8.0 WHEN temp > 30 THEN 5.0 ELSE 0.0 END) +
         |    (CASE WHEN precip IS NULL THEN 0.0 WHEN precip > 5 THEN 20.0
         |          WHEN precip > 1 THEN 10.0 WHEN precip > 0.2 THEN 3.0 ELSE 0.0 END) +
         |    (CASE WHEN gust IS NOT NULL AND gust > 20 THEN 15.0
         |          WHEN wind IS NULL THEN 0.0 WHEN wind > 15 THEN 10.0
         |          WHEN wind > 10 THEN 5.0 ELSE 0.0 END) +
         |    (CASE WHEN visibility IS NOT NULL AND visibility < 1000 THEN 10.0
         |          WHEN visibility IS NOT NULL AND visibility < 5000 THEN 5.0
         |          ELSE 0.0 END) AS total_adj
         |  FROM g),
         |scored AS (
         |  SELECT adj.*,
         |    round(least(greatest(base_risk + total_adj, 0.0), 100.0), 1) AS risk_score,
         |    hour BETWEEN 6 AND 18 AS is_daylight
         |  FROM adj),
         |parts AS (
         |  SELECT scored.*,
         |    CASE WHEN temp IS NOT NULL AND temp < -10 THEN 'Very Cold' END AS p1,
         |    CASE WHEN temp IS NOT NULL AND temp > 25 THEN 'Hot' END AS p2,
         |    CASE WHEN precip IS NOT NULL AND precip > 1 THEN 'Rain/Snow' END AS p3,
         |    CASE WHEN wind IS NOT NULL AND wind > 10 THEN 'Windy' END AS p4,
         |    CASE WHEN visibility IS NOT NULL AND visibility < 5000 THEN 'Low Visibility' END AS p5
         |  FROM scored),
         |norm AS (
         |  SELECT parts.*, lower(trim(raw_type)) AS t FROM parts)
         |SELECT ak, hour, risk_score, is_daylight,
         |  (risk_score < 70 AND (precip IS NULL OR precip < 5)
         |    AND (wind IS NULL OR wind < 20) AND (gust IS NULL OR gust < 20)
         |    AND is_daylight) AS is_climbable,
         |  CASE WHEN coalesce(p1, p2, p3, p4, p5) IS NOT NULL
         |       THEN concat_ws(', ', p1, p2, p3, p4, p5)
         |       WHEN risk_score < 30 THEN 'Good Conditions'
         |       WHEN risk_score < 50 THEN 'Moderate'
         |       ELSE 'Cautious' END AS conditions_summary,
         |  CASE WHEN raw_type IS NULL OR t = '' THEN 'trad'
         |       WHEN t IN ($canon) THEN t
         |       $mapCase
         |       ELSE 'trad' END AS canon_type,
         |  lower(coalesce(raw_type, '')) NOT IN ('boulder', 'bouldering') AS kept_p10
         |FROM norm
         |ORDER BY ak, hour""".stripMargin
    },
    "k23_map_serving" ->
      s"""WITH ${Sql.LocationsCte},
         |r0 AS (
         |  SELECT p_partkey AS mp_route_id,
         |         CASE WHEN p_partkey % 9 = 0 THEN NULL
         |              ELSE 35.0 + (p_partkey % 1000) / 100.0 END AS latitude,
         |         CASE WHEN p_partkey % 9 = 0 THEN NULL
         |              ELSE -120.0 + (p_partkey % 700) / 70.0 END AS longitude,
         |         ${Sql.typeCase("p_partkey % 8")} AS type,
         |         CASE WHEN p_partkey % 11 = 0 THEN NULL
         |              ELSE 'route-' || CAST(p_partkey % 50 AS VARCHAR) END AS name,
         |         p_partkey % 150 + 1 AS location_id
         |  FROM part),
         |scores AS (SELECT p_partkey AS mp_route_id, (p_partkey % 100) / 10.0 AS risk_score
         |           FROM part WHERE p_partkey % 3 = 0),
         |j AS (SELECT r0.*, coalesce(r0.latitude, l.loc_lat) AS eff_lat,
         |             coalesce(r0.longitude, l.loc_lon) AS eff_lon
         |      FROM r0 JOIN locations l ON r0.location_id = l.location_id),
         |f AS (SELECT * FROM j
         |      WHERE eff_lat IS NOT NULL AND eff_lon IS NOT NULL
         |        AND (contains(lower(coalesce(type, '')), 'ice')
         |             OR contains(lower(coalesce(type, '')), 'mixed'))
         |        AND lower(coalesce(name, '')) NOT IN ('route-7', 'route-13')),
         |g AS (SELECT f.type, f.eff_lat, s.risk_score
         |      FROM f LEFT JOIN scores s ON s.mp_route_id = f.mp_route_id)
         |SELECT type, CAST(count(*) AS BIGINT) AS n,
         |       CAST(coalesce(sum(CASE WHEN risk_score IS NOT NULL THEN 1 END), 0) AS BIGINT) AS n_scored,
         |       CAST(coalesce(sum(CAST(round(eff_lat * 100) AS BIGINT)), 0) AS DOUBLE) / 100.0 AS sum_lat
         |FROM g GROUP BY type ORDER BY type""".stripMargin,
    "k15_type_inference" -> inferenceOracle,
    "k17_type_confidence" -> confidenceOracle,
    "k11_distance_gate" -> {
      val dist = Sql.haversine("lat", "lon", "a_lat", "a_lon")
      val rtw = Sql.routeTypeWeight("route_type", "acc_type")
      s"""WITH ${Sql.RoutesCte},
         |${Sql.AccidentsCte}
         |SELECT route_id,
         |       CAST(count(*) FILTER (WHERE ($dist) <= 50.0 OR ($rtw) >= 0.85) AS BIGINT)
         |         AS n_kept,
         |       count(*) AS n_total
         |FROM routes CROSS JOIN accidents
         |WHERE route_id <= 200
         |GROUP BY route_id
         |ORDER BY route_id""".stripMargin
    },

    "k12_bucket_join" ->
      s"""WITH ${Sql.AccidentsCte}
         |SELECT round(a_lat, 2) AS b_lat, round(a_lon, 2) AS b_lon,
         |       count(*) AS n_accidents, min(accident_id) AS first_id
         |FROM accidents
         |GROUP BY 1, 2
         |ORDER BY b_lat, b_lon""".stripMargin,

    "k13_elev_lookup" ->
      s"""WITH ${Sql.RoutesCte},
         |lookup AS (
         |  SELECT round(lat, 3) AS g_lat, round(lon, 3) AS g_lon, min(elev) AS grid_elev
         |  FROM routes WHERE elev IS NOT NULL
         |  GROUP BY 1, 2)
         |SELECT route_id, coalesce(grid_elev, -1.0) AS filled_elev
         |FROM routes LEFT JOIN lookup
         |  ON round(lat, 3) = g_lat AND round(lon, 3) = g_lon
         |WHERE elev IS NULL
         |ORDER BY route_id""".stripMargin,

    "w05_archive_stats" -> {
      val w = s"exp(-CAST(least(abs(month - 7), 12 - abs(month - 7)) AS DOUBLE) / ${WeatherStats.MonthDecayScale})"
      s"""WITH $archiveSql,
         |agged AS (
         |  SELECT bucket, count(v) AS n_samples,
         |         sum(($w) * v) / (sum($w) FILTER (WHERE v IS NOT NULL)) AS w_mean,
         |         sum($w) FILTER (WHERE v IS NOT NULL) AS w_sum,
         |         sum(($w) * v * v) AS w_sq
         |  FROM archive GROUP BY bucket)
         |SELECT bucket, n_samples,
         |       round(w_mean, 6) AS w_mean,
         |       round(sqrt(greatest(w_sq / w_sum - w_mean * w_mean, 0.0)), 6) AS w_std,
         |       n_samples >= ${WeatherStats.MinSamples} AS valid
         |FROM agged
         |ORDER BY bucket""".stripMargin
    },

    "w06_monthly_volatility" ->
      s"""WITH $archiveSql
         |SELECT bucket, month,
         |       round(avg(v), 6) AS m_mean,
         |       round(stddev_pop(v), 6) AS m_std,
         |       count(*) AS n
         |FROM archive
         |GROUP BY bucket, month
         |ORDER BY bucket, month""".stripMargin)
}
