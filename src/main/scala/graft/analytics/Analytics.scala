package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expr.GeoExprs

/** Read-side analytics surface (SURVEY §2.4-2.5, §3.3 honorable mentions):
  * the reference's per-route endpoints re-expressed as composable DataFrame
  * functions. Each is a thin declarative plan over the kernel/primitive
  * operators — Catalyst handles pruning/pushdown; nothing here shuffles
  * more than its group-by keys.
  */
object Analytics {

  /** Spherical-law-of-cosines distance (km) — the proximity endpoints use
    * this `6371·acos(…)` form rather than haversine
    * (`backend/app/api/v1/mp_routes.py:838-851`).
    */
  def slcDistanceKm(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
    // clamp to [-1, 1]: at near-zero distances cos²+sin² lands 1+1ulp and
    // acos(>1) is NaN — which `where(dist < r)` silently treats as false,
    // dropping exactly the CLOSEST accidents from proximity listings.
    // NaN must BYPASS the clamp: greatest/least order NaN largest, so a NaN
    // coordinate (which passes isNotNull filters) would clamp to 1.0 and
    // claim distance 0 — promoting a garbage row to the TOP of every
    // proximity listing instead of sinking/dropping like the reference.
    val c = cos(radians(lat1)) * cos(radians(lat2)) * cos(radians(lon2) - radians(lon1)) +
      sin(radians(lat1)) * sin(radians(lat2))
    lit(GeoExprs.EarthRadiusKm) *
      acos(when(isnan(c), c).otherwise(least(greatest(c, lit(-1.0)), lit(1.0))))
  }

  /** F14: raw route type → canonical {alpine,ice,mixed,trad,sport,aid,
    * boulder}, default trad (`mp_routes.py:109-150`).
    */
  def normalizeRouteType(raw: Column): Column = {
    val t = lower(trim(raw))
    val canonical = Seq("alpine", "ice", "mixed", "trad", "sport", "aid", "boulder")
    val mapping = Seq(
      "yds" -> "trad", "traditional" -> "trad", "trad climb" -> "trad",
      "sport climb" -> "sport", "bouldering" -> "boulder",
      "ice climb" -> "ice", "ice climbing" -> "ice",
      "alpine climb" -> "alpine", "mountaineering" -> "alpine",
      "aid climb" -> "aid", "big wall" -> "aid", "snow" -> "alpine",
      "rock" -> "trad", "toprope" -> "sport")
    val mapped = mapping.foldLeft(when(t.isin(canonical: _*), t)) {
      case (acc, (k, v)) => acc.when(t === k, v)
    }
    when(raw.isNull || t === "", "trad").otherwise(coalesce(mapped, lit("trad")))
  }

  /** A8: monthly accident patterns within 50 km — severity-cased risk
    * scoring (fatal 100, serious 80, moderate 60, minor 40, else 30)
    * (`mp_routes.py:1150-1207`).
    */
  def seasonalPatterns(accidents: DataFrame, lat: Column, lon: Column): DataFrame = {
    val sev = lower(col("injury_severity"))
    val score = when(sev.contains("fatal") || sev.contains("death"), 100)
      .when(sev.contains("serious") || sev.contains("severe"), 80)
      .when(sev.contains("moderate"), 60)
      .when(sev.contains("minor") || sev.contains("light"), 40)
      .otherwise(30)
    accidents
      .where(col("date").isNotNull && col("latitude").isNotNull && col("longitude").isNotNull)
      .where(slcDistanceKm(lat, lon, col("latitude"), col("longitude")) < 50)
      .groupBy(month(col("date")).as("month_num"))
      .agg(
        count(lit(1)).as("accident_count"),
        round(avg(score), 1).as("avg_risk_score"))
      .orderBy("month_num")
  }

  /** W2+F22+J5: nearest accidents listing with impact score and fuzzy
    * same-route match (`mp_routes.py:832-890`).
    */
  def accidentProximity(accidents: DataFrame, lat: Column, lon: Column,
                        routeName: Column, limit: Int): DataFrame = {
    val dist = slcDistanceKm(lat, lon, col("latitude"), col("longitude"))
    val a = lower(trim(col("route")))
    val b = lower(trim(routeName))
    accidents
      .where(col("latitude").isNotNull && col("longitude").isNotNull)
      .withColumn("distance_km", dist)
      .where(col("distance_km") < 50)
      .withColumn("impact_score", round(lit(100.0) * exp(-col("distance_km") / 10), 1))
      // guard BOTH names (the reference's `if route_name` guard): a null
      // routeName would make the whole predicate NULL (not false), and an
      // empty string on either side matches everything via contains("")
      .withColumn("same_route",
        when(col("route").isNull || a === "" || b.isNull || b === "", false)
          .otherwise(a === b || a.contains(b) || b.contains(a)))
      // accident_id last: accidents tied on distance and date (a NULL date
      // included) must not cross the limit in an arbitrary order
      .orderBy(col("distance_km").asc, col("date").desc_nulls_last, col("accident_id").asc)
      .limit(limit)
  }

  /** A9: ascent analytics — monthly tick counts vs accident counts, rate
    * per 1000 ascents, boulder exclusion (P10) (`mp_routes.py:1660-1783`).
    */
  def ascentAnalytics(ticks: DataFrame, accidents: DataFrame): DataFrame = {
    val monthlyTicks = ticks
      .where(col("tick_date").isNotNull) // a null date must not form a phantom NULL month
      .where(!lower(coalesce(col("type"), lit(""))).isin("boulder", "bouldering"))
      .groupBy(month(col("tick_date")).as("month_num"))
      .agg(count(lit(1)).as("n_ascents"))
    val monthlyAccidents = accidents
      .where(col("date").isNotNull)
      .groupBy(month(col("date")).as("month_num"))
      .agg(count(lit(1)).as("n_accidents"))
    monthlyTicks.join(monthlyAccidents, Seq("month_num"), "left")
      .withColumn("n_accidents", coalesce(col("n_accidents"), lit(0L)))
      .withColumn("accidents_per_1k_ascents",
        round(col("n_accidents") * 1000.0 / col("n_ascents"), 2))
      .orderBy("month_num")
  }

  /** A9 summary companion: totals + best/worst/peak month over the monthly
    * ascent/accident table (`mp_routes.py:1744-1770`). The reference picks
    * best = lowest accident rate, worst = highest rate, peak = most
    * ascents with Python `min`/`max` over the month-ordered list — FIRST
    * of ties, i.e. the lowest month_num — mirrored here as a min over
    * (key, month_num) structs, an all-reduce with no shuffle beyond the
    * 12-row monthly input. Totals are date-unfiltered like the reference's
    * bare COUNT(*) queries (`mp_routes.py:1663-1699`), with the same
    * boulder exclusion the monthly path applies (P10).
    */
  def ascentSummary(ticks: DataFrame, accidents: DataFrame): DataFrame = {
    val monthly = ascentAnalytics(ticks, accidents)
    val totals = ticks
      .where(!lower(coalesce(col("type"), lit(""))).isin("boulder", "bouldering"))
      .agg(count(lit(1)).as("total_ascents"))
      .crossJoin(accidents.agg(count(lit(1)).as("total_accidents")))
    monthly.agg(
        min(struct(col("accidents_per_1k_ascents"), col("month_num")))
          .as("best"),
        min(struct(-col("accidents_per_1k_ascents"), col("month_num")))
          .as("worst"),
        min(struct(-col("n_ascents"), col("month_num"))).as("peak"))
      .select(col("best.month_num").as("best_month"),
        col("worst.month_num").as("worst_month"),
        col("peak.month_num").as("peak_month"))
      .crossJoin(totals)
      .select(col("total_ascents"), col("total_accidents"),
        when(col("total_ascents") > 0,
          round(col("total_accidents") * 1000.0 / col("total_ascents"), 2))
          .otherwise(0.0).as("overall_rate"),
        col("best_month"), col("worst_month"), col("peak_month"),
        (col("total_ascents") > 0).as("has_data"))
  }

  /** A10/W5: historical risk trend — avg/min/max over a stored series plus
    * first-7 vs last-7 trend label ±5 (`mp_routes.py:1581-1598`).
    */
  def historicalTrends(scores: DataFrame): DataFrame = {
    // input is one route's bounded stored series — constant partition key
    // keeps WindowExec off the unpartitioned-full-table path (no warning)
    val w = Window.partitionBy(graft.expr.WindowKeys.pinned(col("prediction_date")))
      .orderBy(col("prediction_date").asc)
    val wDesc = Window.partitionBy(graft.expr.WindowKeys.pinned(col("prediction_date")))
      .orderBy(col("prediction_date").desc)
    val indexed = scores
      .withColumn("rn_a", row_number().over(w))
      .withColumn("rn_d", row_number().over(wDesc))
    indexed.agg(
      round(avg("risk_score"), 1).as("avg_risk"),
      min("risk_score").as("min_risk"),
      max("risk_score").as("max_risk"),
      avg(when(col("rn_a") <= 7, col("risk_score"))).as("first7"),
      avg(when(col("rn_d") <= 7, col("risk_score"))).as("last7"))
      .withColumn("trend",
        when(col("last7") - col("first7") > 5, "increasing")
          .when(col("last7") - col("first7") < -5, "decreasing")
          .otherwise("stable"))
      .drop("first7", "last7")
  }

  /** A13: factor-contribution breakdown — average each weight over the
    * top-10 contributing accidents, normalize shares to 100%
    * (`mp_routes.py:1033-1057`).
    */
  def riskBreakdown(pairs: DataFrame, topN: Int = 10): DataFrame = {
    // accident_id tiebreak, like SafetyKernel.topContributors: with ties in
    // influence straddling rank topN, a bare influence sort picks arbitrary
    // winners per shuffle and the averages change run to run
    val w = Window.partitionBy("route_id")
      .orderBy(col("influence").desc, col("accident_id").asc)
    val top = pairs.withColumn("rank", row_number().over(w)).where(col("rank") <= topN)
    val factors = Seq("spatial_w", "temporal_w", "elevation_w",
      "route_type_w", "severity_w", "grade_w")
    val aggs = factors.map(f => avg(f).as(s"avg_$f"))
    val avgs = top.groupBy("route_id").agg(aggs.head, aggs.tail: _*)
    val total = factors.map(f => col(s"avg_$f")).reduce(_ + _)
    factors.foldLeft(avgs) { (df, f) =>
      df.withColumn(s"share_$f", round(col(s"avg_$f") / total * 100, 1))
    }
  }

  /** F23: hourly risk adjustment over an hourly forecast frame with columns
    * (hour, temp, precip, wind, gust, visibility) + base risk
    * (`mp_routes.py:1314-1375`).
    */
  def hourlyRisk(hourly: DataFrame, baseRisk: Column): DataFrame = {
    val tempAdj = when(col("temp").isNull, 0.0)
      .when(col("temp") < -15, 15.0).when(col("temp") < -5, 8.0)
      .when(col("temp") > 30, 5.0).otherwise(0.0)
    val precipAdj = when(col("precip").isNull, 0.0)
      .when(col("precip") > 5, 20.0).when(col("precip") > 1, 10.0)
      .when(col("precip") > 0.2, 3.0).otherwise(0.0)
    val windAdj = when(col("gust").isNotNull && col("gust") > 20, 15.0)
      .when(col("wind").isNull, 0.0)
      .when(col("wind") > 15, 10.0).when(col("wind") > 10, 5.0).otherwise(0.0)
    val visAdj = when(col("visibility").isNotNull && col("visibility") < 1000, 10.0)
      .when(col("visibility").isNotNull && col("visibility") < 5000, 5.0)
      .otherwise(0.0)
    val risk = least(greatest(baseRisk + tempAdj + precipAdj + windAdj + visAdj,
      lit(0.0)), lit(100.0))
    hourly
      .withColumn("risk_score", round(risk, 1))
      .withColumn("is_daylight", col("hour").between(6, 18))
      .withColumn("is_climbable",
        col("risk_score") < 70 &&
          (col("precip").isNull || col("precip") < 5) &&
          (col("wind").isNull || col("wind") < 20) &&
          (col("gust").isNull || col("gust") < 20) &&
          col("is_daylight")) // same window as the column above, by construction
  }

  /** F24: bucketed text conditions summary (`mp_routes.py:1348-1362`). */
  def conditionsSummary(df: DataFrame): DataFrame = {
    val parts = array(
      when(col("temp").isNotNull && col("temp") < -10, "Very Cold"),
      when(col("temp").isNotNull && col("temp") > 25, "Hot"),
      when(col("precip").isNotNull && col("precip") > 1, "Rain/Snow"),
      when(col("wind").isNotNull && col("wind") > 10, "Windy"),
      when(col("visibility").isNotNull && col("visibility") < 5000, "Low Visibility"))
    val named = filter(parts, x => x.isNotNull)
    val fallback = when(col("risk_score") < 30, "Good Conditions")
      .when(col("risk_score") < 50, "Moderate").otherwise("Cautious")
    df.withColumn("conditions_summary",
      when(size(named) > 0, concat_ws(", ", named)).otherwise(fallback))
  }

  /** W4: gaps-and-islands climbing-window segmentation — consecutive
    * climbable hours (≥2h) become windows ranked by average risk
    * (`mp_routes.py:1393-1421`).
    */
  def climbingWindows(hourly: DataFrame): DataFrame = {
    // ≤24 hourly rows — constant partition key, same single-partition plan
    val byHour = Window.partitionBy(graft.expr.WindowKeys.pinned(col("hour"))).orderBy("hour")
    val cum = Window.partitionBy(graft.expr.WindowKeys.pinned(col("hour"))).orderBy("hour")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hourly
      .withColumn("brk",
        when(lag("is_climbable", 1).over(byHour).isNull ||
          !lag("is_climbable", 1).over(byHour), 1L).otherwise(0L))
      .withColumn("island", sum("brk").over(cum))
      .where(col("is_climbable"))
      .groupBy("island")
      .agg(
        min("hour").as("start_hour"),
        max("hour").as("end_hour"),
        count(lit(1)).as("duration_hours"),
        round(avg("risk_score"), 1).as("avg_risk"))
      .where(col("duration_hours") >= 2)
      .orderBy(col("avg_risk").asc)
      .drop("island")
  }

  /** US state / country names that stop the breadcrumb walk
    * (`mp_routes.py:64-76`): the matching location and everything above it
    * are excluded from the path.
    */
  val StateStopNames: Set[String] = Set(
    "alabama", "alaska", "arizona", "arkansas", "california", "colorado",
    "connecticut", "delaware", "florida", "georgia", "hawaii", "idaho",
    "illinois", "indiana", "iowa", "kansas", "kentucky", "louisiana",
    "maine", "maryland", "massachusetts", "michigan", "minnesota",
    "mississippi", "missouri", "montana", "nebraska", "nevada",
    "new hampshire", "new jersey", "new mexico", "new york",
    "north carolina", "north dakota", "ohio", "oklahoma", "oregon",
    "pennsylvania", "rhode island", "south carolina", "south dakota",
    "tennessee", "texas", "utah", "vermont", "virginia", "washington",
    "west virginia", "wisconsin", "wyoming", "district of columbia",
    "united states", "usa", "canada", "mexico", "international")

  /** J4: location breadcrumb via iterative parent-pointer walk, ≤15 levels
    * (`mp_routes.py:49-106`), stopping at state/country names when
    * `excludeStates` (the reference default). Locations are small (≤45K in
    * the reference) — collected to a driver map; for larger hierarchies use
    * [[breadcrumbDistributed]].
    */
  def breadcrumb(locations: DataFrame, locationId: Long, maxLevels: Int = 15,
                 excludeStates: Boolean = true): Seq[String] = {
    val byId = locations.select("mp_id", "name", "parent_id").collect()
      .map(r => r.getLong(0) -> (r.getString(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .toMap
    val out = scala.collection.mutable.ListBuffer[String]()
    var cur: Option[Long] = Some(locationId)
    var level = 0
    while (cur.isDefined && level < maxLevels) {
      byId.get(cur.get) match {
        case Some((name, parent))
          if excludeStates && StateStopNames.contains(name.toLowerCase.trim) =>
          cur = None
        case Some((name, parent)) => out.prepend(name); cur = parent
        case None => cur = None
      }
      level += 1
    }
    out.toList
  }

  /** J4 at scale: iterative self-join producing the full ancestor path per
    * location — each iteration extends paths by one level; terminates when
    * no row changed or maxLevels reached.
    */
  def breadcrumbDistributed(locations: DataFrame, maxLevels: Int = 15,
                            excludeStates: Boolean = true): DataFrame = {
    // a START node that is itself a state yields the reference's empty path
    val ownStop =
      if (excludeStates) lower(trim(col("name"))).isInCollection(StateStopNames)
      else lit(false)
    val base = locations.select(
      col("mp_id"),
      when(ownStop, lit(null).cast("long")).otherwise(col("parent_id")).as("cursor"),
      when(ownStop, lit("")).otherwise(col("name")).as("path"))
    val parents = locations.select(
      col("mp_id").as("p_id"), col("parent_id").as("p_parent"), col("name").as("p_name"))
    // state/country stop (mp_routes.py:97-98): the matching ancestor is not
    // appended and the walk ends there (cursor → null)
    val isStop =
      if (excludeStates) lower(trim(col("p_name"))).isInCollection(StateStopNames)
      else lit(false)
    // the storage behind a localCheckpoint is only reclaimed when its RDD is
    // GC'd — at scale, letting up to 14 full copies of the frame pile up in
    // the block manager until some future GC is an OOM in waiting; free each
    // level explicitly once its successor is materialized (CheckpointUtil
    // owns the lookup contract)
    var current = base
    var level = 1 // the start node consumed level 1, like the driver twin
    // maxLevels counts NAMES INCLUDING the start (reference: `for _ in
    // range(max_depth)` appends one name per iteration, mp_routes.py:83) —
    // so at most maxLevels-1 ancestor extensions run here; without the -1
    // this twin walked one level deeper than breadcrumb()
    while (level < maxLevels &&
        !current.where(col("cursor").isNotNull).isEmpty) {
      val next = current.join(broadcast(parents), col("cursor") === col("p_id"), "left")
        .select(
          col("mp_id"),
          when(col("p_name").isNotNull && isStop, lit(null).cast("long"))
            .otherwise(col("p_parent")).as("cursor"),
          when(col("p_name").isNotNull && !isStop, concat(col("p_name"), lit(" > "), col("path")))
            .otherwise(col("path")).as("path"))
        .localCheckpoint() // eager: materialized before the predecessor is freed
      graft.plans.CheckpointUtil.release(current)
      current = next
      level += 1
    }
    current.select(col("mp_id"), col("path").as("breadcrumb"))
  }

  /** J7+P3+P4: bulk map serving — routes joined to locations (coordinates
    * inherited from the parent location when the route has none, S3) and
    * left-joined to the precomputed score partition, with season filter and
    * name blacklist (`mp_routes.py:372-517`). `locations` must be projected
    * to (mp_id, loc_lat, loc_lon); `scores` keyed by mp_route_id.
    */
  def mapWithSafety(routes: DataFrame, locations: DataFrame, scores: DataFrame,
                    season: String, blacklist: Seq[String]): DataFrame = {
    val t = lower(coalesce(col("type"), lit("")))
    val seasonFilter = season match {
      case "winter" => t.contains("ice") || t.contains("mixed")
      case "rock" => !t.contains("ice") && !t.contains("mixed") && t =!= "unknown"
      case _ => lit(true)
    }
    routes
      .join(broadcast(locations), col("location_id") === col("mp_id"), "inner")
      .withColumn("eff_lat", coalesce(col("latitude"), col("loc_lat")))
      .withColumn("eff_lon", coalesce(col("longitude"), col("loc_lon")))
      .where(col("eff_lat").isNotNull && col("eff_lon").isNotNull)
      .where(seasonFilter)
      // coalesce: the blacklist removes specific NAMED routes — a null name
      // must pass (isin over null is NULL, and !NULL would drop the row)
      .where(!lower(coalesce(col("name"), lit(""))).isin(blacklist.map(_.toLowerCase): _*))
      .join(scores, Seq("mp_route_id"), "left")
  }
}
