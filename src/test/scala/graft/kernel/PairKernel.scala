package graft.kernel

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expr.{GeoExprs, WeightExprs}

/** The influence kernel at the pair grain — the test tree's reference for
  * the per-route fold ([[RouteFold]]) that `SafetyKernel` runs.
  *
  * The conceptual routes × accidents cross join is planned literally: a
  * broadcast nested-loop join of the enriched routes with the enriched
  * accidents, then one Catalyst `select` per factor over the pair rows
  * (the WeightExprs bodies), then a hash aggregation on `route_id` and a
  * window rank for the top contributors. It shares only the Catalyst
  * enrichment with the fold; the per-pair arithmetic, the NULL handling,
  * the sums and the ranking are Spark's own, so a spec that compares the
  * fold with this object compares two independent evaluations.
  */
object PairKernel {

  import SafetyKernel.{CanonicalTypes, SignificanceFloor}

  /** Per-(route × accident) influence decomposition: the pair grain with
    * every factor as its own column. A route-side `wmult` amplifies the
    * weather factor per pair, `weatherFactor(wsim × wmult)`.
    */
  def pairInfluence(routes: DataFrame, accidents: DataFrame, planDate: Column): DataFrame =
    influenceColumns(
      SafetyKernel.enrichRoutes(graft.Partitioning.balanced(routes))
        .crossJoin(broadcast(enrichAccidents(accidents, planDate)))
        .withColumn("dist_km", GeoExprs.haversineKmHoisted(
          col("__coslat"), col("lat"), col("lon"), col("__a_coslat"), col("a_lat"), col("a_lon"))))

  /** Accident-side enrichment for one plan date: severity weight, type
    * index, season flag, weather factor and the per-type temporal slots.
    */
  private def enrichAccidents(accidents: DataFrame, planDate: Column): DataFrame =
    SafetyKernel.accidentScalars(accidents)
      .withColumn("__same_season", SafetyKernel.accidentSameSeason(planDate))
      .withColumn("__tw_arr", SafetyKernel.temporalSlots(planDate))

  /** The per-pair kernel over the joined frame. */
  private def influenceColumns(pairs: DataFrame): DataFrame = {
    val amplified = pairs.columns.contains("wmult")
    val baseWeight = element_at(col("__tw_arr"),
      when(col("__rt_idx") >= 0, col("__rt_idx") + 1)
        .otherwise(CanonicalTypes.size + 1).cast("int")) // default = last slot
    pairs
      .withColumn("spatial_w", WeightExprs.spatialKernel(col("dist_km"), col("__two_h2")))
      .withColumn("temporal_w", WeightExprs.seasonallyBoosted(col("__same_season"), baseWeight))
      .withColumn("elevation_w",
        WeightExprs.elevationBonus(col("elev"), col("a_elev"), col("__elev_c")))
      .withColumn("route_type_w",
        when(col("__rt_idx") >= 0 && col("__acc_idx") >= 0,
          element_at(array(PairMath.RouteTypeMatrix.toSeq.map(lit): _*),
            (col("__rt_idx") * 7 + col("__acc_idx") + 1).cast("int")))
          .otherwise(WeightExprs.DefaultRouteTypeWeight))
      .withColumn("severity_w", col("__sev_w"))
      .withColumn("grade_w", WeightExprs.gradeWeight(col("difficulty"), col("a_difficulty")))
      // the reference composition's multiplication order
      // (safety_algorithm.py:293-319), as in the DuckDB oracle SQL
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

  /** Pair influences → per-route risk. */
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

  /** Routes × accidents → per-route risk, the columns of `SafetyKernel.scoreRoutes`. */
  def scoreRoutes(routes: DataFrame, accidents: DataFrame, planDate: Column): DataFrame =
    scoreRoutes(pairInfluence(routes, accidents, planDate))

  /** Top-k contributing accidents per route: `influence` descending, then
    * `accident_id` ascending, ranked from 1.
    */
  def topContributors(pairs: DataFrame, k: Int = 50): DataFrame = {
    val w = Window.partitionBy("route_id")
      .orderBy(col("influence").desc, col("accident_id").asc)
    pairs
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }
}
