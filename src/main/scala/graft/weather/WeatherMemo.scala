package graft.weather

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bucket-grain weather-similarity MEMO table — the Spark twin of the
  * reference batch engine's per-bucket similarity cache
  * (`compute_weather_similarities_cached`,
  * `backend/app/tasks/safety_computation_optimized.py:516-568`): locations
  * in the same 0.01° weather bucket share identical current weather, so
  * their similarities against every accident are the same — the reference
  * memoizes `{bucket → {accident_id → similarity}}` in process memory and
  * clears it between dates.
  *
  * The relational form of that cache is a TABLE at (bucket, accident)
  * grain: compute once per distinct bucket, then fan back out to locations
  * with an equi-join. Similarity evaluations scale with
  * |buckets| × |accidents| instead of |locations| × |accidents| — at the
  * reference's production shape (45K locations, a few hundred active
  * weather buckets) that is the same ~100× saving the in-process dict
  * bought, but it survives distribution: the memo is tiny, broadcastable,
  * and each executor joins against it without any shared mutable state.
  */
object WeatherMemo {

  /** One row per (bucket, accident): the similarity of the bucket's
    * current-weather pattern against the accident's assembled 7-day
    * pattern. Accidents without a valid (≥5-day) pattern carry the
    * reference's neutral 0.5 (`safety_computation_optimized.py:552-554`).
    *
    * `currentFor(bucket)` supplies the bucket's current pattern (in the
    * reference this is the forecast service response for the bucket's
    * coordinates). `buckets` only needs the `bucketCol` column; extra
    * columns are dropped. Plan shape: distinct-bucket scan (tiny shuffle)
    * × broadcast accidents-with-patterns — no per-location work at all.
    */
  def similarityMemo(buckets: DataFrame, bucketCol: String,
                     accidents: DataFrame, weather: DataFrame,
                     currentFor: Column => Column): DataFrame = {
    val accPat = accidents.select(col("accident_id"))
      .join(WeatherAssembly.assemblePatterns(weather, accidents)
        .select(col("accident_id"), col("pattern")), Seq("accident_id"), "left")
    buckets.select(col(bucketCol)).distinct()
      .crossJoin(broadcast(accPat))
      // a bucket whose currentFor(bucket) is NULL carries the same
      // neutral 0.5 as a missing accident pattern
      .withColumn("wsim",
        WeatherAssembly.similarityOrNeutral(currentFor(col(bucketCol)), col("pattern")))
      .drop("pattern")
  }

  /** The cache HIT path: fan the memo back out to location grain with an
    * equi-join on the bucket key — per-(location, accident) similarities
    * with zero recomputation (broadcast the memo; it is |buckets| ×
    * |accidents| rows).
    */
  def attachToLocations(locations: DataFrame, memo: DataFrame,
                        bucketCol: String): DataFrame =
    locations.join(broadcast(memo), Seq(bucketCol))
}
