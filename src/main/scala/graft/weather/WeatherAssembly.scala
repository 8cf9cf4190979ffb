package graft.weather

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** 7-day weather-pattern ASSEMBLY from the `weather` rows table
  * (SURVEY S4/A2/J3) — the reference's single most-executed data-prep step
  * (`backend/app/api/v1/predict.py:536-615`, batch twin
  * `backend/app/tasks/safety_computation_optimized.py:469-510`):
  *
  *   1. equi-join weather rows to accidents on `accident_id`, keeping only
  *      rows in the 7-day window `a_date-6 … a_date` (J3 interval gate,
  *      predict.py:536-547);
  *   2. per-field defaults (predict.py:594-606) — note the reference uses
  *      Python `or`, so a field that is NULL **or exactly 0.0** takes the
  *      default (quirk reproduced faithfully): temperature 10.0 °C,
  *      precipitation 0.0 mm, wind 5.0 m/s, visibility 10000 m, cloud 50 %;
  *      `temperature_min`/`max` fall back to the *defaulted* avg;
  *   3. ordered assembly: `sort_array(collect_list(struct(date, …)))` —
  *      chronological, oldest first (predict.py:547 ORDER BY);
  *   4. ≥5-of-7-day validity (`algorithm_config.py:270`): accidents with
  *      fewer defaulted in-window rows get NO pattern — the kernel then
  *      uses the neutral 0.5 similarity (`safety_algorithm.py:265-269`).
  *
  * Spark shape: one shuffle-hash equi-join on `accident_id` (or broadcast
  * when the accident dim is small) + one hash aggregation on `accident_id`
  * whose `collect_list` payload is bounded at 7 structs per key — no skew
  * risk, scales linearly in weather rows at 100 TB.
  */
object WeatherAssembly {

  val WindowDays = 6 // a_date-6 … a_date inclusive → 7 calendar days
  val TempDefaultC = 10.0
  val PrecipDefaultMm = 0.0
  val WindDefaultMs = 5.0
  val VisibilityDefaultM = 10000.0
  val CloudDefaultPct = 50.0

  /** Python-`or` default: NULL *or falsy 0.0* → default
    * (predict.py:594-606 is `record.x or default`).
    */
  def defaultIfFalsy(c: Column, d: Column): Column =
    when(c.isNull || c === 0.0, d).otherwise(c)

  /** Steps 1-2: window-gated, per-field-defaulted rows — one row per
    * (accident, in-window day). `weather` needs the FIXTURES.md §2 schema;
    * `accidents` needs (accident_id, a_date).
    */
  def defaultedRecords(weather: DataFrame, accidents: DataFrame): DataFrame = {
    val tAvg = defaultIfFalsy(col("temperature_avg"), lit(TempDefaultC))
    weather
      .join(accidents.select(col("accident_id"), col("a_date")), Seq("accident_id"))
      .where(col("date") >= date_sub(col("a_date"), WindowDays) &&
        col("date") <= col("a_date"))
      .select(
        col("accident_id"), col("date"),
        tAvg.as("temperature"),
        defaultIfFalsy(col("precipitation_total"), lit(PrecipDefaultMm)).as("precipitation"),
        defaultIfFalsy(col("wind_speed_avg"), lit(WindDefaultMs)).as("wind_speed"),
        defaultIfFalsy(col("visibility_avg"), lit(VisibilityDefaultM)).as("visibility"),
        defaultIfFalsy(col("cloud_cover_avg"), lit(CloudDefaultPct)).as("cloud_cover"),
        // min/max fall back to the DEFAULTED avg (predict.py:603-605:
        // `record.temperature_min or record.temperature_avg or 10.0`)
        defaultIfFalsy(col("temperature_min"), tAvg).as("temp_min"),
        defaultIfFalsy(col("temperature_max"), tAvg).as("temp_max"))
  }

  /** Steps 3-4: per-accident ordered pattern struct (WeatherExprs.pattern
    * shape) for accidents passing the ≥5-day validity rule. Output:
    * (accident_id, pattern, n_days).
    */
  def assemblePatterns(weather: DataFrame, accidents: DataFrame): DataFrame = {
    def series(f: String): Column = transform(col("recs"), r => r.getField(f))
    defaultedRecords(weather, accidents)
      .groupBy("accident_id")
      .agg(sort_array(collect_list(struct(
        col("date"), col("temperature"), col("precipitation"), col("wind_speed"),
        col("visibility"), col("cloud_cover"), col("temp_min"), col("temp_max"))))
        .as("recs"))
      .where(size(col("recs")) >= WeatherExprs.MinWeatherDaysRequired)
      .select(
        col("accident_id"),
        WeatherExprs.pattern(
          series("temperature"), series("precipitation"), series("wind_speed"),
          series("visibility"), series("cloud_cover"),
          transform(col("recs"), r => struct(
            r.getField("temp_min").as("min"),
            r.getField("temperature").as("avg"),
            r.getField("temp_max").as("max")))).as("pattern"),
        size(col("recs")).as("n_days"))
  }

  /** End-to-end S4→A5: accidents + per-accident `wsim` vs `current`,
    * assembled from the weather rows table. Accidents without a valid
    * pattern get the reference's neutral 0.5
    * (`safety_algorithm.py:265-269`) — ready for SafetyKernel.scoreRoutes.
    */
  def accidentsWithSimilarity(accidents: DataFrame, weather: DataFrame,
                              current: Column): DataFrame = {
    val withPat = accidents
      .join(assemblePatterns(weather, accidents), Seq("accident_id"), "left")
    withPat
      .withColumn("wsim", similarityOrNeutral(current, col("pattern")))
      .drop("pattern", "n_days")
  }

  /** Similarity of `current` against an assembled `pattern`, with the
    * reference's neutral 0.5 for a missing pattern and — outer coalesce —
    * for a NULL similarity: a NULL CURRENT pattern (e.g. a left-joined
    * forecast frame with a missing bucket) makes the similarity NULL, and a
    * NULL wsim would null the influence and silently drop the accident from
    * the risk sum; the reference treats a missing forecast as the same
    * neutral 0.5 as a missing accident pattern
    * (safety_computation_optimized.py:552-554). The similarity is the
    * native single-node kernel (bit-identical to the test tree's staged
    * reference — WeatherSimExprSpec), which keeps the downstream kernel
    * plans free of a ~10k-node staged expression tree.
    */
  private[weather] def similarityOrNeutral(current: Column, pattern: Column): Column =
    coalesce(
      when(pattern.isNull, lit(graft.kernel.SafetyKernel.NeutralWeatherSimilarity))
        .otherwise(graft.expr.WeatherPatternSimilarity.similarity(current, pattern)),
      lit(graft.kernel.SafetyKernel.NeutralWeatherSimilarity))
}
