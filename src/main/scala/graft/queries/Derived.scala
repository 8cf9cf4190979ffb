package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Deterministic domain tables derived from the driver's synthetic testdata
  * (TESTDATA.md) — Spark twins of the SQL CTEs in [[Sql.RoutesCte]] /
  * [[Sql.AccidentsCte]]. Keeping the derivation pure integer/dyadic
  * arithmetic makes every derived value bit-identical between Spark and
  * DuckDB, so the kernel oracle checks are exact.
  *
  * routes ← part (2K rows @ sf0.01), accidents ← supplier (100 rows) — the
  * same ~20:1 shape as the reference's 168K routes × 6.9K accidents, so the
  * broadcast-cross-join plan exercised here is the one that runs at scale.
  */
object Derived {

  private def typeName(key: Column): Column =
    Sql.TypeByIdx.zipWithIndex.dropRight(1)
      .foldLeft(when(lit(false), lit(""))) { case (acc, (t, i)) => acc.when(key === i, t) }
      .otherwise(Sql.TypeByIdx.last)

  /** Planning date shared with [[Sql.PlanDate]], as an ISO string and as a
    * date column.
    */
  val PlanDateIso = "2024-07-15"
  val planDate: Column = to_date(lit(PlanDateIso))

  def routes(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir).select(
      col("p_partkey").as("route_id"),
      (lit(35.0) + (col("p_partkey") % 1000) / 100.0).as("lat"),
      (lit(-120.0) + (col("p_partkey") % 700) / 70.0).as("lon"),
      when(col("p_partkey") % 10 === 0, lit(null).cast("double"))
        .otherwise(lit(1000.0) + (col("p_partkey") % 3000)).as("elev"),
      typeName(col("p_partkey") % 8).as("route_type"),
      when(col("p_size") % 7 === 0, lit(null).cast("double"))
        .otherwise(lit(5.0) + (col("p_size") % 11)).as("difficulty"))

  def accidents(s: SparkSession, dir: String): DataFrame =
    Tables.supplier(s, dir).select(
      col("s_suppkey").as("accident_id"),
      (lit(35.0) + ((col("s_suppkey") * 37) % 1000) / 100.0).as("a_lat"),
      (lit(-120.0) + ((col("s_suppkey") * 53) % 700) / 70.0).as("a_lon"),
      when(col("s_suppkey") % 7 === 0, lit(null).cast("double"))
        .otherwise(lit(800.0) + ((col("s_suppkey") * 13) % 3500)).as("a_elev"),
      typeName((col("s_suppkey") * 31) % 8).as("acc_type"),
      when(col("s_suppkey") % 5 === 0, "fatal")
        .when(col("s_suppkey") % 5 === 1, "serious")
        .when(col("s_suppkey") % 5 === 2, "minor scrapes and bruises")
        .when(col("s_suppkey") % 5 === 3, "")
        .otherwise("Serious Injury").as("severity_raw"),
      date_add(to_date(lit("2024-01-01")), ((col("s_suppkey") * 17) % 730).cast("int"))
        .as("a_date"),
      when(col("s_suppkey") % 9 === 0, lit(null).cast("double"))
        .otherwise(lit(4.0) + ((col("s_suppkey") * 7) % 13)).as("a_difficulty"))

  // --- deterministic 7-day weather series (integer/dyadic arithmetic; SQL
  // twins generated by Sql.seriesExpr) ---------------------------------------

  /** Key for the "current conditions" pattern shared by all rows. */
  val CurrentKey = 9999L

  private def k7(f: Column => Column): Column = transform(sequence(lit(0), lit(6)), f)

  def tempAvg(a: Column, k: Column): Column =
    ((a * 13 + k * 7) % 41 - 10) + k.cast("double") * 0.5
  def tempMin(a: Column, k: Column): Column = tempAvg(a, k) - (a + k) % 6
  def tempMax(a: Column, k: Column): Column = tempAvg(a, k) + (a + k * 2) % 7
  def precip(a: Column, k: Column): Column = ((a * 11 + k * 3) % 20) * 0.5
  def wind(a: Column, k: Column): Column = lit(2.0) + (a * 5 + k) % 25
  def visib(a: Column, k: Column): Column = lit(10000.0) - ((a * 3 + k * 13) % 100) * 50
  def cloud(a: Column, k: Column): Column = ((a * 19 + k * 29) % 101) * 1.0

  /** 7-day pattern struct for key `a` (see WeatherExprs.pattern). */
  def weatherPattern(a: Column): Column =
    graft.weather.WeatherExprs.pattern(
      k7(k => tempAvg(a, k)), k7(k => precip(a, k)), k7(k => wind(a, k)),
      k7(k => visib(a, k)), k7(k => cloud(a, k)),
      k7(k => struct(tempMin(a, k).as("min"), tempAvg(a, k).as("avg"),
        tempMax(a, k).as("max"))))

  /** Location dim for the factorized batch kernel (J1/S3/A11 shape):
    * coordinates, nullable elevation, and the A11 mode route type that
    * parameterizes the location-grain kernel. Keyed 1..150 so the same
    * id domain exists at every scale factor (routes map in via
    * `route_id % 150 + 1`).
    */
  def locations(s: SparkSession, dir: String): DataFrame =
    graft.Tables.customer(s, dir)
      .where(col("c_custkey") <= 150)
      .select(
        col("c_custkey").as("location_id"),
        (lit(35.0) + ((col("c_custkey") * 41) % 1000) / 100.0).as("loc_lat"),
        (lit(-120.0) + ((col("c_custkey") * 59) % 700) / 70.0).as("loc_lon"),
        when(col("c_custkey") % 6 === 0, lit(null).cast("double"))
          .otherwise(lit(900.0) + (col("c_custkey") * 23) % 3200).as("loc_elev"),
        typeName((col("c_custkey") * 43) % 8).as("loc_type"))

  /** Routes tagged with their serving location (S3 join key). */
  def routesWithLocation(s: SparkSession, dir: String): DataFrame =
    routes(s, dir).withColumn("location_id", col("route_id") % 150 + 1)

  /** 5-year-archive twin with the three REAL factor series the extreme-
    * weather multiplier consumes (visibility is NOT archived — the
    * reference service fixes its stat at (10000.0, 0.0),
    * `weather_service.py:455`, so that factor can never trigger).
    *
    * Wind is engineered with a bucket-dependent mean (≈14+bucket, spread
    * ±2) so that, against the current pattern's wind mean (≈17.86), some
    * buckets sit >2σ away (extreme → multiplier >1) and others inside
    * (multiplier 1.0) — both branches of A7 are load-bearing in k16.
    * Temperature/precipitation are broad (σ≈8.7 / 2.9) → never extreme.
    */
  def archive4(s: SparkSession, dir: String): DataFrame = {
    val sk = col("s_suppkey")
    val i = col("i")
    graft.Tables.supplier(s, dir)
      .select(sk, explode(sequence(lit(0), lit(59))).as("i"))
      .select(
        (sk % 10).as("bucket"),
        (((i * 7) % 12) + 1).cast("long").as("month"),
        (((sk * 13 + i * 5) % 60) * 0.5 - 5.0).as("temperature"),
        (((sk * 7 + i * 3) % 40) * 0.25).as("precipitation"),
        (lit(14.0) + (sk % 10) + ((sk * 11 + i * 3) % 17) * 0.25 - 2.0).as("wind_speed"))
  }

  /** The `weather` ROWS table (FIXTURES.md §2; ref schema
    * `backend/app/models/weather.py:10-36`): one row per (accident, day),
    * covering `a_date-6 … a_date` — the raw input of the reference's
    * hottest prep path, 7-day pattern assembly
    * (`backend/app/api/v1/predict.py:536-615`).
    *
    * Deterministic hazards are PLANTED so the assembly dataflow is
    * load-bearing (SQL twin: [[Sql.WeatherRowsCte]]):
    *   - sporadic missing day: `(a·7 + k·11) % 9 = 0` (≤1 of the 7 in-window
    *     days per accident, since k·11 mod 9 is injective on 0..6);
    *   - `a % 13 = 0` drops days k≥3 → ≤3 rows → INVALID pattern (<5 days);
    *   - `a % 11 = 3` drops k∈{1,4} → 5-or-4 rows → the validity BOUNDARY;
    *   - `a % 4 = 0` adds out-of-window rows (k=7 → a_date+1, k=8 →
    *     a_date−8) that the interval-join window filter must exclude;
    *   - each measurement column is NULL on its own modular schedule, and
    *     the series themselves hit exact 0.0 — both trigger the reference's
    *     Python-`or` default quirk (predict.py:594-606).
    */
  def weatherRows(s: SparkSession, dir: String): DataFrame = {
    val a = col("accident_id")
    val k = col("k")
    def nullWhen(cond: Column, v: Column): Column =
      when(cond, lit(null).cast("double")).otherwise(v)
    accidents(s, dir).select(a, col("a_date"))
      .select(a, col("a_date"), explode(sequence(lit(0), lit(8))).as("k"))
      .where((k <= 6 || a % 4 === 0) &&
        !((a * 7 + k * 11) % 9 === 0) &&
        !(a % 13 === 0 && k >= 3) &&
        !(a % 11 === 3 && (k === 1 || k === 4)))
      .select(
        (a * 9 + k).as("weather_id"),
        a,
        date_add(col("a_date"),
          when(k <= 6, k - 6).when(k === 7, lit(1)).otherwise(lit(-8)).cast("int"))
          .as("date"),
        nullWhen((a * 3 + k) % 10 === 0, tempAvg(a, k)).as("temperature_avg"),
        nullWhen((a + k * 3) % 8 === 0, tempMin(a, k)).as("temperature_min"),
        nullWhen((a * 9 + k) % 8 === 0, tempMax(a, k)).as("temperature_max"),
        nullWhen((a * 5 + k) % 14 === 0, precip(a, k)).as("precipitation_total"),
        nullWhen((a + k * 5) % 11 === 0, wind(a, k)).as("wind_speed_avg"),
        nullWhen((a * 2 + k) % 12 === 0, visib(a, k)).as("visibility_avg"),
        nullWhen((a + k) % 13 === 0, cloud(a, k)).as("cloud_cover_avg"))
  }
}
