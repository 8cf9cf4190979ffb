package perfbench

import java.sql.Date

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** The generated inputs as parquet tables under one run directory, in the
  * schemas the engine reads (FIXTURES.md §1-5, kernel column names). */
final class Tables(spark: SparkSession, in: Inputs, dir: String) {
  private def d(x: java.time.LocalDate): Date = Date.valueOf(x)

  private def save(name: String, schema: StructType, rows: Seq[Row]): DataFrame = {
    val path = s"$dir/$name"
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  private def opt(o: Option[Double]): Any = o.orNull

  val kernelRouteSchema: StructType = StructType(Seq(
    StructField("route_id", LongType, false), StructField("lat", DoubleType, false),
    StructField("lon", DoubleType, false), StructField("elev", DoubleType),
    StructField("route_type", StringType, false), StructField("difficulty", DoubleType)))

  def kernelRouteRow(r: Route): Row = {
    val (lat, lon) = in.coords(r)
    Row(r.id, lat, lon, opt(r.elev), r.kernelType, opt(r.difficulty))
  }

  val accidentSchema: StructType = StructType(Seq(
    StructField("accident_id", IntegerType, false), StructField("a_lat", DoubleType, false),
    StructField("a_lon", DoubleType, false), StructField("a_elev", DoubleType),
    StructField("acc_type", StringType), StructField("severity_raw", StringType),
    StructField("a_date", DateType, false), StructField("a_difficulty", DoubleType)))

  def accidentRow(a: Accident): Row =
    Row(a.id, a.lat, a.lon, opt(a.elev), a.accType, a.severity, d(a.date), opt(a.difficulty))

  /** Kernel-schema routes: the first `n` catalog routes. */
  def kernelRoutes(name: String, n: Int): DataFrame =
    save(name, kernelRouteSchema, in.routes.take(n).map(kernelRouteRow))

  lazy val accidents: DataFrame = save("accidents", accidentSchema, in.accidents.map(accidentRow))

  lazy val weather: DataFrame = save("weather", StructType(Seq(
    StructField("weather_id", IntegerType, false), StructField("accident_id", IntegerType),
    StructField("date", DateType, false), StructField("latitude", DoubleType, false),
    StructField("longitude", DoubleType, false),
    StructField("temperature_avg", DoubleType), StructField("temperature_min", DoubleType),
    StructField("temperature_max", DoubleType), StructField("wind_speed_avg", DoubleType),
    StructField("wind_speed_max", DoubleType), StructField("precipitation_total", DoubleType),
    StructField("visibility_avg", DoubleType), StructField("cloud_cover_avg", DoubleType))),
    in.weather.map(w => Row(w.weatherId, w.accidentId, d(w.date), w.lat, w.lon,
      opt(w.tAvg), opt(w.tMin), opt(w.tMax), opt(w.windAvg), opt(w.windMax),
      opt(w.precip), opt(w.visibility), opt(w.cloud))))

  lazy val current: DataFrame = save("current_weather", StructType(Seq(
    StructField("lat_bucket", DoubleType, false), StructField("lon_bucket", DoubleType, false),
    StructField("date", DateType, false), StructField("temperature_mean", DoubleType),
    StructField("temperature_min", DoubleType), StructField("temperature_max", DoubleType),
    StructField("precipitation_sum", DoubleType), StructField("wind_speed_max", DoubleType),
    StructField("cloud_cover_mean", DoubleType))),
    in.current.map(c => Row(c.latBucket, c.lonBucket, d(c.date), c.tMean, c.tMin, c.tMax,
      c.precip, c.windMax, c.cloud)))

  /** Map-serving views: catalog routes (FIXTURES.md §3) and locations
    * projected to (mp_id, loc_lat, loc_lon). */
  lazy val mapRoutes: DataFrame = save("mp_routes", StructType(Seq(
    StructField("mp_route_id", LongType, false), StructField("name", StringType, false),
    StructField("location_id", LongType), StructField("type", StringType),
    StructField("latitude", DoubleType), StructField("longitude", DoubleType))),
    in.routes.map(r => Row(r.id, r.name, r.locationId, r.rawType.orNull, opt(r.lat), opt(r.lon))))

  lazy val locations: DataFrame = save("mp_locations", StructType(Seq(
    StructField("mp_id", LongType, false), StructField("loc_lat", DoubleType, false),
    StructField("loc_lon", DoubleType, false))),
    in.locations.map(l => Row(l.id, l.lat, l.lon)))

  /** A fresh-accident batch as a small in-memory frame, the way an ingest
    * arrives. */
  def batch(b: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(in.ingestBatch(b).map(accidentRow), 1),
      accidentSchema)
}
