package perfbench

import java.time.LocalDate
import java.util.SplittableRandom

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analytics.Analytics
import graft.kernel.{KernelPruning, SafetyKernel}
import graft.pipeline.ScoringPipeline
import graft.weather.{Forecast, WeatherAssembly}

/** What a workload needs from the harness. */
final class Ctx(val spark: SparkSession, val in: Inputs, val seconds: Int, val rec: Recorder) {
  def trace: Trace = rec.trace
  def rng(salt: String): SplittableRandom = new SplittableRandom(in.seed ^ salt.hashCode.toLong)
}

/** A workload: `prepare` generates the inputs and writes them as tables,
  * `seed` builds stored state through the engine, `warmup` runs untimed
  * ops, `measure` runs the timed ops. */
trait Workload {
  def prepare(ctx: Ctx, dir: String): Unit
  def seed(ctx: Ctx): Unit = ()
  def warmup(ctx: Ctx): Unit = ()
  def measure(ctx: Ctx): Unit
}

object Workloads {
  val sizes = Sizes(catalogRoutes = 20000, locations = 700, accidents = 6900,
    crags = 120, forecastBuckets = 8, ingestBatch = 100)

  def byName(name: String): Workload = name match {
    case "nightly" => new Nightly
    case "serve_ingest" => new ServeIngest
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def close(a: Double, b: Double, tol: Double): Boolean = math.abs(a - b) <= tol

  /** API colour thresholds 30/50/70 (WeightExprs.colorCode). */
  def colour(risk: Double): String =
    if (risk < 30) "green" else if (risk < 50) "yellow" else if (risk < 70) "orange" else "red"

  def dateLit(d: LocalDate) = to_date(lit(d.toString))
}

import Workloads._

/** The nightly batch: accidents get their weather similarity to the
  * region's current 7-day forecast (`Forecast.currentPattern`, then
  * `WeatherAssembly.accidentsWithSimilarity`), one `runDaily` scores the
  * nightly route set × every accident × 3 dates, then `retainDates`. The
  * batch is timed cold, once per JVM, as the production job runs it every
  * night; the output checks run after it, outside the timing. */
final class Nightly extends Workload {
  /** Sized so the cold batch lasts about a 24 s run on a 4-core box. */
  val Routes = 12000
  private var routes: DataFrame = _
  private var accidents: DataFrame = _
  private var weather: DataFrame = _
  private var current: DataFrame = _
  private var out: String = _

  def prepare(ctx: Ctx, dir: String): Unit = {
    val t = new Tables(ctx.spark, ctx.in, dir)
    routes = t.kernelRoutes("routes", Routes)
    accidents = t.accidents
    weather = t.weather
    current = t.current
    out = s"$dir/scores"
  }

  /** One batch per JVM, whatever the run's seconds: a second, warm batch
    * would change what is timed. */
  def measure(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val dates = (0 until 3).map(d => Inputs.PlanBase.plusDays(d.toLong).toString)
    val sample = {
      val r = ctx.rng("nightly-sample")
      Seq.fill(6)(r.nextInt(Routes).toLong).distinct
    }
    val (lat, lon) = ctx.in.forecastCentre
    var withSim: DataFrame = null
    var written = 0L
    val rec = ctx.rec.op("nightly") {
      withSim = ctx.trace.call("WeatherAssembly.accidentsWithSimilarity", "weather") {
        val cur = Forecast.currentPattern(current, lat, lon, dateLit(Inputs.PlanBase))
          .select("cur_pattern")
        WeatherAssembly.accidentsWithSimilarity(accidents.crossJoin(broadcast(cur)), weather,
          col("cur_pattern")).drop("cur_pattern")
      }
      written = ctx.trace.call("ScoringPipeline.runDaily", "pipeline") {
        ScoringPipeline.runDaily(spark, routes, withSim, dates, out)
      }
      ctx.trace.call("ScoringPipeline.retainDates", "pipeline.retain") {
        ScoringPipeline.retainDates(spark, out, dates)
      }
      true
    }
    if (rec.ok) rec.ok = ctx.trace.call("check", "check")(check(ctx, withSim, dates, sample, written))
  }

  /** runDaily's row invariant; retention left exactly the batch's dates;
    * sampled (route, date) scores equal the single-date kernel's. */
  private def check(ctx: Ctx, withSim: DataFrame, dates: Seq[String], sample: Seq[Long],
                    written: Long): Boolean = {
    val spark = ctx.spark
    val fs = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(new Path(out)).map(_.getPath.getName)
      .filter(_.startsWith("prediction_date=")).map(_.stripPrefix("prediction_date=")).toSet
    val stored = spark.read.parquet(out).where(col("route_id").isin(sample: _*))
      .select("route_id", "prediction_date", "total_influence", "n_contributing", "color_code")
      .collect().map(r => (r.getLong(0), r.getDate(1).toString) -> r).toMap
    // one single-date kernel per date, collected as one query; the weather
    // similarity is built once for the three
    val sampled = routes.where(col("route_id").isin(sample: _*))
    val acc = withSim.localCheckpoint()
    val exact = dates.map { d =>
      SafetyKernel.scoreRoutes(sampled, acc, to_date(lit(d)))
        .select(col("route_id"), lit(d).as("d"), col("total_influence"), col("n_contributing"),
          col("color_code"))
    }.reduce(_ unionByName _).collect().map(r => (r.getLong(0), r.getString(1)) -> r)
    written == Routes.toLong * dates.length && parts == dates.toSet && exact.length == sample.length * dates.length &&
      exact.forall { case (k, e) =>
        stored.get(k).exists { s =>
          close(s.getDouble(2), e.getDouble(2), 1e-9 * math.max(1.0, math.abs(e.getDouble(2)))) &&
            s.getLong(3) == e.getLong(3) && s.getString(4) == e.getString(4)
        }
      }
  }
}

/** A serving table under reads and ingests from one client: map reads for
  * the three season filters, then one ingest of fresh accidents, repeated. */
final class ServeIngest extends Workload {
  val ReadsPerIngest = 3
  val Seasons = Seq("all", "rock", "winter")
  private val serveDate = Inputs.PlanBase
  private var routes: DataFrame = _
  private var accidents: DataFrame = _
  private var mapRoutes: DataFrame = _
  private var locations: DataFrame = _
  private var tables: Tables = _
  private var out: String = _
  private var batchNo = 0

  def prepare(ctx: Ctx, dir: String): Unit = {
    tables = new Tables(ctx.spark, ctx.in, dir)
    routes = tables.kernelRoutes("routes", ctx.in.sizes.catalogRoutes)
    accidents = tables.accidents
    mapRoutes = tables.mapRoutes
    locations = tables.locations
    out = s"$dir/scores"
    expected = expectedRows(ctx.in)
  }

  /** The serving table: one date partition scored by the pruned kernel. */
  override def seed(ctx: Ctx): Unit =
    ScoringPipeline.writeScores(
      KernelPruning.scoreRoutesPruned(routes, accidents, dateLit(serveDate))
        .withColumn("prediction_date", dateLit(serveDate))
        .withColumn("calculated_at", current_timestamp()), out)

  /** Rows each season's map read must return, from the generator alone. */
  private def expectedRows(in: Inputs): Map[String, Int] = {
    val black = Inputs.Blacklist.map(_.toLowerCase).toSet
    val kept = in.routes.filterNot(r => black(r.name.toLowerCase))
    def t(r: Route) = r.rawType.getOrElse("").toLowerCase
    def cold(r: Route) = t(r).contains("ice") || t(r).contains("mixed")
    Map("all" -> kept.length, "winter" -> kept.count(cold),
      "rock" -> kept.count(r => !cold(r) && t(r) != "unknown"))
  }
  private var expected: Map[String, Int] = _

  private def latest(ctx: Ctx): DataFrame =
    ctx.spark.read.parquet(out).where(col("prediction_date") === dateLit(serveDate))

  private def mapRead(ctx: Ctx, season: String): Boolean = {
    val rows = ctx.trace.call("Analytics.mapWithSafety", "analytics") {
      val scores = latest(ctx).select(col("route_id").as("mp_route_id"), col("risk_score"),
        col("color_code"))
      Analytics.mapWithSafety(mapRoutes, locations, scores, season, Inputs.Blacklist)
        .select("mp_route_id", "name", "eff_lat", "eff_lon", "risk_score", "color_code")
        .collect()
    }
    ctx.rec.count("analytics.rows_out", rows.length)
    rows.length == expected(season) && rows.forall { r =>
      !r.isNullAt(4) && r.getDouble(4) >= 0 && r.getDouble(4) <= 100 &&
        r.getString(5) == colour(r.getDouble(4))
    }
  }

  /** Routes within 30 km of the batch (so the delta is non-zero), plus two
    * anywhere. */
  private def sampleFor(ctx: Ctx, batch: Seq[Accident], b: Int): Seq[Long] = {
    val r = ctx.rng(s"ingest-sample-$b")
    def km(aLat: Double, aLon: Double, bLat: Double, bLon: Double): Double = {
      val dLat = math.toRadians(bLat - aLat); val dLon = math.toRadians(bLon - aLon)
      val h = math.pow(math.sin(dLat / 2), 2) +
        math.cos(math.toRadians(aLat)) * math.cos(math.toRadians(bLat)) * math.pow(math.sin(dLon / 2), 2)
      2 * 6371.0 * math.asin(math.sqrt(h))
    }
    val near = batch.take(6).flatMap { a =>
      ctx.in.routes.iterator.filter { rt =>
        val (lat, lon) = ctx.in.coords(rt); km(a.lat, a.lon, lat, lon) < 30.0
      }.take(1).map(_.id)
    }
    (near ++ Seq.fill(2)(r.nextInt(ctx.in.routes.length).toLong)).distinct
  }

  /** The rows of `df` for the sampled routes, selected by a broadcast
    * semi-join: an `isin` list inlines the ids into the generated code, so
    * every check would compile and JIT new classes beside the timed ops. */
  private def only(ctx: Ctx, df: DataFrame, ids: Seq[Long]): DataFrame = {
    import ctx.spark.implicits._
    df.join(broadcast(ids.toDF("route_id")), Seq("route_id"), "left_semi")
  }

  private def totals(ctx: Ctx, df: DataFrame, ids: Seq[Long]): Map[Long, (Double, Long)] =
    only(ctx, df, ids).select("route_id", "total_influence", "n_contributing")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap

  private def ingest(ctx: Ctx): Unit = {
    val b = batchNo; batchNo += 1
    val batch = ctx.in.ingestBatch(b)
    val ids = sampleFor(ctx, batch, b)
    val before = ctx.trace.call("check", "check")(totals(ctx, latest(ctx), ids))
    val rec = ctx.rec.op("ingest") {
      ctx.trace.call("ScoringPipeline.applyAccidentDelta+mergeScores", "pipeline") {
        val updates = ScoringPipeline.applyAccidentDelta(latest(ctx), routes, tables.batch(b),
          dateLit(serveDate), pruned = true)
        ScoringPipeline.mergeScores(ctx.spark, updates, out)
      }
      true
    }
    // one row per route in the rewritten partition; sampled totals moved by
    // exactly the single-date delta, within the pruning floor × batch size
    val ok = ctx.trace.call("check", "check") {
      val part = latest(ctx).agg(count(lit(1)), countDistinct(col("route_id"))).head()
      val after = totals(ctx, latest(ctx), ids)
      val delta = totals(ctx, SafetyKernel.scoreRoutes(only(ctx, routes, ids), tables.batch(b),
        dateLit(serveDate)), ids)
      val tol = SafetyKernel.SignificanceFloor * batch.length
      part.getLong(0) == ctx.in.sizes.catalogRoutes && part.getLong(1) == ctx.in.sizes.catalogRoutes &&
        ids.forall { id =>
          (before.get(id), after.get(id), delta.get(id)) match {
            case (Some((t0, n0)), Some((t1, n1)), Some((dt, dn))) =>
              close(t1, t0 + dt, tol) && n1 == n0 + dn
            case _ => false
          }
        }
    }
    if (!ok) rec.ok = false
  }

  private def cycle(ctx: Ctx): Unit = {
    Seasons.take(ReadsPerIngest).foreach(season => ctx.rec.op("map")(mapRead(ctx, season)))
    ingest(ctx)
  }

  /** Reads and ingests keep getting faster through the first cycles of a
    * JVM while the JIT settles: on a 4-core box an ingest took ~5 s in the
    * first cycle, ~2.1 s in the fourth and ~1.5 s from about the seventh.
    * With the JIT at the lowest priority (run.py) it settles later still:
    * runs warmed by six cycles still sped up through their first timed
    * ones, so eight cycles run untimed. */
  override def warmup(ctx: Ctx): Unit = (1 to 8).foreach(_ => cycle(ctx))

  /** A fixed number of whole cycles for the run's seconds (a cycle takes
    * ~3 s with its checks on a 4-core box), so every run with the same
    * seconds times the same ops and each percentile falls on the same rank. */
  def measure(ctx: Ctx): Unit = (1 to math.max(1, ctx.seconds / 4)).foreach(_ => cycle(ctx))
}
