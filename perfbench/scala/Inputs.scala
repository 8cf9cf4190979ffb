package perfbench

import java.security.MessageDigest
import java.time.LocalDate
import java.util.SplittableRandom

/** Seeded input generator owned by the benchmark (it shares nothing with
  * graft.Bench's lattice generators). Routes, locations and accidents
  * cluster around seeded crag centres; the severity mix is the
  * reference's, the route-type and accident-type mixes are assumptions
  * (perfbench/README.md lists them); accident dates spread over two
  * years; every accident has a 7-day weather window, about 10% of them
  * too short to form a pattern.
  * Each table draws from its own stream, derived from the seed and the
  * table's name, so the same seed always gives the same rows.
  */
final case class Sizes(catalogRoutes: Int, locations: Int, accidents: Int,
                       crags: Int, forecastBuckets: Int, ingestBatch: Int)

final case class Location(id: Long, lat: Double, lon: Double)

/** A catalog route. `lat`/`lon` are usually empty: the route inherits its
  * location's coordinates, as in the reference's route table. */
final case class Route(id: Long, locationId: Long, name: String, rawType: Option[String],
                       lat: Option[Double], lon: Option[Double],
                       elev: Option[Double], difficulty: Option[Double]) {
  def kernelType: String = rawType.map(_.toLowerCase).getOrElse("trad")
}

final case class Accident(id: Int, lat: Double, lon: Double, elev: Option[Double],
                          accType: String, severity: String, date: LocalDate,
                          difficulty: Option[Double])

final case class WeatherRow(weatherId: Int, accidentId: Int, date: LocalDate,
                            lat: Double, lon: Double,
                            tAvg: Option[Double], tMin: Option[Double], tMax: Option[Double],
                            windAvg: Option[Double], windMax: Option[Double],
                            precip: Option[Double], visibility: Option[Double],
                            cloud: Option[Double])

final case class CurrentRow(latBucket: Double, lonBucket: Double, date: LocalDate,
                            tMean: Double, tMin: Double, tMax: Double,
                            precip: Double, windMax: Double, cloud: Double)


object Inputs {
  val AccidentEpoch: LocalDate = LocalDate.of(2023, 1, 1)
  val AccidentSpanDays = 730
  /** First plan date of the nightly batch and the serving table's date. */
  val PlanBase: LocalDate = LocalDate.of(2025, 1, 10)
  val FreshAccidentIdBase = 1000000

  private val RouteTypes: Seq[(Option[String], Double)] = Seq(
    Some("Sport") -> 0.34, Some("Trad") -> 0.30, Some("Boulder") -> 0.12,
    Some("Alpine") -> 0.08, Some("Ice") -> 0.06, Some("Mixed") -> 0.04,
    Some("Aid") -> 0.04, None -> 0.02)
  private val AccidentTypes: Seq[(String, Double)] = Seq(
    "alpine" -> 0.30, "trad" -> 0.20, "sport" -> 0.15, "ice" -> 0.12,
    "mixed" -> 0.08, "boulder" -> 0.05, "aid" -> 0.03, "unknown" -> 0.07)
  /** The reference's severity distribution (FIXTURES.md, domain fixtures). */
  private val Severities: Seq[(String, Double)] = Seq(
    "serious" -> 0.498, "fatal" -> 0.266, "unknown" -> 0.185, "minor" -> 0.051)
  /** Names the map read filters out; about 0.5% of routes carry one. */
  val Blacklist: Seq[String] = Seq("Unnamed", "Closed Project")

  /** 0.01° forecast bucket, HALF_EVEN like `Forecast.bucketOf`. */
  def bucket(x: Double): Double =
    BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_EVEN).toDouble
}

final class Inputs(val seed: Long, val sizes: Sizes) {
  import Inputs._

  private def rng(table: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ table.hashCode.toLong)

  private def pick[T](r: SplittableRandom, mix: Seq[(T, Double)]): T = {
    var u = r.nextDouble() * mix.map(_._2).sum
    mix.find { case (_, w) => u -= w; u < 0 }.getOrElse(mix.last)._1
  }
  private def gauss(r: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian on JDK 17
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }
  private def maybe[T](r: SplittableRandom, p: Double)(v: => T): Option[T] =
    if (r.nextDouble() < p) Some(v) else None

  /** Crag centres across the continental US with a mild Zipf-like weight:
    * popular crags hold more routes and accidents, but no single crag
    * dominates (a steep weight made the ingest cost swing with where the
    * seed put the top crags). */
  lazy val crags: IndexedSeq[(Double, Double, Double)] = {
    val r = rng("crags")
    (0 until sizes.crags).map { i =>
      (32.0 + 17.0 * r.nextDouble(), -124.0 + 54.0 * r.nextDouble(), 1.0 / math.pow(i + 1, 0.3))
    }
  }
  private def crag(r: SplittableRandom): (Double, Double) = {
    val c = pick(r, crags.map(c => (c, c._3)))
    (c._1, c._2)
  }

  lazy val locations: IndexedSeq[Location] = {
    val r = rng("locations")
    (0 until sizes.locations).map { i =>
      val (clat, clon) = crag(r)
      Location(10000L + i, clat + 0.15 * gauss(r), clon + 0.2 * gauss(r))
    }
  }

  lazy val routes: IndexedSeq[Route] = {
    val r = rng("routes")
    (0 until sizes.catalogRoutes).map { i =>
      val loc = locations(r.nextInt(locations.length))
      val own = r.nextDouble() < 0.15
      val name = if (r.nextDouble() < 0.005) Blacklist(r.nextInt(Blacklist.length)) else s"Route $i"
      Route(i.toLong, loc.id, name, pick(r, RouteTypes),
        if (own) Some(loc.lat + 0.01 * gauss(r)) else None,
        if (own) Some(loc.lon + 0.01 * gauss(r)) else None,
        maybe(r, 0.7)(1200.0 + 3100.0 * r.nextDouble()),
        maybe(r, 0.7)(5.0 + 8.0 * r.nextDouble()))
    }
  }

  private lazy val locById: Map[Long, Location] = locations.map(l => l.id -> l).toMap
  /** Effective coordinates: the route's own, else its location's. */
  def coords(rt: Route): (Double, Double) = {
    val l = locById(rt.locationId)
    (rt.lat.getOrElse(l.lat), rt.lon.getOrElse(l.lon))
  }

  private def accident(r: SplittableRandom, id: Int, date: LocalDate): Accident = {
    val (clat, clon) = crag(r)
    Accident(id, clat + 0.25 * gauss(r), clon + 0.3 * gauss(r),
      maybe(r, 0.75)(1000.0 + 3500.0 * r.nextDouble()),
      pick(r, AccidentTypes), pick(r, Severities), date,
      maybe(r, 0.5)(5.0 + 8.0 * r.nextDouble()))
  }

  lazy val accidents: IndexedSeq[Accident] = {
    val r = rng("accidents")
    (0 until sizes.accidents).map { i =>
      accident(r, i + 1, AccidentEpoch.plusDays(r.nextInt(AccidentSpanDays).toLong))
    }
  }

  /** Seven daily rows per accident ending on its date. 10% of windows keep
    * only 3 days (below the 5-day pattern minimum, as in FIXTURES.md); a
    * few fields are NULL or exactly 0.0 to exercise the reference's falsy
    * defaults. */
  lazy val weather: IndexedSeq[WeatherRow] = {
    val r = rng("weather")
    var wid = 0
    accidents.flatMap { a =>
      val incomplete = r.nextDouble() < 0.10
      val days = if (incomplete) r.ints(0, 7).distinct().limit(3).toArray.toSeq.sorted
        else (0 until 7).filter(_ => r.nextDouble() >= 0.03)
      val season = 10.0 * math.cos(2 * math.Pi * (a.date.getDayOfYear - 200) / 365.0)
      days.map { d =>
        wid += 1
        val t = season + 5.0 * gauss(r)
        def fld(v: Double): Option[Double] = {
          val u = r.nextDouble()
          if (u < 0.04) None else if (u < 0.06) Some(0.0) else Some(v)
        }
        WeatherRow(wid, a.id, a.date.minusDays(6L - d), bucket(a.lat), bucket(a.lon),
          fld(t), fld(t - 4.0 - 2.0 * r.nextDouble()), fld(t + 4.0 + 2.0 * r.nextDouble()),
          fld(1.0 + 6.0 * r.nextDouble()), fld(4.0 + 10.0 * r.nextDouble()),
          fld(if (r.nextDouble() < 0.6) 0.0 else 12.0 * r.nextDouble()),
          fld(2000.0 + 8000.0 * r.nextDouble()), fld(100.0 * r.nextDouble()))
      }
    }
  }

  /** The nightly batch's forecast region: the busiest crag's centre. */
  def forecastCentre: (Double, Double) = (crags.head._1, crags.head._2)

  /** Forecast rows: the 7 days ending at PlanBase for the buckets of the
    * first crag centres (the nightly region is the first). */
  lazy val current: IndexedSeq[CurrentRow] = {
    val r = rng("current")
    crags.take(sizes.forecastBuckets).flatMap { c =>
      (0 until 7).map { d =>
        val t = 5.0 + 6.0 * gauss(r)
        CurrentRow(bucket(c._1), bucket(c._2), PlanBase.minusDays(d.toLong), t,
          t - 5.0 * r.nextDouble(), t + 5.0 * r.nextDouble(),
          if (r.nextDouble() < 0.6) 0.0 else 10.0 * r.nextDouble(),
          3.0 + 12.0 * r.nextDouble(), 100.0 * r.nextDouble())
      }
    }
  }

  /** The b-th ingest batch: fresh accident ids (never in `accidents`),
    * dated in the 60 days before the serving date. */
  def ingestBatch(b: Int): IndexedSeq[Accident] = {
    val r = rng(s"ingest-$b")
    (0 until sizes.ingestBatch).map { i =>
      accident(r, FreshAccidentIdBase + b * sizes.ingestBatch + i,
        PlanBase.minusDays(r.nextInt(60).toLong))
    }
  }

  /** SHA-256 over every table (and the first eight ingest batches) in a
    * canonical text form. */
  def digest(): String = {
    val md = MessageDigest.getInstance("SHA-256")
    def feed(name: String, rows: Iterable[Product]): Unit = {
      md.update(name.getBytes("UTF-8"))
      rows.foreach(p => md.update((p.productIterator.mkString("|") + "\n").getBytes("UTF-8")))
    }
    feed("crags", crags.map(c => Tuple3(c._1, c._2, c._3)))
    feed("locations", locations)
    feed("routes", routes)
    feed("accidents", accidents)
    feed("weather", weather)
    feed("current", current)
    (0 until 8).foreach(b => feed(s"ingest-$b", ingestBatch(b)))
    md.digest().map("%02x".format(_)).mkString
  }
}
