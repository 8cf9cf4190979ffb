package graft.kernel

import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

import graft.expr.WeightExprs

/** The accident side of the multi-date fold, one primitive array per
  * factor input, indexed by the accidents' collect order (the order a
  * broadcast nested-loop join iterates its build side).
  *
  * `temporal` holds, for every date and temporal slot (7 canonical types +
  * the default), the accident's temporal weight with the same-season
  * multiplier already applied: index `(date × Slots + slot) × n + i`.
  * `void` marks accidents whose every pair influence is NULL (NULL
  * coordinate, date or weather similarity).
  */
private[kernel] final case class AccidentColumns(
    n: Int, nDates: Int,
    lat: Array[Double], lon: Array[Double], cosLat: Array[Double],
    elev: Array[Double], elevNull: Array[Boolean],
    difficulty: Array[Double], difficultyNull: Array[Boolean],
    typeIdx: Array[Int], severity: Array[Double], weather: Array[Double],
    void: Array[Boolean], temporal: Array[Double]) {

  /** Accidents whose non-spatial factors are finite for every route with
    * finite elevation and difficulty: elevation and difficulty finite or
    * NULL (factor 1.0), weather factor finite. Temporal, severity and
    * route-type factors are finite by construction. Derived from the
    * arrays once per JVM that folds, not broadcast.
    */
  @transient lazy val skippable: Array[Boolean] = Array.tabulate(n) { i =>
    import java.lang.Double.isFinite
    (elevNull(i) || isFinite(elev(i))) && (difficultyNull(i) || isFinite(difficulty(i))) &&
      isFinite(weather(i))
  }

  /** Some accident is not void: every route with coordinates has a pair. */
  @transient lazy val anyLive: Boolean = void.exists(!_)

  private def onSphere(i: Int): Boolean = lat(i) >= -90 && lat(i) <= 90

  /** The non-void accidents with a latitude within ±90°, by latitude, and
    * those latitudes: the pruned fold's latitude band searches them.
    */
  @transient lazy val (latOrder: Array[Int], latSorted: Array[Double]) = {
    val order = (0 until n).filter(i => !void(i) && onSphere(i)).sortBy(lat(_)).toArray
    (order, order.map(lat(_)))
  }

  /** The non-void accidents whose latitude is outside ±90° or NaN: no
    * latitude band excludes them.
    */
  @transient lazy val offSphere: Array[Int] = (0 until n).filter(i => !void(i) && !onSphere(i)).toArray
}

private[kernel] object AccidentColumns {

  val Slots: Int = SafetyKernel.CanonicalTypes.size + 1

  /** Bytes the arrays take: 7 doubles, 1 int and 3 flags per accident,
    * plus `Slots` doubles per accident and date.
    */
  def sizeInBytes(n: Long, nDates: Int): Long = n * (7 * 8 + 4 + 3 + 8L * Slots * nDates)
}

/** The multi-date kernel as a per-route fold (see
  * [[SafetyKernel.scoreRoutesForDates]]): each route partition runs one
  * loop per route over the broadcast [[AccidentColumns]], evaluating the
  * date-independent factors once per pair ([[PairMath]]) and accumulating
  * `total_influence` / `n_contributing` for every date the way Spark's
  * `sum` does, in accident order.
  *
  * A pair whose spatial factor is exactly 0.0 ([[PairMath.spatialVanishes]],
  * against a threshold computed once per route) is skipped when both
  * sides' other factors are finite: its influence is then ±0.0, which
  * changes no sum (they start at +0.0), no contributor count and no
  * "some pair" flag, so every score stays bit-identical.
  *
  * Pruned, a pair counts only if its distance is at most the route's gate
  * `__h · SignificanceRadiusFactor` ([[KernelPruning]]). A NaN distance
  * fails the gate. The loop then visits only the accidents
  * inside the gate's latitude band (`Band`, a binary search over the
  * accidents sorted by latitude, read back in accident order so the sums
  * keep their order), and skips a visited pair beyond the gate without
  * trig ([[PairMath.beyondGate]] against the route's [[PairMath.gateA]],
  * whatever the pair's other factors). Dropped pairs still count as
  * paired, so both modes emit the same rows. Per route the pruned loop
  * costs a scan of one bit per accident plus the band's accidents, not a
  * test per accident.
  */
private[graft] object RouteFold {

  /** Route columns the loop reads, in this order. */
  private val RouteCols = Seq("route_id", "lat", "lon", "elev", "difficulty", "__coslat",
    "__two_h2", "__elev_c", "__rt_idx", "__h")

  /** Columns read as doubles by the pair math. Integral types widen
    * exactly. Float and decimal types are rejected: given two such
    * columns, the Catalyst kernel subtracts in that type before widening.
    */
  private val DoubleInputs = Seq("lat", "lon", "elev", "difficulty",
    "a_lat", "a_lon", "a_elev", "a_difficulty")

  private def requireDoubleInputs(df: DataFrame): Unit =
    df.schema.fields.filter(f => DoubleInputs.contains(f.name)).foreach { f =>
      require(f.dataType match {
        case DoubleType | IntegerType | LongType | ShortType | ByteType => true
        case _ => false
      }, s"scoreRoutesForDates: column ${f.name} is ${f.dataType.simpleString}; " +
        "the kernel reads coordinates, elevations and difficulties as double")
    }

  /** Per-(route row) fold output: route_id, then (total, count) per date.
    * `pruned` drops the pairs beyond each route's gate; otherwise every
    * pair counts.
    */
  def apply(enrichedRoutes: DataFrame, accidents: DataFrame,
            dates: Seq[Column], pruned: Boolean): DataFrame = {
    requireDoubleInputs(enrichedRoutes)
    requireDoubleInputs(accidents)
    val spark = enrichedRoutes.sparkSession
    val bc = spark.sparkContext.broadcast(collectAccidents(accidents, dates))
    val radiusFactor = if (pruned) Some(KernelPruning.SignificanceRadiusFactor) else None
    val routes = enrichedRoutes.select(RouteCols.map { c =>
      if (DoubleInputs.contains(c)) col(c).cast(DoubleType).as(c) else col(c)
    }: _*)
    val schema = StructType(routes.schema.fields.head +: dates.indices.flatMap { d =>
      Seq(StructField(s"__tot_$d", DoubleType, nullable = true),
        StructField(s"__n_$d", LongType, nullable = false))
    })
    routes.mapPartitions((rows: Iterator[Row]) => foldPartition(rows, bc.value, radiusFactor))(
      Encoders.row(schema))
  }

  /** The enriched accident rows the fold collects: the factor inputs, a
    * NULL-date flag, then per date the temporal slots and season flag.
    */
  private[graft] def accidentFrame(accidents: DataFrame, dates: Seq[Column]): DataFrame = {
    import SafetyKernel.{accidentSameSeason, accidentScalars, temporalSlots}
    val dateCols = dates.flatMap(planDate => Seq(temporalSlots(planDate), accidentSameSeason(planDate)))
    accidentScalars(accidents).select(
      (Seq("a_lat", "a_lon", "__a_coslat", "a_elev", "a_difficulty", "__acc_idx", "__sev_w",
        "__wfactor").map { c =>
        if (DoubleInputs.contains(c)) col(c).cast(DoubleType) else col(c)
      } ++ Seq(col("a_date").isNull) ++ dateCols): _*)
  }

  /** Enrich the accidents with the same Catalyst expressions the pair-grain
    * kernel uses, collect them, check the array size against Spark's
    * broadcast limit and lay them out column-wise.
    */
  private def collectAccidents(accidents: DataFrame, dates: Seq[Column]): AccidentColumns = {
    val rows = accidentFrame(accidents, dates).collect()
    val n = rows.length
    val nDates = dates.size
    val bytes = AccidentColumns.sizeInBytes(n, nDates)
    val limit = JavaUtils.byteStringAsBytes(
      accidents.sparkSession.conf.get(SQLConf.MAX_BROADCAST_TABLE_SIZE.key))
    require(bytes < limit,
      s"scoreRoutesForDates: the accident arrays for $n accidents × $nDates dates take " +
        s"$bytes bytes, not below ${SQLConf.MAX_BROADCAST_TABLE_SIZE.key} ($limit bytes)")
    val slots = AccidentColumns.Slots
    val lat, lon, cosLat, elev, difficulty, severity, weather = new Array[Double](n)
    val elevNull, difficultyNull, void = new Array[Boolean](n)
    val typeIdx = new Array[Int](n)
    val temporal = new Array[Double](nDates * slots * n)
    var i = 0
    while (i < n) {
      val r = rows(i)
      def dbl(j: Int): Double = if (r.isNullAt(j)) 0.0 else r.getDouble(j)
      lat(i) = dbl(0); lon(i) = dbl(1); cosLat(i) = dbl(2)
      elev(i) = dbl(3); elevNull(i) = r.isNullAt(3)
      difficulty(i) = dbl(4); difficultyNull(i) = r.isNullAt(4)
      typeIdx(i) = r.getInt(5)
      severity(i) = r.getDouble(6)
      weather(i) = dbl(7)
      void(i) = r.isNullAt(0) || r.isNullAt(1) || r.isNullAt(7) || r.getBoolean(8)
      if (!void(i)) {
        var d = 0
        while (d < nDates) {
          val tw = r.getSeq[Double](9 + 2 * d)
          val sameSeason = r.getBoolean(10 + 2 * d)
          var s = 0
          while (s < slots) {
            temporal((d * slots + s) * n + i) =
              if (sameSeason) tw(s) * WeightExprs.SeasonalMultiplier else tw(s)
            s += 1
          }
          d += 1
        }
      }
      i += 1
    }
    AccidentColumns(n, nDates, lat, lon, cosLat, elev, elevNull, difficulty, difficultyNull,
      typeIdx, severity, weather, void, temporal)
  }

  /** Running sums of one route_id: Spark's `sum` semantics — a NULL
    * influence adds nothing, and a total with no non-NULL term is NULL.
    */
  private final class Sums(nDates: Int) {
    val total = new Array[Double](nDates)
    val count = new Array[Long](nDates)
    var any = false // some pair had a non-NULL influence
  }

  /** Fold one route partition. Rows sharing a route_id continue the same
    * sums, in row order — the order a partial hash aggregate adds them.
    * A cross join with no accidents has no pairs, so no rows come out.
    */
  private def foldPartition(rows: Iterator[Row], acc: AccidentColumns,
                            radiusFactor: Option[Double]): Iterator[Row] = {
    if (acc.n == 0) return Iterator.empty
    val nDates = acc.nDates
    val sums = new java.util.LinkedHashMap[Any, Sums]()
    val band = radiusFactor.map(new Band(acc, _))
    rows.foreach { r =>
      val key = r.get(0)
      var s = sums.get(key)
      if (s == null) { s = new Sums(nDates); sums.put(key, s) }
      // NULL coordinates make every pair's distance, and so its influence, NULL
      if (!r.isNullAt(1) && !r.isNullAt(2)) foldRoute(r, acc, s, band)
    }
    import scala.jdk.CollectionConverters._
    sums.entrySet.iterator.asScala.map { e =>
      val s = e.getValue
      Row.fromSeq(e.getKey +: (0 until nDates).flatMap { d =>
        Seq(if (s.any) s.total(d) else null, s.count(d))
      })
    }
  }

  /** The pruned fold's candidates for one route, in accident order: with
    * both latitudes within ±90° a pair's distance is at least R·|Δφ|, so
    * only the accidents inside the gate's latitude band
    * ([[PairMath.gateLatDeg]]) and those off the sphere can pass the gate;
    * a route off the sphere takes every non-void accident. A route's gate
    * is `__h · radiusFactor`. Scratch arrays are reused across one
    * partition's routes.
    */
  private final class Band(acc: AccidentColumns, val radiusFactor: Double) {
    private val bits = new Array[Long]((acc.n + 63) / 64)
    val cand = new Array[Int](acc.n)

    /** Fills `cand` and returns how many it holds. */
    def select(lat: Double, gateKm: Double): Int = {
      val order = acc.latOrder
      val sorted = acc.latSorted
      var j = 0
      var hi = order.length
      if (lat >= -90 && lat <= 90) {
        val deg = PairMath.gateLatDeg(gateKm)
        j = firstIndex(sorted, lat - deg, strict = false)
        hi = firstIndex(sorted, lat + deg, strict = true)
      }
      while (j < hi) { mark(order(j)); j += 1 }
      acc.offSphere.foreach(mark)
      // read the marks back in index order, clearing them
      var m = 0
      var w = 0
      while (w < bits.length) {
        var word = bits(w)
        if (word != 0L) {
          bits(w) = 0L
          while (word != 0L) {
            cand(m) = (w << 6) + java.lang.Long.numberOfTrailingZeros(word)
            m += 1
            word &= word - 1
          }
        }
        w += 1
      }
      m
    }

    private def mark(i: Int): Unit = bits(i >>> 6) |= 1L << i

    /** The first index whose value is at least `x` (above `x` if `strict`). */
    private def firstIndex(sorted: Array[Double], x: Double, strict: Boolean): Int = {
      var lo = 0
      var hi = sorted.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (sorted(mid) < x || (strict && sorted(mid) == x)) lo = mid + 1 else hi = mid
      }
      lo
    }
  }

  private def foldRoute(r: Row, acc: AccidentColumns, s: Sums,
                        band: Option[Band]): Unit = {
    val lat = r.getDouble(1)
    val lon = r.getDouble(2)
    val elevNull = r.isNullAt(3)
    val elev = if (elevNull) 0.0 else r.getDouble(3)
    val difficultyNull = r.isNullAt(4)
    val difficulty = if (difficultyNull) 0.0 else r.getDouble(4)
    val cosLat = r.getDouble(5)
    val twoH2 = r.getDouble(6)
    val elevC = r.getDouble(7)
    val rtIdx = r.getInt(8)
    val slot = if (rtIdx >= 0) rtIdx else AccidentColumns.Slots - 1
    import java.lang.Double.isFinite
    // +∞ never clears the skip bound: a route whose elevation or difficulty
    // is NaN or infinite can make a pair's other factors NaN or infinite
    val zeroA =
      if ((elevNull || isFinite(elev)) && (difficultyNull || isFinite(difficulty)))
        PairMath.zeroSpatialA(twoH2)
      else Double.PositiveInfinity
    val gated = band.isDefined
    val gateKm = band.fold(Double.PositiveInfinity)(r.getDouble(9) * _.radiusFactor)
    val gateA = PairMath.gateA(gateKm)
    val skippable = acc.skippable
    val n = acc.n
    val nDates = acc.nDates
    val slots = AccidentColumns.Slots
    val temporal = acc.temporal
    val total = s.total
    val count = s.count
    // a route with coordinates pairs with every non-void accident
    s.any ||= acc.anyLive
    // pruned: only the accidents in the gate's latitude band can pass it
    val m = band.fold(n)(_.select(lat, gateKm))
    val cand = band.fold(null: Array[Int])(_.cand)
    var k = 0
    while (k < m) {
      val i = if (gated) cand(k) else k
      // a pair beyond the gate is dropped, and one whose spatial factor is
      // exactly 0.0 would add ±0.0: skip it
      if (!acc.void(i)) {
        val skip =
          if (gated) PairMath.beyondGate(cosLat, lat, lon, acc.cosLat(i), acc.lat(i), acc.lon(i), gateA)
          else skippable(i) && PairMath.spatialVanishes(
            cosLat, lat, lon, acc.cosLat(i), acc.lat(i), acc.lon(i), zeroA)
        if (!skip) {
          val distKm = PairMath.haversineKm(cosLat, lat, lon, acc.cosLat(i), acc.lat(i), acc.lon(i))
          // `dist_km <= gate`: a NaN distance fails it
          if (!gated || distKm <= gateKm) {
            val spatial = PairMath.spatial(distKm, twoH2)
            val elevation =
              if (elevNull || acc.elevNull(i)) 1.0 else PairMath.elevation(elev, acc.elev(i), elevC)
            val routeType = PairMath.routeType(rtIdx, acc.typeIdx(i))
            val grade =
              if (difficultyNull || acc.difficultyNull(i)) 1.0
              else PairMath.grade(difficulty, acc.difficulty(i))
            val severity = acc.severity(i)
            val weather = acc.weather(i)
            var d = 0
            while (d < nDates) {
              val infl = PairMath.influence(spatial, temporal((d * slots + slot) * n + i),
                elevation, routeType, severity, grade, weather)
              total(d) += infl
              if (PairMath.significant(infl)) count(d) += 1
              d += 1
            }
          }
        }
      }
      k += 1
    }
  }
}
