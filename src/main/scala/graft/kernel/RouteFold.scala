package graft.kernel

import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

import graft.expr.WeightExprs

/** The accident side of the fold, one primitive array per factor input,
  * indexed by the accidents' collect order (the order a broadcast
  * nested-loop join iterates its build side).
  *
  * `temporal` holds, for every date and temporal slot (7 canonical types +
  * the default), the accident's temporal weight with the same-season
  * multiplier already applied: index `(date × Slots + slot) × n + i`.
  * `weather` holds the weather factor, or, when `amplified`, the raw
  * similarity `wsim`, which each route's `wmult` scales per pair.
  * `void` marks accidents whose every pair influence is NULL (NULL
  * coordinate, date or weather similarity). Only the top-k fold carries
  * `ids` (as collected) and the NULL flags its factor columns need: a NULL
  * coordinate makes `dist_km` and `spatial_w` NULL, a NULL date `temporal_w`.
  */
private[kernel] final case class AccidentColumns(
    n: Int, nDates: Int,
    lat: Array[Double], lon: Array[Double], cosLat: Array[Double],
    elev: Array[Double], elevNull: Array[Boolean],
    difficulty: Array[Double], difficultyNull: Array[Boolean],
    typeIdx: Array[Int], severity: Array[Double], weather: Array[Double],
    void: Array[Boolean], temporal: Array[Double],
    amplified: Boolean, ids: Array[Any], coordNull: Array[Boolean], dateNull: Array[Boolean]) {

  /** Accidents whose elevation and difficulty are finite or NULL (factor
    * 1.0). Derived from the arrays once per JVM that folds, not broadcast.
    */
  @transient lazy val finiteSides: Array[Boolean] = Array.tabulate(n) { i =>
    import java.lang.Double.isFinite
    (elevNull(i) || isFinite(elev(i))) && (difficultyNull(i) || isFinite(difficulty(i)))
  }

  /** Accidents whose non-spatial factors are finite for every route with
    * finite elevation and difficulty: [[finiteSides]] and a finite weather
    * factor (amplified, the loop tests each pair's). Temporal, severity and
    * route-type factors are finite by construction.
    */
  @transient lazy val skippable: Array[Boolean] =
    Array.tabulate(n)(i => finiteSides(i) && java.lang.Double.isFinite(weather(i)))

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
    * plus `Slots` doubles per accident and date; with `detail`, one id
    * reference and 2 flags more.
    */
  def sizeInBytes(n: Long, nDates: Int, detail: Boolean = false): Long =
    n * (7 * 8 + 4 + 3 + 8L * Slots * nDates + (if (detail) 8 + 2 else 0))
}

/** The influence kernel as a per-route fold (see
  * [[SafetyKernel.scoreRoutesForDates]]): each route partition runs one
  * loop per route over the broadcast [[AccidentColumns]], evaluating the
  * date-independent factors once per pair ([[PairMath]]) and accumulating
  * `total_influence` / `n_contributing` for every date the way Spark's
  * `sum` does, in accident order. This is the one place that computes
  * influence.
  *
  * A pair whose spatial factor is exactly 0.0 ([[PairMath.spatialVanishes]],
  * against a threshold computed once per route) is skipped when both
  * sides' other factors are finite: its influence is then ±0.0, which
  * changes no sum (they start at +0.0), no contributor count and no
  * "some pair" flag, so every score stays bit-identical.
  *
  * Routes carrying `wmult` (amplified weather, exact only) score each pair
  * with the weather factor of `wsim × wmult`.
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
  *
  * With `topK` (one date, exact) each route also keeps its best `topK`
  * pairs in a bounded heap ([[ContributorOrder]]), none skipped.
  */
private[graft] object RouteFold {

  /** Route columns the loop reads, in this order, then any `wmult`. */
  private val RouteCols = Seq("route_id", "lat", "lon", "elev", "difficulty", "__coslat",
    "__two_h2", "__elev_c", "__rt_idx", "__h")
  private val WmultIdx = RouteCols.size

  /** Columns read as doubles by the pair math. Integral types widen
    * exactly. Float and decimal types are rejected: given two such
    * columns, the Catalyst kernel subtracts in that type before widening.
    */
  private val DoubleInputs = Seq("lat", "lon", "elev", "difficulty",
    "a_lat", "a_lon", "a_elev", "a_difficulty")

  private def integral(t: DataType): Boolean = t match {
    case IntegerType | LongType | ShortType | ByteType => true
    case _ => false
  }

  /** Each of `cols` that `df` carries has a type `ok` accepts. */
  private def requireTypes(df: DataFrame, cols: Seq[String], ok: DataType => Boolean,
                           why: String): Unit =
    df.schema.fields.filter(f => cols.contains(f.name)).foreach { f =>
      require(ok(f.dataType), s"scoreRoutesForDates: column ${f.name} is ${f.dataType.simpleString}; $why")
    }

  /** The top-k fold's contributor struct. */
  private def contributorType(idType: DataType): StructType =
    StructType(StructField("accident_id", idType) +: Seq("influence", "dist_km", "spatial_w",
      "temporal_w", "elevation_w", "route_type_w", "severity_w", "grade_w").map(StructField(_, DoubleType)))

  /** Per-(route row) fold output: route_id, then (total, count) per date,
    * then with `topK` the row's best pairs, `__top`. `pruned` drops the
    * pairs beyond each route's gate; otherwise every pair counts.
    */
  def apply(enrichedRoutes: DataFrame, accidents: DataFrame, dates: Seq[Column],
            pruned: Boolean, topK: Int = 0): DataFrame = {
    require(!accidents.columns.contains("wmult"),
      "scoreRoutesForDates: accidents carry wmult (amplified weather), a route-side column")
    val amplified = enrichedRoutes.columns.contains("wmult")
    require(!(pruned && amplified),
      "scoreRoutesForDates: routes carry wmult (amplified weather), which the pruned kernel " +
        "does not score: its gate assumes a weather factor of at most 1; score them exact")
    require(topK == 0 || (!pruned && dates.size == 1), "the top-k fold is exact, for one date")
    for (df <- Seq(enrichedRoutes, accidents)) {
      requireTypes(df, DoubleInputs, t => t == DoubleType || integral(t),
        "the kernel reads coordinates, elevations and difficulties as double")
      if (amplified) requireTypes(df, Seq("wsim", "wmult"), _ == DoubleType,
        "amplified weather multiplies wsim and wmult as double")
    }
    if (topK > 0) requireTypes(accidents, Seq("accident_id"), integral,
      "top contributors break ties by an integral accident_id")
    val spark = enrichedRoutes.sparkSession
    val bc = spark.sparkContext.broadcast(collectAccidents(accidents, dates, amplified, topK > 0))
    val radiusFactor = if (pruned) Some(KernelPruning.SignificanceRadiusFactor) else None
    val routes = enrichedRoutes.select((RouteCols ++ (if (amplified) Seq("wmult") else Nil)).map { c =>
      if (DoubleInputs.contains(c)) col(c).cast(DoubleType).as(c) else col(c)
    }: _*)
    val schema = StructType((routes.schema.fields.head +: dates.indices.flatMap { d =>
      Seq(StructField(s"__tot_$d", DoubleType, nullable = true),
        StructField(s"__n_$d", LongType, nullable = false))
    }) ++ (if (topK > 0) Seq(StructField("__top",
      ArrayType(contributorType(accidents.schema("accident_id").dataType)))) else Nil))
    routes.mapPartitions((rows: Iterator[Row]) => foldPartition(rows, bc.value, radiusFactor, topK))(
      Encoders.row(schema))
  }

  /** The enriched accident rows the fold collects: the factor inputs (the
    * weather factor, or when `amplified` the raw `wsim`), a NULL-date flag,
    * per date the temporal slots and season flag, then with `detail` the id.
    */
  private[graft] def accidentFrame(accidents: DataFrame, dates: Seq[Column],
                                   amplified: Boolean = false, detail: Boolean = false): DataFrame = {
    import SafetyKernel.{accidentSameSeason, accidentScalars, temporalSlots}
    val dateCols = dates.flatMap(planDate => Seq(temporalSlots(planDate), accidentSameSeason(planDate)))
    accidentScalars(accidents).select(
      (Seq("a_lat", "a_lon", "__a_coslat", "a_elev", "a_difficulty", "__acc_idx", "__sev_w",
        if (amplified) "wsim" else "__wfactor").map { c =>
        if (DoubleInputs.contains(c)) col(c).cast(DoubleType) else col(c)
      } ++ Seq(col("a_date").isNull) ++ dateCols ++
        (if (detail) Seq(col("accident_id")) else Nil)): _*)
  }

  /** Enrich the accidents with the kernel's Catalyst expressions, collect
    * them, check the array size against Spark's broadcast limit and lay
    * them out column-wise.
    */
  private def collectAccidents(accidents: DataFrame, dates: Seq[Column], amplified: Boolean,
                               detail: Boolean): AccidentColumns = {
    val rows = accidentFrame(accidents, dates, amplified, detail).collect()
    val n = rows.length
    val nDates = dates.size
    val bytes = AccidentColumns.sizeInBytes(n, nDates, detail)
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
    val ids = if (detail) new Array[Any](n) else null
    val coordNull, dateNulls = if (detail) new Array[Boolean](n) else null
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
      val dateNull = r.getBoolean(8)
      void(i) = r.isNullAt(0) || r.isNullAt(1) || r.isNullAt(7) || dateNull
      if (detail) {
        ids(i) = r.get(9 + 2 * nDates)
        coordNull(i) = r.isNullAt(0) || r.isNullAt(1)
        dateNulls(i) = dateNull
      }
      if (!dateNull) {
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
      typeIdx, severity, weather, void, temporal, amplified, ids, coordNull, dateNulls)
  }

  /** The order of a route's contributors, on rows whose field 0 is
    * `accident_id` and field 1 `influence`: Spark's `influence DESC,
    * accident_id ASC` — a NaN influence first, -0.0 tied with 0.0, a NULL
    * influence last, a NULL id first.
    */
  private[kernel] val ContributorOrder: Ordering[Row] = (a: Row, b: Row) => {
    // a NULL in field j sorts after (`last`) or before every value
    def nulls(j: Int, last: Boolean): Int =
      if (a.isNullAt(j) == b.isNullAt(j)) 0 else if (a.isNullAt(j) == last) 1 else -1
    val byInfluence = nulls(1, last = true) match {
      case 0 if !a.isNullAt(1) => SQLOrderingUtil.compareDoubles(b.getDouble(1), a.getDouble(1))
      case c => c
    }
    if (byInfluence != 0) byInfluence
    else nulls(0, last = false) match {
      case 0 if !a.isNullAt(0) =>
        java.lang.Long.compare(a.getAs[Number](0).longValue, b.getAs[Number](0).longValue)
      case c => c
    }
  }

  /** Merges a route's per-row contributor lists (the fold's `__top`,
    * collected by route_id) into its best `k`, ranked from 1: over
    * (route_id, total_influence, n_contributing, lists) rows, returns
    * (route_id, total_influence, n_contributing, contributors) rows.
    */
  private[kernel] def rankContributors(merged: DataFrame, k: Int): DataFrame = {
    val ArrayType(ArrayType(contributor: StructType, _), _) = merged.schema.fields(3).dataType
    val schema = StructType(merged.schema.fields.take(3) :+ StructField("contributors",
      ArrayType(StructType(StructField("rank", IntegerType, nullable = false) +: contributor.fields))))
    merged.mapPartitions((rows: Iterator[Row]) => rows.map { r =>
      val best = r.getSeq[scala.collection.Seq[Row]](3).flatten.sorted(ContributorOrder).take(k)
      Row(r.get(0), r.get(1), r.get(2),
        best.zipWithIndex.map { case (c, i) => Row.fromSeq((i + 1) +: c.toSeq) })
    })(Encoders.row(schema))
  }

  /** Running sums of one route_id: Spark's `sum` semantics — a NULL
    * influence adds nothing, and a total with no non-NULL term is NULL.
    */
  private final class Sums(nDates: Int, topK: Int) {
    val total = new Array[Double](nDates)
    val count = new Array[Long](nDates)
    var any = false // some pair had a non-NULL influence
    val top: TopPairs = if (topK > 0) new TopPairs(topK) else null
  }

  /** A route's best `k` contributor rows; the heap's root is the worst kept. */
  private final class TopPairs(k: Int) {
    private val heap = new java.util.PriorityQueue[Row](k, ContributorOrder.reverse)

    def offer(r: Row): Unit =
      if (heap.size < k) heap.add(r)
      else if (ContributorOrder.lt(r, heap.peek)) { heap.poll(); heap.add(r) }

    def sorted: Seq[Row] = heap.toArray(Array.empty[Row]).toSeq.sorted(ContributorOrder)
  }

  /** Fold one route partition. Rows sharing a route_id continue the same
    * sums, in row order — the order a partial hash aggregate adds them.
    * A cross join with no accidents has no pairs, so no rows come out.
    */
  private def foldPartition(rows: Iterator[Row], acc: AccidentColumns,
                            radiusFactor: Option[Double], topK: Int): Iterator[Row] = {
    if (acc.n == 0) return Iterator.empty
    val nDates = acc.nDates
    val sums = new java.util.LinkedHashMap[Any, Sums]()
    val band = radiusFactor.map(new Band(acc, _))
    rows.foreach { r =>
      val key = r.get(0)
      var s = sums.get(key)
      if (s == null) { s = new Sums(nDates, topK); sums.put(key, s) }
      foldRoute(r, acc, s, band)
    }
    import scala.jdk.CollectionConverters._
    sums.entrySet.iterator.asScala.map { e =>
      val s = e.getValue
      Row.fromSeq((e.getKey +: (0 until nDates).flatMap { d =>
        Seq(if (s.any) s.total(d) else null, s.count(d))
      }) ++ (if (topK > 0) Seq(s.top.sorted) else Nil))
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

  /** Folds one route row. With a top-k heap every pair is offered to it,
    * none skipped, a NULL-influence pair (void accident, NULL route
    * coordinate or multiplier) with the factors the pair kernel leaves set.
    */
  private def foldRoute(r: Row, acc: AccidentColumns, s: Sums, band: Option[Band]): Unit = {
    def dbl(j: Int): Double = if (r.isNullAt(j)) 0.0 else r.getDouble(j)
    val coordsNull = r.isNullAt(1) || r.isNullAt(2)
    // NULL coordinates, or a NULL multiplier, make every pair's influence NULL
    val routeVoid = coordsNull || (acc.amplified && r.isNullAt(WmultIdx))
    val top = s.top
    if (routeVoid && top == null) return
    val lat = dbl(1)
    val lon = dbl(2)
    val elevNull = r.isNullAt(3)
    val elev = dbl(3)
    val difficultyNull = r.isNullAt(4)
    val difficulty = dbl(4)
    val cosLat = dbl(5)
    val twoH2 = r.getDouble(6)
    val elevC = r.getDouble(7)
    val rtIdx = r.getInt(8)
    val slot = if (rtIdx >= 0) rtIdx else AccidentColumns.Slots - 1
    import java.lang.Double.isFinite
    // +∞ never clears the skip bound: a route whose elevation or difficulty
    // is NaN or infinite can make a pair's other factors NaN or infinite;
    // a top-k fold skips nothing
    val zeroA =
      if (top == null && (elevNull || isFinite(elev)) && (difficultyNull || isFinite(difficulty)))
        PairMath.zeroSpatialA(twoH2)
      else Double.PositiveInfinity
    val gated = band.isDefined
    val gateKm = band.fold(Double.PositiveInfinity)(r.getDouble(9) * _.radiusFactor)
    val gateA = PairMath.gateA(gateKm)
    val amplified = acc.amplified
    val wmult = if (amplified) dbl(WmultIdx) else 1.0
    val skippable = acc.skippable
    val finiteSides = acc.finiteSides
    val n = acc.n
    val nDates = acc.nDates
    val slots = AccidentColumns.Slots
    val temporal = acc.temporal
    val total = s.total
    val count = s.count
    // a route with coordinates pairs with every non-void accident
    s.any ||= !routeVoid && acc.anyLive
    def offerNull(i: Int): Unit = {
      val distNull = coordsNull || acc.coordNull(i)
      val distKm =
        if (distNull) 0.0 else PairMath.haversineKm(cosLat, lat, lon, acc.cosLat(i), acc.lat(i), acc.lon(i))
      top.offer(Row(acc.ids(i), null, if (distNull) null else distKm,
        if (distNull) null else PairMath.spatial(distKm, twoH2),
        if (acc.dateNull(i)) null else temporal(slot * n + i),
        if (elevNull || acc.elevNull(i)) 1.0 else PairMath.elevation(elev, acc.elev(i), elevC),
        PairMath.routeType(rtIdx, acc.typeIdx(i)), acc.severity(i),
        if (difficultyNull || acc.difficultyNull(i)) 1.0 else PairMath.grade(difficulty, acc.difficulty(i))))
    }
    // pruned: only the accidents in the gate's latitude band can pass it
    val m = band.fold(n)(_.select(lat, gateKm))
    val cand = band.fold(null: Array[Int])(_.cand)
    var k = 0
    while (k < m) {
      val i = if (gated) cand(k) else k
      // a pair beyond the gate is dropped, and one whose spatial factor is
      // exactly 0.0 would add ±0.0: skip it
      if (!acc.void(i) && !routeVoid) {
        // amplified: the weather factor of wsim × wmult, per pair
        val weather =
          if (amplified) PairMath.weatherFactor(acc.weather(i) * wmult) else acc.weather(i)
        val skip =
          if (gated) PairMath.beyondGate(cosLat, lat, lon, acc.cosLat(i), acc.lat(i), acc.lon(i), gateA)
          else (if (amplified) finiteSides(i) && isFinite(weather) else skippable(i)) &&
            PairMath.spatialVanishes(
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
            var d = 0
            while (d < nDates) {
              val tw = temporal((d * slots + slot) * n + i)
              val infl = PairMath.influence(spatial, tw, elevation, routeType, severity, grade, weather)
              total(d) += infl
              if (PairMath.significant(infl)) count(d) += 1
              if (top != null) top.offer(Row(acc.ids(i), infl, distKm, spatial, tw, elevation,
                routeType, severity, grade))
              d += 1
            }
          }
        }
      } else if (top != null) offerNull(i)
      k += 1
    }
  }
}
