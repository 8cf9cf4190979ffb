package graft.kernel

import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

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
  */
private[graft] object RouteFold {

  /** Route columns the loop reads, in this order. */
  private val RouteCols =
    Seq("route_id", "lat", "lon", "elev", "difficulty", "__coslat", "__two_h2", "__elev_c", "__rt_idx")

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

  /** Per-(route row) fold output: route_id, then (total, count) per date. */
  def apply(enrichedRoutes: DataFrame, accidents: DataFrame,
            dates: Seq[String]): DataFrame = {
    requireDoubleInputs(enrichedRoutes)
    requireDoubleInputs(accidents)
    val spark = enrichedRoutes.sparkSession
    val bc = spark.sparkContext.broadcast(collectAccidents(accidents, dates))
    val routes = enrichedRoutes.select(RouteCols.map { c =>
      if (DoubleInputs.contains(c)) col(c).cast(DoubleType).as(c) else col(c)
    }: _*)
    val schema = StructType(routes.schema.fields.head +: dates.indices.flatMap { d =>
      Seq(StructField(s"__tot_$d", DoubleType, nullable = true),
        StructField(s"__n_$d", LongType, nullable = false))
    })
    routes.mapPartitions((rows: Iterator[Row]) => foldPartition(rows, bc.value))(
      Encoders.row(schema))
  }

  /** The enriched accident rows the fold collects: the factor inputs, a
    * NULL-date flag, then per date the temporal slots and season flag.
    */
  private[graft] def accidentFrame(accidents: DataFrame, dates: Seq[String]): DataFrame = {
    import SafetyKernel.{accidentDayCount, accidentSameSeason, accidentScalars}
    val dateCols = dates.flatMap { d =>
      val planDate = to_date(lit(d))
      Seq(SafetyKernel.temporalSlots(accidentDayCount(planDate)), accidentSameSeason(planDate))
    }
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
  private def collectAccidents(accidents: DataFrame, dates: Seq[String]): AccidentColumns = {
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
              if (sameSeason) tw(s) * PairMath.SeasonalMultiplier else tw(s)
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
  private def foldPartition(rows: Iterator[Row], acc: AccidentColumns): Iterator[Row] = {
    if (acc.n == 0) return Iterator.empty
    val nDates = acc.nDates
    val sums = new java.util.LinkedHashMap[Any, Sums]()
    rows.foreach { r =>
      val key = r.get(0)
      var s = sums.get(key)
      if (s == null) { s = new Sums(nDates); sums.put(key, s) }
      // NULL coordinates make every pair's distance, and so its influence, NULL
      if (!r.isNullAt(1) && !r.isNullAt(2)) foldRoute(r, acc, s)
    }
    import scala.jdk.CollectionConverters._
    sums.entrySet.iterator.asScala.map { e =>
      val s = e.getValue
      Row.fromSeq(e.getKey +: (0 until nDates).flatMap { d =>
        Seq(if (s.any) s.total(d) else null, s.count(d))
      })
    }
  }

  private def foldRoute(r: Row, acc: AccidentColumns, s: Sums): Unit = {
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
    val skippable = acc.skippable
    val n = acc.n
    val nDates = acc.nDates
    val slots = AccidentColumns.Slots
    val temporal = acc.temporal
    val total = s.total
    val count = s.count
    var paired = false
    var i = 0
    while (i < n) {
      // a pair whose spatial factor is exactly 0.0 would add ±0.0: skip it
      if (!acc.void(i)) {
        paired = true
        if (!(skippable(i) && PairMath.spatialVanishes(
            cosLat, lat, lon, acc.cosLat(i), acc.lat(i), acc.lon(i), zeroA))) {
          val spatial = PairMath.spatial(
            PairMath.haversineKm(cosLat, lat, lon, acc.cosLat(i), acc.lat(i), acc.lon(i)), twoH2)
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
      i += 1
    }
    s.any ||= paired
  }
}
