package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

class ScoringPipelineSpec extends SparkSpec {

  import spark.implicits._

  private def routes: DataFrame = Seq(
    (1L, 40.0, -105.0, Some(3000.0), "alpine", Some(10.0)),
    (2L, 40.5, -105.5, Some(2000.0), "sport", Some(12.0)))
    .toDF("route_id", "lat", "lon", "elev", "route_type", "difficulty")

  private def accidents: DataFrame = Seq(
    (1, 40.1, -105.0, Some(2900.0), "alpine", "fatal", "2023-07-15", Some(9.0)))
    .toDF("accident_id", "a_lat", "a_lon", "a_elev", "acc_type", "severity_raw", "d", "a_difficulty")
    .withColumn("a_date", to_date(col("d"))).drop("d")

  /** (route, date) result rows of the multi-date kernel and of the
    * single-date kernel run once per date, as strings — exact string
    * equality is bit-equality of the doubles (NaN and NULL included).
    */
  private def multiVsPerDate(rts: DataFrame, accs: DataFrame,
                             dates: Seq[String]): (Seq[String], Seq[String]) = {
    def rows(df: DataFrame): Seq[String] =
      df.select(col("route_id"), col("prediction_date"), col("total_influence"),
          col("n_contributing"), col("risk_score"), col("color_code"))
        .orderBy("prediction_date", "route_id")
        .collect().map(_.toString).toSeq
    val fused = rows(graft.kernel.SafetyKernel.scoreRoutesForDates(rts, accs, dates))
    val perDate = rows(dates.map { d =>
      graft.kernel.PairKernel.scoreRoutes(rts, accs, to_date(lit(d)))
        .withColumn("prediction_date", to_date(lit(d)))
    }.reduce(_ unionByName _))
    (fused, perDate)
  }

  /** The multi-date kernel's output schema: names, order, types and
    * nullability; route_id keeps the input's nullability.
    */
  private def assertScoreSchema(rts: DataFrame, accs: DataFrame, routeIdNullable: Boolean): Unit = {
    import org.apache.spark.sql.types._
    val got = graft.kernel.SafetyKernel.scoreRoutesForDates(rts, accs, Seq("2024-07-15")).schema
    assert(got == StructType(Seq(
      StructField("route_id", LongType, routeIdNullable),
      StructField("total_influence", DoubleType, nullable = true),
      StructField("n_contributing", LongType, nullable = true),
      StructField("risk_score", DoubleType, nullable = false),
      StructField("color_code", StringType, nullable = false),
      StructField("prediction_date", DateType, nullable = true))), got.treeString)
  }

  test("multi-date kernel == per-date kernels, bitwise (shared-geometry fusion)") {
    // the multi-date kernel (SafetyKernel.scoreRoutesForDates) folds each
    // route over the accident arrays for all dates at once; this arm pins
    // BIT-equality of every output value against the pair-grain per-date
    // kernel — on a denser grid than the shared fixtures so several
    // routes, types, seasons and null windows are all represented
    val rts = spark.range(200).select(
      col("id").as("route_id"),
      (lit(39.0) + (col("id") % 50) / 25.0).as("lat"),
      (lit(-106.0) + (col("id") % 40) / 20.0).as("lon"),
      when(col("id") % 7 === 0, lit(null).cast("double"))
        .otherwise(lit(1500.0) + (col("id") % 2000)).as("elev"),
      when(col("id") % 4 === 0, "alpine").when(col("id") % 4 === 1, "sport")
        .when(col("id") % 4 === 2, "trad").otherwise("ice").as("route_type"),
      when(col("id") % 5 === 0, lit(null).cast("double"))
        .otherwise(lit(5.0) + (col("id") % 11)).as("difficulty"))
    val accs = spark.range(300).select(
      col("id").as("accident_id"),
      (lit(39.0) + ((col("id") * 37) % 50) / 25.0).as("a_lat"),
      (lit(-106.0) + ((col("id") * 53) % 40) / 20.0).as("a_lon"),
      (lit(1400.0) + ((col("id") * 13) % 2200)).as("a_elev"),
      when(col("id") % 3 === 0, "alpine").when(col("id") % 3 === 1, "sport")
        .otherwise("trad").as("acc_type"),
      when(col("id") % 3 === 0, "fatal").when(col("id") % 3 === 1, "serious")
        .otherwise("minor").as("severity_raw"),
      date_add(to_date(lit("2023-01-01")), (col("id") % 900).cast("int")).as("a_date"),
      (lit(4.0) + ((col("id") * 7) % 13)).as("a_difficulty"))
    // dates spanning a season boundary so __same_season differs per date
    val dates = Seq("2024-07-15", "2024-09-23", "2024-12-05")
    val (fused, perDate) = multiVsPerDate(rts, accs, dates)
    assert(fused.size == 200 * 3)
    assert(fused == perDate) // exact string equality = bit-equal doubles
    // a one-date list is the same kernel with one temporal slot set
    val (one, onePerDate) = multiVsPerDate(rts, accs, Seq("2024-12-05"))
    assert(one.size == 200 && one == onePerDate)
    assertScoreSchema(rts, accs, routeIdNullable = false)
  }

  /** Edge-case fixtures for the bitwise arm: NULL route coordinates, NULL
    * and NaN route elevation/difficulty/type, a NULL route_id, and
    * route_ids repeated across rows.
    */
  private def edgeRoutes: DataFrame = Seq[(Option[Long], Option[Double], Option[Double],
      Option[Double], String, Option[Double])](
    (Some(1L), Some(40.0), Some(-105.0), Some(3000.0), "alpine", Some(10.0)),
    (Some(2L), None, Some(-105.0), Some(2000.0), "sport", Some(12.0)),
    (Some(3L), Some(40.2), None, Some(2500.0), "trad", Some(8.0)),
    (Some(4L), Some(40.1), Some(-105.2), Some(Double.NaN), "sport", Some(Double.NaN)),
    (Some(1L), Some(40.3), Some(-105.1), Some(2500.0), "trad", Some(8.0)),
    (Some(5L), Some(40.05), Some(-105.05), None, null, None),
    (Some(6L), Some(Double.NaN), Some(-105.0), Some(2000.0), "ice", Some(9.0)),
    (None, Some(40.15), Some(-104.9), Some(2800.0), "mixed", Some(11.0)),
    (Some(7L), Some(39.9), Some(-105.3), Some(1800.0), "boulder", Some(6.0)),
    (Some(5L), Some(40.4), Some(-104.8), Some(3100.0), "alpine", None),
    (Some(7L), Some(39.95), Some(-105.25), Some(1900.0), "aid", Some(7.0)))
    .toDF("route_id", "lat", "lon", "elev", "route_type", "difficulty")

  private def edgeAccidents(rows: Seq[(Int, Option[Double], Option[Double], Option[Double],
      String, String, Option[String], Option[Double], Option[Double])]): DataFrame =
    rows.toDF("accident_id", "a_lat", "a_lon", "a_elev", "acc_type", "severity_raw", "d",
        "a_difficulty", "wsim")
      .withColumn("a_date", to_date(col("d"))).drop("d")

  test("multi-date kernel == per-date kernels, bitwise: NULLs, repeated route_ids, one date") {
    val accs = edgeAccidents(Seq(
      (1, Some(40.1), Some(-105.0), Some(2900.0), "alpine", "fatal", Some("2023-07-15"), Some(9.0), Some(0.8)),
      (2, Some(40.0), Some(-105.1), None, "sport", "serious", Some("2024-01-20"), None, Some(0.3)),
      (3, Some(40.2), Some(-104.9), Some(2600.0), "trad", "minor", Some("2022-10-01"), Some(7.0), Some(0.1)),
      (4, Some(40.1), Some(-105.0), Some(2900.0), "alpine", "fatal", Some("2023-07-15"), Some(9.0), None),
      (5, Some(40.1), Some(-105.0), Some(2900.0), "ice", "serious", None, Some(9.0), Some(0.9)),
      (6, None, Some(-105.0), Some(2900.0), "mixed", "fatal", Some("2023-03-02"), Some(9.0), Some(0.9)),
      (7, Some(40.1), None, Some(2900.0), "aid", "fatal", Some("2023-03-02"), Some(9.0), Some(0.9)),
      (8, Some(39.95), Some(-105.2), Some(1850.0), null, null, Some("2024-06-30"), Some(6.5), Some(1.0))))
    val dates = Seq("2024-07-15", "2024-09-23", "2024-12-05")
    val (fused, perDate) = multiVsPerDate(edgeRoutes, accs, dates)
    // 8 distinct route_ids (NULL included): repeated rows merge per (route, date)
    assert(fused.size == 8 * 3)
    assert(fused == perDate)
    // NULL route coordinates: every pair NULL → NULL total, no contributor
    for (r <- fused.filter(r => r.startsWith("[2,") || r.startsWith("[3,")))
      assert(r.contains(",null,0,0.0,green]"), r)
    val (one, onePerDate) = multiVsPerDate(edgeRoutes, accs, Seq("2024-09-23"))
    assert(one.size == 8 && one == onePerDate)
    assertScoreSchema(edgeRoutes, accs, routeIdNullable = true)
    // accidents whose pairs are all NULL (NULL wsim, date or coordinate)
    val (allVoid, allVoidPerDate) = multiVsPerDate(edgeRoutes, accs.where(col("accident_id") >= 4
      && col("accident_id") <= 7), dates)
    assert(allVoid == allVoidPerDate)
    assert(allVoid.size == 8 * 3 && allVoid.forall(_.contains(",null,0,0.0,green]")), allVoid)
  }

  test("multi-date kernel == per-date kernels, bitwise: NaN inputs follow Spark's ordering") {
    // NaN is the largest double in Spark's `>` and `greatest`: a NaN
    // influence counts as contributing and a NaN grade weight is kept
    val accs = edgeAccidents(Seq(
      (1, Some(40.1), Some(-105.0), Some(2900.0), "alpine", "fatal", Some("2023-07-15"), Some(9.0), Some(0.8)),
      (2, Some(40.0), Some(-105.1), Some(Double.NaN), "sport", "serious", Some("2024-01-20"),
        Some(Double.NaN), Some(0.6))))
    val dates = Seq("2024-07-15", "2024-12-05")
    val (fused, perDate) = multiVsPerDate(edgeRoutes, accs, dates)
    assert(fused == perDate)
    assert(fused.exists(_.contains("NaN")), fused)
    val withNaNWeather = accs.unionByName(edgeAccidents(Seq(
      (3, Some(40.1), Some(-105.0), Some(2900.0), "trad", "minor", Some("2023-07-15"), Some(9.0),
        Some(Double.NaN)))))
    val (nanW, nanWPerDate) = multiVsPerDate(edgeRoutes, withNaNWeather, dates)
    assert(nanW == nanWPerDate)
    // route 1 (two rows) pairs with all 3 accidents: each NaN influence
    // counts as a contributor and the NaN total clamps to risk 100
    assert(nanW.filter(_.startsWith("[1,")).forall(_.contains(",NaN,6,100.0,red]")), nanW)
  }

  test("multi-date kernel == per-date kernels, bitwise: far pairs the fold skips") {
    // pairs beyond ~38.6 h have a spatial factor of exactly 0.0 and the
    // fold skips them (PairMath.spatialVanishes): a continental and a
    // global spread, |Δlon| > 180° across the antimeridian, near-pole and
    // antipodal pairs
    val types = Seq("alpine", "sport", "trad", "boulder", "ice", "aid", "mixed")
    val grid = for (lat <- Seq(-89.99, -60.0, -30.0, 0.0, 30.0, 40.0, 60.0, 89.99);
                    lon <- Seq(-179.9, -105.0, 0.0, 90.0, 179.9)) yield (lat, lon)
    def routesAt(points: Seq[(Double, Double)]): DataFrame = points.zipWithIndex.map {
      case ((lat, lon), i) =>
        (i.toLong, lat, lon, Some(1000.0 + 37 * i), types(i % types.size), Some(5.0 + i % 9))
    }.toDF("route_id", "lat", "lon", "elev", "route_type", "difficulty")
    def accidentsAt(points: Seq[(Double, Double)]): DataFrame =
      edgeAccidents(points.zipWithIndex.map { case ((lat, lon), i) =>
        (i, Some(lat), Some(lon), Some(900.0 + 211 * i), types(i % types.size),
          if (i % 2 == 0) "fatal" else "serious", Some(s"2023-0${1 + i % 9}-15"),
          Some(4.0 + i % 7), Some(0.3 + 0.05 * i))
      })
    val accs = accidentsAt(Seq((-89.95, 179.95), (-30.0, 180.0), (30.0, -180.0), (0.0, 0.1),
      (40.2, -104.8), (41.5, -100.0), (44.0, 100.0), (60.0, -179.95), (89.95, 0.0),
      (89.95, 179.0), (-40.0, 75.0)))
    val dates = Seq("2024-07-15", "2024-12-05")
    val (fused, perDate) = multiVsPerDate(routesAt(grid), accs, dates)
    assert(fused.size == grid.size * 2)
    assert(fused == perDate)
    // finite latitudes whose difference overflows: the lower bound on the
    // haversine term clears the skip threshold, but the distance is NaN
    val hugeLat = Iterator.iterate(Double.MaxValue)(_ * 0.999)
      .find(x => Math.cos(Math.toRadians(x)) > 0.5).get
    assert((hugeLat - -hugeLat).isInfinite)
    val (overflow, overflowPerDate) = multiVsPerDate(routesAt(Seq((hugeLat, 0.0))),
      accidentsAt(Seq((-hugeLat, 60.0))), dates)
    assert(overflow == overflowPerDate)
    assert(overflow.size == 2 && overflow.forall(_.contains(",NaN,1,100.0,red]")), overflow)
    // within 1e-7° of antipodal: the haversine term rounds past 1 and the
    // JVM's distance is NaN, which the skip test must not drop
    val (antipode, antipodePerDate) = multiVsPerDate(
      routesAt(Seq((-60.46632855234573, -56.404525797748036))),
      accidentsAt(Seq((60.46632860192279, 123.59547414066873))), dates)
    assert(antipode == antipodePerDate)
    assert(antipode.size == 2 && antipode.forall(_.contains(",NaN,1,100.0,red]")), antipode)
  }

  test("multi-date kernel == per-date kernels, bitwise: a subnormal total is not skipped") {
    // every accident sits where −d²/2h² lies in (−745.13, −708.4): the
    // spatial factor, and so the route's total, is subnormal but not 0
    val kmNorth = (km: Double) => 40.0 + Math.toDegrees(km / graft.expr.GeoExprs.EarthRadiusKm)
    val rts = Seq((1L, 40.0, -105.0, None: Option[Double], "boulder", None: Option[Double]))
      .toDF("route_id", "lat", "lon", "elev", "route_type", "difficulty")
    val accs = edgeAccidents(Seq(755.0, 765.0, 770.0).zipWithIndex.map { case (km, i) =>
      (i, Some(kmNorth(km)), Some(-105.0), None, "boulder", "fatal", Some("2024-06-01"), None,
        Some(1.0))
    })
    val dates = Seq("2024-07-15", "2024-12-05")
    val (fused, perDate) = multiVsPerDate(rts, accs, dates)
    assert(fused == perDate)
    val totals = graft.kernel.SafetyKernel.scoreRoutesForDates(rts, accs, dates)
      .select("total_influence").as[Double].collect()
    assert(totals.length == 2 &&
      totals.forall(t => t > 0 && t < java.lang.Double.MIN_NORMAL), totals.toSeq)
  }

  test("multi-date kernel == per-date kernels, bitwise: NaN and ±inf inputs on far pairs") {
    // a far pair's spatial factor is 0.0, but 0 × NaN and 0 × ∞ are NaN:
    // non-finite elevation, difficulty or weather factor must keep the
    // pair in the fold
    val inf = Double.PositiveInfinity
    val rts = Seq[(Long, Double, Double, Option[Double], String, Option[Double])](
      (1L, 40.0, -105.0, Some(Double.NaN), "alpine", Some(10.0)),
      (2L, 40.0, -105.0, Some(inf), "sport", Some(10.0)),
      (3L, 40.0, -105.0, Some(-inf), "trad", Some(10.0)),
      (4L, 40.0, -105.0, Some(3000.0), "ice", Some(Double.NaN)),
      (5L, 40.0, -105.0, Some(3000.0), "boulder", Some(inf)),
      (6L, 40.0, -105.0, Some(3000.0), "mixed", Some(10.0)))
      .toDF("route_id", "lat", "lon", "elev", "route_type", "difficulty")
    val far = (i: Int, elev: Option[Double], difficulty: Option[Double], wsim: Double) =>
      (i, Some(61.0 + i * 0.1), Some(-150.0), elev, "alpine", "fatal", Some("2024-05-01"),
        difficulty, Some(wsim))
    val accs = edgeAccidents(Seq(
      far(1, Some(2000.0), Some(9.0), 0.8),
      far(2, Some(inf), Some(-inf), 0.8),
      far(3, Some(Double.NaN), Some(9.0), 0.8),
      far(4, Some(2000.0), Some(inf), 0.8),
      far(5, Some(2000.0), Some(9.0), Double.NaN),
      far(6, Some(2000.0), Some(9.0), 1e200))) // weather factor 1e600 = ∞
    val dates = Seq("2024-07-15", "2024-12-05")
    val (fused, perDate) = multiVsPerDate(rts, accs, dates)
    assert(fused == perDate)
    assert(fused.forall(_.contains(",NaN,")), fused) // every route meets a NaN pair
    // against the one all-finite accident only the routes' own inputs
    // decide: a NaN elevation or difficulty makes the pair NaN, while an
    // infinite one leaves a finite factor and a true zero
    val (finiteAcc, finiteAccPerDate) =
      multiVsPerDate(rts, accs.where(col("accident_id") === 1), dates)
    assert(finiteAcc == finiteAccPerDate)
    assert(finiteAcc.filter(_.contains(",NaN,")).map(_.take(3)).distinct.sorted ==
      Seq("[1,", "[4,"), finiteAcc)
  }

  test("multi-date kernel: mixed-case and non-ASCII types score as under Spark's lower") {
    // the lookups fold A–Z only (WeightExprs.asciiLower); the same inputs
    // lowered by Spark's `lower` (the ICU case mapping the kernel used
    // before) must score bit-identically, including U+0130 and U+212A
    val rts = Seq[(Long, Double, Double, Option[Double], String, Option[Double])](
      (1L, 40.0, -105.0, Some(3000.0), "ALPINE", Some(10.0)),
      (2L, 40.1, -105.1, Some(2000.0), "Sport", Some(12.0)),
      (3L, 40.2, -105.2, Some(2500.0), "\u0130CE", Some(8.0)),
      (4L, 40.3, -105.3, Some(2500.0), "TRAD\u212A", Some(8.0)),
      (5L, 40.4, -105.4, Some(2500.0), "\u212Aice", Some(8.0)))
      .toDF("route_id", "lat", "lon", "elev", "route_type", "difficulty")
    val accs = edgeAccidents(Seq(
      (1, Some(40.1), Some(-105.0), Some(2900.0), "ALPINE", "FATAL", Some("2023-07-15"), Some(9.0), Some(0.8)),
      (2, Some(40.0), Some(-105.1), Some(2100.0), "sPoRt", "Serious", Some("2024-01-20"), Some(7.0), Some(0.9)),
      (3, Some(40.2), Some(-104.9), Some(2600.0), "\u0130ce", "fatal\u212A", Some("2022-10-01"), Some(7.0), Some(0.7)),
      (4, Some(40.3), Some(-105.2), Some(2600.0), "Boulder\u212A", "\u212Anown", Some("2022-11-01"), Some(7.0), Some(0.9))))
    val lowered = (df: DataFrame, cols: Seq[String]) =>
      cols.foldLeft(df)((d, c) => d.withColumn(c, lower(col(c))))
    val dates = Seq("2024-07-15", "2024-12-05")
    val (fused, perDate) = multiVsPerDate(rts, accs, dates)
    val (fusedLc, perDateLc) = multiVsPerDate(lowered(rts, Seq("route_type")),
      lowered(accs, Seq("acc_type", "severity_raw")), dates)
    assert(fused == perDate && fusedLc == perDateLc)
    assert(fused == fusedLc)
  }

  test("multi-date kernel: an empty accident set scores no rows, and runDaily fails") {
    val none = accidents.limit(0)
    val (fused, perDate) = multiVsPerDate(routes, none, Seq("2024-07-15", "2024-07-16"))
    assert(fused.isEmpty && perDate.isEmpty)
    // the pruned delta keeps the exact kernel's rows: none
    for (pruned <- Seq(false, true))
      assert(ScoringPipeline.accidentDeltaTotals(routes, none, to_date(lit("2024-07-15")),
        pruned).isEmpty, s"pruned = $pruned")
    // an earlier date's partition exists, so the read-back finds a table
    // and the row-count invariant is what fails
    val out = Files.createTempDirectory("scores_empty").toString
    ScoringPipeline.runDaily(spark, routes, accidents, Seq("2024-07-14"), out)
    val e = intercept[IllegalArgumentException] {
      ScoringPipeline.runDaily(spark, routes, none, Seq("2024-07-15"), out)
    }
    assert(e.getMessage.contains("scoring invariant violated: wrote 0 rows, expected 2"),
      e.getMessage)
  }

  test("multi-date kernel scores amplified-weather routes (wmult) per date; bad inputs fail loudly") {
    // a route-side multiplier amplifies every date alike, bitwise the
    // per-date pair kernel
    val amplified = routes.withColumn("wmult", lit(1.2))
    val (fused, perDate) = multiVsPerDate(amplified, accidents, Seq("2024-07-15", "2024-07-16"))
    assert(fused == perDate && fused.size == 4, fused)
    // a float multiplier would multiply in float precision in Catalyst
    val e = intercept[IllegalArgumentException] {
      graft.kernel.SafetyKernel.scoreRoutesForDates(
        amplified.withColumn("wmult", col("wmult").cast("float")), accidents, Seq("2024-07-15"))
    }
    assert(e.getMessage.contains("column wmult is float"), e.getMessage)
    // an accident-side multiplier is rejected, naming the side
    val a = intercept[IllegalArgumentException] {
      graft.kernel.SafetyKernel.scoreRoutesForDates(
        routes, accidents.withColumn("wmult", lit(1.2)), Seq("2024-07-15"))
    }
    assert(a.getMessage.contains("accidents carry wmult"), a.getMessage)
    // two float columns subtract in float precision in the Catalyst
    // kernel; the fold reads doubles, so it refuses float inputs
    val f = intercept[IllegalArgumentException] {
      graft.kernel.SafetyKernel.scoreRoutesForDates(
        routes, accidents.withColumn("a_lat", col("a_lat").cast("float")), Seq("2024-07-15"))
    }
    assert(f.getMessage.contains("column a_lat is float"), f.getMessage)
  }

  test("multi-date kernel checks its accident arrays against the broadcast limit") {
    val key = "spark.sql.maxBroadcastTableSize"
    val prev = spark.conf.getOption(key)
    // 1 accident × (63 + 64 × 2) bytes = 191 bytes
    spark.conf.set(key, "191b")
    try {
      val e = intercept[IllegalArgumentException] {
        graft.kernel.SafetyKernel.scoreRoutesForDates(routes, accidents,
          Seq("2024-07-15", "2024-07-16"))
      }
      assert(e.getMessage.contains("1 accidents × 2 dates take 191 bytes"), e.getMessage)
      spark.conf.set(key, "192b")
      assert(graft.kernel.SafetyKernel.scoreRoutesForDates(routes, accidents,
        Seq("2024-07-15", "2024-07-16")).count() == 4)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("runDaily writes date partitions, invariant holds, rerun is idempotent") {
    val out = Files.createTempDirectory("scores").toString
    val dates = Seq("2024-07-15", "2024-07-16", "2024-07-17")
    val written = ScoringPipeline.runDaily(spark, routes, accidents, dates, out)
    assert(written == routes.count() * 3)

    // partition layout on disk
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq == dates.map(d => s"prediction_date=$d"))

    // re-running one date must replace only that partition (same row count)
    ScoringPipeline.writeScores(
      ScoringPipeline.computeDailyScores(routes, accidents, Seq("2024-07-16")), out)
    val after = spark.read.parquet(out)
    assert(after.count() == routes.count() * 3)
    // still one row per (route, date)
    assert(after.groupBy("route_id", "prediction_date").count()
      .where(col("count") > 1).count() == 0)
  }

  test("crashed-write debris: rerunning a date converges to the clean table") {
    // The idempotency CLAIM (writeScores scaladoc: "re-running a date
    // replaces exactly that date's partition") exercised through failure
    // injection, not just asserted: simulate a mid-write kill by planting
    // the debris a crashed job leaves behind — a stale `_temporary`
    // staging tree at the table root AND a partial orphan file inside the
    // victim date's partition (task-committed output whose job never
    // committed) — then rerun that ONE date and require the final table
    // to equal a clean single run, byte-debris gone.
    val dates = Seq("2024-07-15", "2024-07-16", "2024-07-17")
    def deterministic(path: String) = spark.read.parquet(path)
      .select(col("route_id"), col("prediction_date"),
        round(col("risk_score"), 9).as("risk_score"),
        col("n_contributing"), col("color_code"))
      .orderBy("prediction_date", "route_id")
      .collect().toSeq

    val clean = Files.createTempDirectory("scores_clean").toString
    ScoringPipeline.writeScores(
      ScoringPipeline.computeDailyScores(routes, accidents, dates), clean)
    val want = deterministic(clean)

    val out = Files.createTempDirectory("scores_crash").toString
    ScoringPipeline.writeScores(
      ScoringPipeline.computeDailyScores(routes, accidents, dates), out)
    // crash debris 1: stale staging tree from a killed job
    val tmp = new java.io.File(out, "_temporary/0/_temporary/attempt_dead/")
    assert(tmp.mkdirs())
    Files.write(tmp.toPath.resolve("part-00000-dead.snappy.parquet"),
      Array[Byte](0x50, 0x41, 0x52, 0x31)) // "PAR1" and nothing else
    // crash debris 2: orphan partial file INSIDE the victim partition —
    // not valid parquet, so if the rerun fails to remove it the final
    // read below fails loudly instead of silently passing
    val victim = new java.io.File(out, "prediction_date=2024-07-16")
    assert(victim.isDirectory)
    val orphan = new java.io.File(victim, "part-99999-crashed.c000.snappy.parquet")
    Files.write(orphan.toPath, "not parquet at all".getBytes)

    // the recovery a scheduler would do: rerun the victim date only
    ScoringPipeline.writeScores(
      ScoringPipeline.computeDailyScores(routes, accidents, Seq("2024-07-16")), out)

    assert(!orphan.exists(),
      "dynamic partition overwrite left the crashed partial file in place")
    assert(deterministic(out) == want,
      "post-crash rerun does not converge to the clean single-run table")
    // and the UNTOUCHED dates survived the single-date rerun — the
    // property a static-overwrite regression (mutation arm M24) destroys:
    // static mode truncates the whole table and leaves only the rerun date
    val remainingDates = spark.read.parquet(out)
      .select("prediction_date").distinct().count()
    assert(remainingDates == 3L,
      "rerunning one date disturbed the other dates' partitions")
  }

  test("retainDates drops exactly the non-kept partitions") {
    val out = Files.createTempDirectory("scores").toString
    val dates = Seq("2024-07-15", "2024-07-16", "2024-07-17")
    ScoringPipeline.runDaily(spark, routes, accidents, dates, out)
    val dropped = ScoringPipeline.retainDates(spark, out, keep = Seq("2024-07-16", "2024-07-17"))
    assert(dropped == Seq("prediction_date=2024-07-15"))
    val remaining = spark.read.parquet(out)
      .select("prediction_date").distinct().as[java.sql.Date].collect().map(_.toString).sorted
    assert(remaining.toSeq == Seq("2024-07-16", "2024-07-17"))
  }

  test("scores at the cluster beat scores far away (sanity of the batch output)") {
    val out = Files.createTempDirectory("scores").toString
    ScoringPipeline.runDaily(spark, routes, accidents, Seq("2024-07-15"), out)
    val scores = spark.read.parquet(out)
      .select("route_id", "risk_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scores(1L) > scores(2L)) // route 1 sits at the accident
  }

  test("exportScores: JSONL/CSV round-trip preserves schema and values") {
    val dates = Seq("2024-07-15", "2024-07-16")
    val scores = ScoringPipeline.computeDailyScores(routes, accidents, dates)
      .drop("calculated_at") // timestamp precision differs per text format
    val want = scores
      .select("route_id", "prediction_date", "risk_score", "n_contributing", "color_code")
      .collect().map(r => (r.getLong(0), r.getDate(1).toString) -> r).toMap
    for (fmt <- Seq("json", "csv")) {
      val out = Files.createTempDirectory(s"export-$fmt").toString
      ScoringPipeline.exportScores(scores, out, fmt)
      // date-partitioned layout, like the parquet sink
      val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName).sorted
      assert(dirs.toSeq == dates.map(d => s"prediction_date=$d"), s"$fmt layout")
      val back = ScoringPipeline.readExport(spark, out, fmt, scores.schema)
        .select("route_id", "prediction_date", "risk_score", "n_contributing", "color_code")
        .collect().map(r => (r.getLong(0), r.getDate(1).toString) -> r).toMap
      assert(back.keySet == want.keySet, s"$fmt keys")
      want.foreach { case (k, w) =>
        val b = back(k)
        assert(math.abs(b.getDouble(2) - w.getDouble(2)) < 1e-9, s"$fmt risk @ $k")
        assert(b.getLong(3) == w.getLong(3) && b.getString(4) == w.getString(4), s"$fmt @ $k")
      }
    }
  }

  test("mergeScores: row-grain upsert touches only updated keys/partitions") {
    val out = Files.createTempDirectory("merge-scores").toString
    ScoringPipeline.runDaily(spark, routes, accidents,
      Seq("2024-07-15", "2024-07-16"), out)

    // update ONE route on ONE date
    // localCheckpoint: the update frame must not lazily re-read the target
    // files after the merge rewrites them
    val update = spark.read.parquet(out)
      .where(col("route_id") === 1L && col("prediction_date") === "2024-07-15")
      .withColumn("risk_score", lit(99.0))
      .withColumn("color_code", lit("red"))
      .localCheckpoint()
    ScoringPipeline.mergeScores(spark, update, out)

    val after = spark.read.parquet(out)
    assert(after.count() == 4) // still 2 routes x 2 dates — upsert, not append
    val k = after.select("route_id", "prediction_date", "risk_score").collect()
      .map(r => (r.getLong(0), r.getDate(1).toString) -> r.getDouble(2)).toMap
    assert(k((1L, "2024-07-15")) == 99.0)
    assert(k((2L, "2024-07-15")) != 99.0) // untouched row of the same partition
    assert(k((1L, "2024-07-16")) != 99.0) // untouched partition
    // merging a brand-new key inserts it
    val newRow = update
      .withColumn("route_id", lit(7L)).withColumn("risk_score", lit(1.0))
    ScoringPipeline.mergeScores(spark, newRow, out)
    assert(spark.read.parquet(out).count() == 5)
  }

  test("applyAccidentDelta == full recompute after new accidents arrive") {
    val dir = "/root/testdata/sf0.001"
    val routes = graft.queries.Derived.routes(spark, dir)
    val acc = graft.queries.Derived.accidents(spark, dir)
    val oldAcc = acc.where(col("accident_id") % 5 =!= 0)
    val newAcc = acc.where(col("accident_id") % 5 === 0)
    assert(newAcc.count() > 0 && oldAcc.count() > 0)
    val planDate = graft.queries.Derived.planDate

    val incr = ScoringPipeline.applyAccidentDelta(
      graft.kernel.PairKernel.scoreRoutes(routes, oldAcc, planDate),
      routes, newAcc, planDate)
      .select("route_id", "total_influence", "n_contributing", "risk_score", "color_code")
      .collect().map(r => r.getLong(0) -> r).toMap
    val full = graft.kernel.PairKernel.scoreRoutes(routes, acc, planDate)
      .collect().map(r => r.getLong(0) -> r).toMap

    assert(incr.keySet == full.keySet)
    full.foreach { case (id, f) =>
      val i = incr(id)
      // float sums differ only in association order → ulp-level tolerance
      assert(math.abs(i.getAs[Double]("risk_score") - f.getAs[Double]("risk_score")) < 1e-9,
        s"risk mismatch route $id")
      assert(i.getAs[Long]("n_contributing") == f.getAs[Long]("n_contributing"))
      assert(i.getAs[String]("color_code") == f.getAs[String]("color_code"))
    }
  }

  test("applyAccidentDelta on a multi-date table updates only the plan date") {
    val newAcc = Seq(
      (2, 40.2, -105.1, Some(2800.0), "alpine", "serious", "2024-06-01", Some(9.5)))
      .toDF("accident_id", "a_lat", "a_lon", "a_elev", "acc_type", "severity_raw", "d", "a_difficulty")
      .withColumn("a_date", to_date(col("d"))).drop("d")
    val dates = Seq("2024-07-15", "2024-07-16")
    val multi = ScoringPipeline.computeDailyScores(routes, accidents, dates)
    val updated = ScoringPipeline.applyAccidentDelta(
      multi, routes, newAcc, to_date(lit("2024-07-15")))
      .select(col("route_id"), col("prediction_date").cast("string").as("d"),
        col("risk_score"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(2)).toMap
    val before = multi
      .select(col("route_id"), col("prediction_date").cast("string").as("d"),
        col("risk_score"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(2)).toMap
    routes.select("route_id").collect().map(_.getLong(0)).foreach { id =>
      // pre-fix, the route-only join added the 07-15 delta to BOTH dates
      assert(updated((id, "2024-07-16")) == before((id, "2024-07-16")),
        s"route $id: other date's score was touched")
      assert(updated((id, "2024-07-15")) > before((id, "2024-07-15")),
        s"route $id: plan date did not absorb the delta")
    }
    // and the plan-date rows equal a full recompute with both accidents
    val full = graft.kernel.PairKernel.scoreRoutes(
      routes, accidents.unionByName(newAcc), to_date(lit("2024-07-15")))
      .select("route_id", "risk_score")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    full.foreach { case (id, r) =>
      assert(math.abs(updated((id, "2024-07-15")) - r) < 1e-9, s"route $id")
    }
  }

  test("pruned ingest: applyAccidentDelta + mergeScores leaves old + delta on the plan date") {
    // routes over ~8° × 10°: the 1e-6 gates (107–401 km) leave far routes
    // out of a new accident's reach
    val routes = spark.range(200).select(
      col("id").as("route_id"),
      (lit(36.0) + (col("id") % 40) / 5.0).as("lat"),
      (lit(-115.0) + (col("id") % 50) / 5.0).as("lon"),
      (lit(1500.0) + (col("id") % 2000)).as("elev"),
      when(col("id") % 3 === 0, "alpine").when(col("id") % 3 === 1, "sport")
        .otherwise("trad").as("route_type"),
      (lit(5.0) + (col("id") % 11)).as("difficulty"))
    val acc = spark.range(60).select(
      col("id").as("accident_id"),
      (lit(36.0) + ((col("id") * 37) % 40) / 5.0).as("a_lat"),
      (lit(-115.0) + ((col("id") * 53) % 50) / 5.0).as("a_lon"),
      (lit(1400.0) + ((col("id") * 13) % 2200)).as("a_elev"),
      when(col("id") % 2 === 0, "alpine").otherwise("sport").as("acc_type"),
      when(col("id") % 3 === 0, "fatal").otherwise("minor").as("severity_raw"),
      date_add(to_date(lit("2023-01-01")), (col("id") % 500).cast("int")).as("a_date"),
      (lit(4.0) + ((col("id") * 7) % 13)).as("a_difficulty"))
    val oldAcc = acc.where(col("accident_id") % 5 =!= 0)
    val newAcc = acc.where(col("accident_id") % 5 === 0)
    val planIso = "2024-07-15"
    val planDate = to_date(lit(planIso))
    val out = Files.createTempDirectory("pruned-ingest").toString
    ScoringPipeline.writeScores(ScoringPipeline.computeDailyScores(routes, oldAcc,
      Seq(planIso, "2024-07-16")), out)
    def table(): Map[(Long, String), org.apache.spark.sql.Row] = spark.read.parquet(out)
      .select(col("route_id"), col("prediction_date").cast("string"), col("total_influence"),
        col("n_contributing"), col("risk_score"), col("color_code"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r).toMap
    val before = table()
    val delta = ScoringPipeline.accidentDeltaTotals(routes, newAcc, planDate, pruned = true)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(delta.size == 200)
    assert(delta.values.exists(_._1 > 0.0) && delta.values.exists(_ == ((0.0, 0L))))
    val updates = ScoringPipeline.applyAccidentDelta(
      spark.read.parquet(out).where(col("prediction_date") === planDate),
      routes, newAcc, planDate, pruned = true)
    ScoringPipeline.mergeScores(spark, updates, out)
    val after = table()
    assert(spark.read.parquet(out).count() == before.size && after.keySet == before.keySet)
    before.foreach { case (k @ (id, d), b) =>
      val a = after(k)
      if (d == planIso) {
        val (dt, dn) = delta(id)
        val t = (if (b.isNullAt(2)) 0.0 else b.getDouble(2)) + dt
        assert(a.getDouble(2) == t && a.getLong(3) == b.getLong(3) + dn, s"$k: $a vs $b + $dt")
        assert(a.getDouble(4) == math.min(100.0, math.max(0.0, t * 7.0)), s"$k risk")
      } else assert(a == b, s"$k: another date's row changed")
    }
  }

  test("pruned delta touches only routes near the new accident") {
    import spark.implicits._
    val routes = (1L to 500L).map { i =>
      (i, 35.0 + (i % 100) * 0.2, -120.0 + (i / 100) * 0.5,
        Some(1500.0), "trad", Some(7.0))
    }.toDF("route_id", "lat", "lon", "elev", "route_type", "difficulty")
    val newAcc = Seq((1L, 35.0, -120.0, Some(1500.0), "trad", "serious",
      java.sql.Date.valueOf("2024-06-01"), Some(7.0)))
      .toDF("accident_id", "a_lat", "a_lon", "a_elev", "acc_type", "severity_raw",
        "a_date", "a_difficulty")
    val delta = ScoringPipeline.accidentDeltaTotals(
      routes, newAcc, graft.queries.Derived.planDate, pruned = true)
    // one localized accident must not influence the whole route table
    // (far routes keep a zero-delta row — the scoring contract — but only
    // in-radius routes carry actual influence)
    assert(delta.count() == 500)
    val touched = delta.where(col("d_total") > 0).count()
    assert(touched > 0 && touched < 500, s"pruned delta touched $touched of 500")
  }
}
