package graft.kernel

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The fold's top-k and amplified-weather modes against the pair-grain
  * reference ([[PairKernel]]), bit for bit: each arm compares rows as
  * strings, and string equality of the doubles is bit equality (NaN and
  * NULL included).
  */
class RouteFoldModesSpec extends SparkSpec {

  import spark.implicits._

  private val planDate = to_date(lit("2024-07-15"))

  private val ContributorCols = Seq("rank", "accident_id", "influence", "dist_km", "spatial_w",
    "temporal_w", "elevation_w", "route_type_w", "severity_w", "grade_w")

  /** The fold's top-`k` contributors, one row per (route, rank). */
  private def foldTop(rts: DataFrame, accs: DataFrame, k: Int): Seq[String] =
    SafetyKernel.scoreWithContributors(rts, accs, planDate, k)
      .select(col("route_id"), explode(col("contributors")).as("c"))
      .select(col("route_id") +: ContributorCols.map(c => col(s"c.$c")): _*)
      .orderBy("route_id", "rank").collect().map(_.toString).toSeq

  private def refTop(rts: DataFrame, accs: DataFrame, k: Int): Seq[String] =
    PairKernel.topContributors(PairKernel.pairInfluence(rts, accs, planDate), k)
      .select(("route_id" +: ContributorCols).map(col): _*)
      .orderBy("route_id", "rank").collect().map(_.toString).toSeq

  private def scoreRows(df: DataFrame): Seq[String] =
    df.select("route_id", "total_influence", "n_contributing", "risk_score", "color_code")
      .orderBy("route_id").collect().map(_.toString).toSeq

  /** Top-k and totals of the one fold pass equal the reference's, and its
    * totals equal `scoreRoutes`'s. Returns the fold's contributor rows.
    */
  private def assertTopK(rts: DataFrame, accs: DataFrame, k: Int): Seq[String] = {
    val top = foldTop(rts, accs, k)
    assert(top == refTop(rts, accs, k), s"k = $k")
    val scored = scoreRows(SafetyKernel.scoreWithContributors(rts, accs, planDate, k))
    assert(scored == scoreRows(PairKernel.scoreRoutes(rts, accs, planDate)), s"k = $k")
    assert(scored == scoreRows(SafetyKernel.scoreRoutes(rts, accs, planDate)), s"k = $k")
    top
  }

  private type Acc = (Long, Option[Double], Option[Double], Option[Double], String, String,
    Option[String], Option[Double], Option[Double])

  private def accidentFrame(rows: Seq[Acc]): DataFrame =
    rows.toDF("accident_id", "a_lat", "a_lon", "a_elev", "acc_type", "severity_raw", "d",
        "a_difficulty", "wsim")
      .withColumn("a_date", to_date(col("d"))).drop("d")

  private def routeFrame(rows: Seq[(Long, Option[Double], Option[Double], Option[Double], String,
    Option[Double])]): DataFrame =
    rows.toDF("route_id", "lat", "lon", "elev", "route_type", "difficulty")

  private val rockies = routeFrame(Seq(
    (1L, Some(40.0), Some(-105.0), Some(3000.0), "alpine", Some(10.0)),
    (2L, Some(40.3), Some(-105.4), Some(2500.0), "trad", None)))

  test("top-k: influence ties straddling rank k break by accident_id, bitwise the pair kernel") {
    // six accidents at one spot with one type, severity and date tie on
    // influence; rank k falls inside the tie, so accident_id decides
    val tied = Seq(6L, 2L, 9L, 4L, 1L, 7L).map(id =>
      (id, Some(40.1), Some(-105.0), Some(2900.0), "alpine", "fatal", Some("2023-07-15"),
        Some(9.0), Some(0.6)): Acc)
    val others = Seq[Acc](
      (3L, Some(40.0), Some(-105.0), Some(3000.0), "alpine", "fatal", Some("2024-07-01"),
        Some(10.0), Some(0.9)),
      (5L, Some(40.5), Some(-105.5), Some(2000.0), "sport", "minor", Some("2020-01-10"),
        None, Some(0.5)))
    val accs = accidentFrame(tied ++ others)
    for (k <- Seq(1, 2, 3, 4, 7)) assertTopK(rockies, accs, k)
    // route 1: accident 3 first, then the tie in id order
    val top3 = foldTop(rockies.where(col("route_id") === 1L), accs, 3)
    assert(top3.map(_.split(",")(2)) == Seq("3", "1", "2"), top3)
  }

  test("top-k: NULL and NaN influences and a route with NULL coordinates, bitwise the pair kernel") {
    val accs = accidentFrame(Seq[Acc](
      (1L, Some(40.1), Some(-105.0), Some(2900.0), "alpine", "fatal", Some("2023-07-15"),
        Some(9.0), Some(0.8)),
      (2L, None, Some(-105.0), Some(2900.0), "sport", "minor", Some("2023-07-15"), None,
        Some(0.8)),                                    // NULL coordinate: void
      (3L, Some(40.2), Some(-105.1), Some(2800.0), "trad", "serious", None, Some(8.0),
        Some(0.8)),                                    // NULL date: void
      (4L, Some(40.2), Some(-105.2), Some(2700.0), "ice", "fatal", Some("2022-02-01"),
        Some(7.0), None),                              // NULL similarity: void
      (5L, Some(40.0), Some(-105.3), Some(Double.NaN), "alpine", "minor", Some("2021-08-01"),
        Some(9.0), Some(0.7)),                         // NaN elevation: NaN influence
      (6L, Some(41.0), Some(-106.0), Some(2000.0), "mixed", "fatal", Some("2024-06-01"),
        Some(6.0), Some(0.9))))
    val rts = rockies.unionByName(routeFrame(Seq(
      (3L, None, Some(-105.0), Some(2000.0), "sport", Some(12.0)),   // NULL coordinate
      (4L, Some(40.2), Some(Double.NaN), Some(2200.0), "ice", None),  // NaN longitude
      (5L, Some(40.1), Some(-105.1), None, "scramble", None))))
    for (k <- Seq(1, 2, 4, 6, 10)) assertTopK(rts, accs, k)
    val all = foldTop(rts, accs, 6)
    // the NaN influence ranks first, the three void accidents last in id order
    assert(all.filter(_.startsWith("[1,")).map(_.split(",")(2)) == Seq("5", "1", "6", "2", "3", "4"),
      all)
    // a NULL-coordinate route: every influence and distance NULL, by id
    assert(all.filter(_.startsWith("[3,")).map(_.split(",").slice(2, 5).mkString(",")) ==
      (1 to 6).map(i => s"$i,null,null"), all)
  }

  test("top-k: k beyond the accident count keeps the far pairs the sums skip (influence 0.0)") {
    // two accidents thousands of km away: spatial exactly 0.0, the exact
    // fold skips them for its sums, yet they are contributors
    val accs = accidentFrame(Seq[Acc](
      (1L, Some(40.1), Some(-105.0), Some(2900.0), "alpine", "fatal", Some("2023-07-15"),
        Some(9.0), Some(0.8)),
      (2L, Some(-33.9), Some(18.4), Some(100.0), "sport", "minor", Some("2023-01-15"), None,
        Some(0.8)),
      (3L, Some(64.1), Some(-21.9), Some(50.0), "ice", "fatal", Some("2020-02-01"), Some(7.0),
        Some(0.9)),
      (4L, Some(40.3), Some(-105.4), Some(2600.0), "trad", "serious", Some("2024-07-10"),
        Some(8.0), Some(0.5))))
    val top = assertTopK(rockies, accs, 50)
    assert(top.size == 2 * 4)
    assert(top.filter(_.startsWith("[1,")).takeRight(2).map(_.split(",").slice(2, 4).mkString(",")) ==
      Seq("2,0.0", "3,0.0"), top)
  }

  test("amplified weather: wmult NULL, 1.0 and 2.0 per route, bitwise the pair kernel") {
    // similarities on both sides of the 0.25 exclusion threshold once
    // doubled, far accidents the fold skips, and per-route multipliers
    val accs = accidentFrame(Seq[Acc](
      (1L, Some(40.1), Some(-105.0), Some(2900.0), "alpine", "fatal", Some("2023-07-15"),
        Some(9.0), Some(0.2)),
      (2L, Some(40.4), Some(-105.3), Some(2500.0), "sport", "minor", Some("2023-01-15"), None,
        Some(0.45)),
      (3L, Some(40.0), Some(-105.1), Some(3100.0), "trad", "serious", Some("2024-07-01"),
        Some(11.0), Some(0.75)),
      (4L, Some(-33.9), Some(18.4), Some(100.0), "ice", "fatal", Some("2020-02-01"), Some(7.0),
        Some(0.6)),
      (5L, Some(40.2), Some(-105.2), Some(2700.0), "mixed", "fatal", Some("2022-06-01"),
        Some(8.0), None)))
    val at = Seq(
      (1L, 40.0, -105.0, Some(3000.0), "alpine", Some(10.0)),
      (2L, 40.3, -105.4, Some(2500.0), "trad", Option.empty[Double]))
    val multipliers = Seq(None, Some(1.0), Some(2.0))
    val amplified = (for ((m, j) <- multipliers.zipWithIndex; (id, lat, lon, e, t, d) <- at)
      yield (id + 10 * j, lat, lon, e, t, d, m))
      .toDF("route_id", "lat", "lon", "elev", "route_type", "difficulty", "wmult")
    val exact = scoreRows(SafetyKernel.scoreRoutes(amplified, accs, planDate))
    assert(exact == scoreRows(PairKernel.scoreRoutes(amplified, accs, planDate)))
    for (k <- Seq(2, 5)) assertTopK(amplified, accs, k)
    // NULL multiplier: every influence NULL
    assert(exact.take(2) == Seq("[1,null,0,0.0,green]", "[2,null,0,0.0,green]"), exact)
    // 1.0 scores exactly as no multiplier; 2.0 moves every total
    val plain = scoreRows(SafetyKernel.scoreRoutes(
      amplified.where(col("route_id") < 20).drop("wmult"), accs, planDate))
    assert(exact.slice(2, 4) == plain.slice(2, 4), (exact, plain))
    assert(exact.slice(4, 6).map(_.drop(3)) != plain.slice(2, 4).map(_.drop(3)), (exact, plain))
    // and a pruned fold still refuses any multiplier
    val e = intercept[IllegalArgumentException] {
      KernelPruning.scoreRoutesPruned(amplified, accs, planDate)
    }
    assert(e.getMessage.contains("routes carry wmult"), e.getMessage)
  }

  test("top-k: predict's breakdown equals the pair kernel's, a non-integral accident_id fails") {
    val accs = accidentFrame(Seq[Acc](
      (1L, Some(40.1), Some(-105.0), Some(2900.0), "alpine", "fatal", Some("2023-07-15"),
        Some(9.0), None),
      (2L, Some(40.4), Some(-105.3), Some(2500.0), "sport", "minor", Some("2023-01-15"), None,
        None))).drop("wsim")
    val p = Predict.predict(spark,
      Predict.PredictionRequest(40.0, -105.0, Some(3000.0), "alpine", "2024-07-15"), accs)
    val route = routeFrame(Seq((1L, Some(40.0), Some(-105.0), Some(3000.0), "alpine", None)))
    assert(p.topAccidents.map(r => "[1," + r.toSeq.mkString(",") + "]") == refTop(route, accs, 50))
    val e = intercept[IllegalArgumentException] {
      SafetyKernel.scoreWithContributors(route, accs.withColumn("accident_id",
        col("accident_id").cast("string")), planDate, 5)
    }
    assert(e.getMessage.contains("column accident_id is string"), e.getMessage)
  }
}
