package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.expr.{StatsExprs, WeatherPatternSimilarity}
import graft.weather.{WeatherAssembly, WeatherExprs, WeatherStats}

/** Weather-pattern operators (SURVEY A2-A5, W3) oracle-checked on the
  * deterministic derived series. The Spark side computes per-row over array
  * columns with higher-order functions; the DuckDB oracle re-derives the same
  * statistics relationally (group sums over a `range(7)` lateral) — two
  * independent implementations of the same math.
  */
object WeatherQueries {

  private def accidentIds(s: SparkSession, dir: String): DataFrame =
    graft.Tables.supplier(s, dir).select(col("s_suppkey").as("accident_id"))

  /** A6→A7 composition: per-bucket archive stats → extreme-weather
    * multiplier vs the current pattern (ref month = month(planDate) = 7).
    * Output: (bucket, …stats…, wmult) — a tiny frame meant to be
    * broadcast onto the route side of the kernel.
    */
  private[queries] def bucketMultipliers(s: SparkSession, dir: String): DataFrame = {
    val stats = WeatherStats.bucketFactorStats(
      Derived.archive4(s, dir),
      Seq("temperature", "precipitation", "wind_speed"), refMonth = 7)
    // visibility stat is the service's fixed (10000.0, 0.0) — never triggers
    // (weather_service.py:455)
    val statsStruct = struct(
      col("wind_speed_mean").as("wind_speed_mean"),
      col("wind_speed_std").as("wind_speed_std"),
      col("precipitation_mean").as("precipitation_mean"),
      col("precipitation_std").as("precipitation_std"),
      col("temperature_mean").as("temperature_mean"),
      col("temperature_std").as("temperature_std"),
      lit(10000.0).as("visibility_mean"), lit(0.0).as("visibility_std"))
    stats.withColumn("wmult",
      WeatherExprs.extremeMultiplier(
        Derived.weatherPattern(lit(Derived.CurrentKey)), statsStruct))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // A4: freeze-thaw day counting over struct arrays.
    "w01_freeze_thaw" -> ((s, dir) => {
      accidentIds(s, dir)
        .withColumn("pattern", Derived.weatherPattern(col("accident_id")))
        .select(
          col("accident_id"),
          StatsExprs.freezeThawCount(col("pattern.daily_temps")).cast("long")
            .as("freeze_thaw_days"))
        .orderBy("accident_id")
    }),

    // W3: exponential within-window day weights, normalized.
    "w02_day_weights" -> ((s, dir) => {
      import s.implicits._
      Seq(7).toDF("n")
        .select(posexplode(StatsExprs.withinWindowWeights(col("n"))))
        .select(col("pos").cast("long").as("day_idx"), round(col("col"), 6).as("weight"))
        .orderBy("day_idx")
    }),

    // A3: weighted Pearson correlation (temperature factor) per accident
    // against the shared current pattern.
    "w03_weighted_pearson" -> ((s, dir) => {
      // arrays and weights staged as columns so the pearson tree expands
      // over cheap attribute refs, not re-evaluated array builders
      accidentIds(s, dir)
        .withColumn("xs", Derived.weatherPattern(lit(Derived.CurrentKey))
          .getField("temperature"))
        .withColumn("ys", Derived.weatherPattern(col("accident_id"))
          .getField("temperature"))
        .withColumn("w", StatsExprs.withinWindowWeights(size(col("ys"))))
        .select(
          col("accident_id"),
          round(StatsExprs.weightedPearson(col("xs"), col("ys"), col("w")), 6)
            .as("wpearson"))
        .orderBy("accident_id")
    }),

    // A5: full 6-factor weather similarity (no extreme amplification),
    // the native expression every production path evaluates.
    "w04_weather_similarity" -> ((s, dir) =>
      accidentIds(s, dir).select(col("accident_id"), round(WeatherPatternSimilarity.similarity(
          Derived.weatherPattern(lit(Derived.CurrentKey)),
          Derived.weatherPattern(col("accident_id"))), 6).as("weather_similarity"))
        .orderBy("accident_id")),

    // A5 detailed: the reference's calculate_weather_similarity_detailed
    // (weather_similarity.py:347-483) — per-factor normalized correlations,
    // freeze-thaw counts and days compared alongside the composite, all
    // from the native detail struct; the oracle re-derives every factor
    // column independently, so a wrong factor cannot hide inside a right sum.
    "w10_similarity_detailed" -> ((s, dir) => {
      accidentIds(s, dir)
        .withColumn("ws", WeatherPatternSimilarity.detailed(
          Derived.weatherPattern(lit(Derived.CurrentKey)),
          Derived.weatherPattern(col("accident_id"))))
        .select(Seq(col("accident_id")) ++
          (WeatherPatternSimilarity.Factors :+ "freeze_thaw").map(f =>
            round(col(s"ws.score_$f"), 6).as(s"score_$f")) ++
          Seq("ft_current", "ft_accident", "days_compared").map(c => col(s"ws.$c").as(c)) :+
          round(col("ws.similarity"), 6).as("base_similarity"): _*)
        .orderBy("accident_id")
    }),

    // S4/A2/J3: the REAL pattern assembly — weather ROWS table → window
    // join → Python-`or` defaults → sort_array(collect_list) → ≥5-day
    // validity — dumped back to per-day scalars through the assembled
    // arrays (so ordering, defaults, window gating AND validity are all
    // oracle-load-bearing).
    "w07_pattern_assembly" -> ((s, dir) => {
      val pats = WeatherAssembly.assemblePatterns(
        Derived.weatherRows(s, dir), Derived.accidents(s, dir))
      pats.select(
        col("accident_id"), col("n_days").cast("long").as("n_days"),
        posexplode(arrays_zip(
          col("pattern.temperature"), col("pattern.precipitation"),
          col("pattern.wind_speed"), col("pattern.visibility"),
          col("pattern.cloud_cover"), col("pattern.daily_temps"))))
        .select(
          col("accident_id"),
          col("pos").cast("long").as("day_idx"),
          col("n_days"),
          col("col.temperature").as("temperature"),
          col("col.precipitation").as("precipitation"),
          col("col.wind_speed").as("wind_speed"),
          col("col.visibility").as("visibility"),
          col("col.cloud_cover").as("cloud_cover"),
          col("col.daily_temps.min").as("temp_min"),
          col("col.daily_temps.max").as("temp_max"))
        .orderBy("accident_id", "day_idx")
    }),

    // compute_weather_similarities_cached twin (safety_computation_optimized
    // .py:516-568): the per-bucket similarity MEMO table — locations sharing
    // a weather bucket share the current pattern, so similarity is computed
    // once per (bucket, accident) and fanned back out by equi-join. Buckets
    // get DISTINCT current patterns (keyed CurrentKey+bucket) so the
    // factorization is load-bearing; invalid accidents carry neutral 0.5.
    "w09_similarity_memo" -> ((s, dir) => {
      val locs = Derived.locations(s, dir)
        .withColumn("bucket", col("location_id") % 10)
      graft.weather.WeatherMemo.similarityMemo(
        locs, "bucket", Derived.accidents(s, dir), Derived.weatherRows(s, dir),
        b => Derived.weatherPattern(lit(Derived.CurrentKey) + b))
        .select(col("bucket"), col("accident_id"),
          round(col("wsim"), 6).as("wsim"))
        .orderBy("bucket", "accident_id")
    }),

    // A7: archive stats → extreme-weather multiplier per location bucket
    // (wind engineered so some buckets trigger the >2σ rule, others not).
    "w08_extreme_mult" -> ((s, dir) => {
      bucketMultipliers(s, dir)
        .select(
          col("bucket"),
          round(col("wind_speed_mean"), 6).as("wind_mean"),
          round(col("wind_speed_std"), 6).as("wind_std"),
          round(col("wmult"), 6).as("wmult"))
        .orderBy("bucket")
    }))

  // --- oracle SQL -----------------------------------------------------------

  private val A = "accident_id"
  private val C = Derived.CurrentKey.toString

  /** Per-(accident, day) series columns + normalized weights. The weights
    * are normalized TWICE (wn0 = w/Σw, then wn = wn0/Σwn0), mirroring the
    * Spark pipeline exactly: withinWindowWeights normalizes, then
    * weightedPearson renormalizes internally — the second pass shifts each
    * weight by ~1 ulp, and a single-pass oracle would carry that systematic
    * divergence into every moment sum under an exact-equality gate.
    */
  private val seriesCte =
    s"""acc AS (SELECT s_suppkey AS accident_id FROM supplier),
       |d AS (
       |  SELECT accident_id, k,
       |         ${Sql.tempAvg(A, "k")} AS t_x, ${Sql.tempAvg(C, "k")} AS t_y,
       |         ${Sql.precip(A, "k")} AS p_x, ${Sql.precip(C, "k")} AS p_y,
       |         ${Sql.wind(A, "k")} AS w_x, ${Sql.wind(C, "k")} AS w_y,
       |         ${Sql.visib(A, "k")} AS v_x, ${Sql.visib(C, "k")} AS v_y,
       |         ${Sql.cloud(A, "k")} AS c_x, ${Sql.cloud(C, "k")} AS c_y,
       |         ${Sql.tempMin(A, "k")} AS tmin_x, ${Sql.tempMax(A, "k")} AS tmax_x,
       |         ${Sql.tempMin(C, "k")} AS tmin_y, ${Sql.tempMax(C, "k")} AS tmax_y,
       |         pow(0.85, 6 - k) AS w
       |  FROM acc, range(7) t(k)),
       |n0 AS (SELECT *, w / sum(w) OVER (PARTITION BY accident_id) AS wn0 FROM d),
       |n AS (SELECT *, wn0 / sum(wn0) OVER (PARTITION BY accident_id) AS wn FROM n0)""".stripMargin

  /** Weighted-Pearson score `(corr+1)/2` fragment for factor prefix `f`,
    * with the zero-variance edge rules of StatsExprs.weightedPearson.
    * Expects CTEs m/s to expose `v{f}x, v{f}y, c{f}`. The x/y binding is
    * per CTE chain — [[seriesCte]] binds x to the ACCIDENT series and y to
    * the current one; [[assembledSimilarityCtes]]/[[memoSimilarityCtes]]
    * bind x to the current/bucket series and y to the assembled accident
    * pattern. Pearson is symmetric so the score is binding-agnostic, but
    * LABELED outputs (w10's ft_current/ft_accident) must follow the
    * enclosing chain's actual binding, not an assumed convention.
    */
  private def corrCase(f: String): String = {
    val (vx, vy, cv) = (s"v${f}x", s"v${f}y", s"c$f")
    s"""(CASE WHEN sqrt($vx) = 0 AND sqrt($vy) = 0 THEN 1.0
       |      WHEN sqrt($vx) = 0 OR sqrt($vy) = 0 THEN 0.0
       |      ELSE least(1.0, greatest(-1.0, $cv / (sqrt($vx) * sqrt($vy)))) END + 1.0) / 2""".stripMargin
  }

  private def momentSums(f: String): String =
    s"sum(wn * (${f}_x - m${f}x) * (${f}_x - m${f}x)) AS v${f}x, " +
      s"sum(wn * (${f}_y - m${f}y) * (${f}_y - m${f}y)) AS v${f}y, " +
      s"sum((${f}_x - m${f}x) * (${f}_y - m${f}y) * wn) AS c$f"

  private val factors = Seq("t", "p", "w", "v", "c")

  /** Freeze-thaw proximity and composite-similarity fragments, defined ONCE
    * for every consumer (the assembled and memo CTE chains, the w04 and w10
    * oracles) — a formula change edited in one oracle but not another would
    * surface as an inscrutable VALUES-DIFF, so there is exactly one copy.
    * Expect the enclosing scope to expose `v{f}x/v{f}y/c{f}` and
    * `ft_x`/`ft_y`.
    */
  private val FtSimSql =
    "greatest(0.0, 1.0 - abs(ft_x - ft_y) / (greatest(ft_x, ft_y, 1) + 7))"
  private val WsimSql = {
    val fw = WeatherExprs.FactorWeight
    factors.map(f => s"(${corrCase(f)}) * $fw").mkString(" + ") +
      s" + ($FtSimSql) * $fw"
  }

  private val meansCte =
    "m AS (SELECT accident_id, " +
      factors.map(f => s"sum(wn * ${f}_x) AS m${f}x, sum(wn * ${f}_y) AS m${f}y").mkString(", ") +
      " FROM n GROUP BY accident_id)"

  private val statsCte =
    "s AS (SELECT n.accident_id, " +
      factors.map(momentSums).mkString(", ") +
      ", CAST(count(*) FILTER (WHERE tmin_x < 0 AND tmax_x > 0) AS BIGINT) AS ft_x" +
      ", CAST(count(*) FILTER (WHERE tmin_y < 0 AND tmax_y > 0) AS BIGINT) AS ft_y" +
      " FROM n JOIN m USING (accident_id) GROUP BY n.accident_id)"

  // --- assembled-pattern CTEs (weather ROWS table → defaults → order) ------

  private def falsySql(c: String, d: String): String =
    s"CASE WHEN $c IS NULL OR $c = 0.0 THEN $d ELSE $c END"

  private val tAvgSql = falsySql("temperature_avg", WeatherAssembly.TempDefaultC.toString)

  /** wrows → window-gated defaulted rows → per-accident day numbering.
    * Mirrors WeatherAssembly.defaultedRecords + the sort_array ordering
    * (row_number over date == array position after sort_array).
    * Expects the `accidents` CTE in scope.
    */
  private[queries] val assemblyCtes: String =
    s"""${Sql.WeatherRowsCte},
       |wdef AS (
       |  SELECT w.accident_id, w.date,
       |         $tAvgSql AS temperature,
       |         ${falsySql("precipitation_total", WeatherAssembly.PrecipDefaultMm.toString)} AS precipitation,
       |         ${falsySql("wind_speed_avg", WeatherAssembly.WindDefaultMs.toString)} AS wind_speed,
       |         ${falsySql("visibility_avg", WeatherAssembly.VisibilityDefaultM.toString)} AS visibility,
       |         ${falsySql("cloud_cover_avg", WeatherAssembly.CloudDefaultPct.toString)} AS cloud_cover,
       |         ${falsySql("temperature_min", s"($tAvgSql)")} AS temp_min,
       |         ${falsySql("temperature_max", s"($tAvgSql)")} AS temp_max
       |  FROM wrows w JOIN accidents a USING (accident_id)
       |  WHERE w.date BETWEEN a.a_date - ${WeatherAssembly.WindowDays} AND a.a_date),
       |wnum AS (
       |  SELECT *,
       |         row_number() OVER (PARTITION BY accident_id ORDER BY date) - 1 AS day_idx,
       |         count(*) OVER (PARTITION BY accident_id) AS n
       |  FROM wdef)""".stripMargin

  /** Variable-length similarity of each VALID assembled pattern vs the
    * 7-day current pattern: x = current series (first n days), y =
    * assembled series; weights pow(0.85, n-1-day_idx) normalized;
    * freeze-thaw of current over its FULL 7 days (the similarity does
    * not slice daily_temps). Ends in `sims(accident_id, wsim)` — valid
    * accidents only; callers LEFT JOIN + coalesce(wsim, 0.5) for the
    * missing-pattern neutral path.
    */
  private[queries] val assembledSimilarityCtes: String =
    s"""$assemblyCtes,
       |wd AS (
       |  SELECT accident_id, day_idx, n,
       |         ${Sql.tempAvg(C, "day_idx")} AS t_x, temperature AS t_y,
       |         ${Sql.precip(C, "day_idx")} AS p_x, precipitation AS p_y,
       |         ${Sql.wind(C, "day_idx")} AS w_x, wind_speed AS w_y,
       |         ${Sql.visib(C, "day_idx")} AS v_x, visibility AS v_y,
       |         ${Sql.cloud(C, "day_idx")} AS c_x, cloud_cover AS c_y,
       |         temp_min AS tmin_y, temp_max AS tmax_y,
       |         pow(${StatsExprs.WithinWindowDecay}, CAST(n - 1 - day_idx AS DOUBLE)) AS wr
       |  FROM wnum
       |  WHERE n >= ${WeatherExprs.MinWeatherDaysRequired}),
       |wn2a AS (SELECT *, wr / sum(wr) OVER (PARTITION BY accident_id) AS wn0 FROM wd),
       |wn2 AS (SELECT *, wn0 / sum(wn0) OVER (PARTITION BY accident_id) AS wn FROM wn2a),
       |wm AS (SELECT accident_id, ${factors.map(f =>
            s"sum(wn * ${f}_x) AS m${f}x, sum(wn * ${f}_y) AS m${f}y").mkString(", ")}
       |       FROM wn2 GROUP BY accident_id),
       |ws AS (SELECT wn2.accident_id, ${factors.map(momentSums).mkString(", ")},
       |              CAST(count(*) FILTER (WHERE tmin_y < 0 AND tmax_y > 0) AS BIGINT) AS ft_y
       |       FROM wn2 JOIN wm USING (accident_id) GROUP BY wn2.accident_id),
       |ftx AS (SELECT CAST(count(*) FILTER (WHERE (${Sql.tempMin(C, "k")}) < 0
       |                                       AND (${Sql.tempMax(C, "k")}) > 0) AS BIGINT) AS ft_x
       |        FROM range(7) t(k)),
       |sims AS (SELECT accident_id, $WsimSql AS wsim
       |         FROM ws CROSS JOIN ftx)""".stripMargin

  /** Memo-grain (bucket × accident) variant of [[assembledSimilarityCtes]]:
    * x = the BUCKET's current pattern (key CurrentKey+bucket), y = the
    * accident's assembled pattern; partitions/groups carry both keys.
    * Ends in `bsims(bucket, accident_id, wsim)` — valid accidents only.
    */
  private[queries] val memoSimilarityCtes: String = {
    val B = s"(${Derived.CurrentKey} + bucket)"
    s"""$assemblyCtes,
       |bkt AS (SELECT DISTINCT c_custkey % 10 AS bucket FROM customer
       |        WHERE c_custkey <= 150),
       |bwd AS (
       |  SELECT bucket, accident_id, day_idx, n,
       |         ${Sql.tempAvg(B, "day_idx")} AS t_x, temperature AS t_y,
       |         ${Sql.precip(B, "day_idx")} AS p_x, precipitation AS p_y,
       |         ${Sql.wind(B, "day_idx")} AS w_x, wind_speed AS w_y,
       |         ${Sql.visib(B, "day_idx")} AS v_x, visibility AS v_y,
       |         ${Sql.cloud(B, "day_idx")} AS c_x, cloud_cover AS c_y,
       |         temp_min AS tmin_y, temp_max AS tmax_y,
       |         pow(${StatsExprs.WithinWindowDecay}, CAST(n - 1 - day_idx AS DOUBLE)) AS wr
       |  FROM wnum CROSS JOIN bkt
       |  WHERE n >= ${WeatherExprs.MinWeatherDaysRequired}),
       |bwn0 AS (SELECT *, wr / sum(wr) OVER (PARTITION BY bucket, accident_id) AS wn0
       |         FROM bwd),
       |bwn AS (SELECT *, wn0 / sum(wn0) OVER (PARTITION BY bucket, accident_id) AS wn
       |        FROM bwn0),
       |bwm AS (SELECT bucket, accident_id, ${factors.map(f =>
              s"sum(wn * ${f}_x) AS m${f}x, sum(wn * ${f}_y) AS m${f}y").mkString(", ")}
       |        FROM bwn GROUP BY bucket, accident_id),
       |bws AS (SELECT bwn.bucket, bwn.accident_id, ${factors.map(momentSums).mkString(", ")},
       |               CAST(count(*) FILTER (WHERE tmin_y < 0 AND tmax_y > 0) AS BIGINT) AS ft_y
       |        FROM bwn JOIN bwm USING (bucket, accident_id)
       |        GROUP BY bwn.bucket, bwn.accident_id),
       |bftx AS (SELECT bucket,
       |                CAST(count(*) FILTER (WHERE (${Sql.tempMin(B, "k")}) < 0
       |                                        AND (${Sql.tempMax(B, "k")}) > 0) AS BIGINT) AS ft_x
       |         FROM bkt, range(7) t(k) GROUP BY bucket),
       |bsims AS (SELECT bucket, bws.accident_id, $WsimSql AS wsim
       |          FROM bws JOIN bftx USING (bucket))""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "w01_freeze_thaw" ->
      s"""WITH acc AS (SELECT s_suppkey AS accident_id FROM supplier)
         |SELECT accident_id,
         |       CAST(count(*) FILTER (WHERE (${Sql.tempMin(A, "k")}) < 0
         |                               AND (${Sql.tempMax(A, "k")}) > 0) AS BIGINT)
         |         AS freeze_thaw_days
         |FROM acc, range(7) t(k)
         |GROUP BY accident_id
         |ORDER BY accident_id""".stripMargin,

    "w02_day_weights" ->
      """WITH raw AS (SELECT k, pow(0.85, 6 - k) AS w FROM range(7) t(k))
        |SELECT k AS day_idx, round(w / (SELECT sum(w) FROM raw), 6) AS weight
        |FROM raw
        |ORDER BY day_idx""".stripMargin,

    "w03_weighted_pearson" ->
      s"""WITH $seriesCte,
         |$meansCte,
         |$statsCte
         |SELECT accident_id,
         |       round(CASE WHEN sqrt(vtx) = 0 AND sqrt(vty) = 0 THEN 1.0
         |                  WHEN sqrt(vtx) = 0 OR sqrt(vty) = 0 THEN 0.0
         |                  ELSE least(1.0, greatest(-1.0, ct / (sqrt(vty) * sqrt(vtx)))) END, 6)
         |         AS wpearson
         |FROM s
         |ORDER BY accident_id""".stripMargin,

    "w04_weather_similarity" ->
      s"""WITH $seriesCte,
         |$meansCte,
         |$statsCte
         |SELECT accident_id,
         |       round($WsimSql, 6) AS weather_similarity
         |FROM s
         |ORDER BY accident_id""".stripMargin,

    "w10_similarity_detailed" -> {
      val named = Seq("t" -> "temperature", "p" -> "precipitation",
        "w" -> "wind_speed", "v" -> "visibility", "c" -> "cloud_cover")
      val scoreCols = named.map { case (f, n) =>
        s"round(${corrCase(f)}, 6) AS score_$n"
      }.mkString(",\n|       ")
      // seriesCte binds x = accident, y = current (see corrCase doc) —
      // the labels below follow that binding
      s"""WITH $seriesCte,
         |$meansCte,
         |$statsCte
         |SELECT accident_id,
         |       $scoreCols,
         |       round($FtSimSql, 6) AS score_freeze_thaw,
         |       ft_y AS ft_current,
         |       ft_x AS ft_accident,
         |       CAST(7 AS BIGINT) AS days_compared,
         |       round($WsimSql, 6) AS base_similarity
         |FROM s
         |ORDER BY accident_id""".stripMargin
    },

    "w07_pattern_assembly" ->
      s"""WITH ${Sql.AccidentsCte},
         |$assemblyCtes
         |SELECT accident_id, day_idx, CAST(n AS BIGINT) AS n_days,
         |       temperature, precipitation, wind_speed, visibility, cloud_cover,
         |       temp_min, temp_max
         |FROM wnum
         |WHERE n >= ${WeatherExprs.MinWeatherDaysRequired}
         |ORDER BY accident_id, day_idx""".stripMargin,

    "w08_extreme_mult" ->
      s"""WITH ${Sql.extremeMultCtes(7, Derived.CurrentKey.toString)}
         |SELECT bucket, round(w_mu, 6) AS wind_mean, round(w_sd, 6) AS wind_std,
         |       round(wmult, 6) AS wmult
         |FROM mult
         |ORDER BY bucket""".stripMargin,

    "w09_similarity_memo" ->
      s"""WITH ${Sql.AccidentsCte},
         |$memoSimilarityCtes
         |SELECT bucket, accident_id, round(coalesce(wsim, 0.5), 6) AS wsim
         |FROM bkt
         |CROSS JOIN (SELECT s_suppkey AS accident_id FROM supplier) a2
         |LEFT JOIN bsims USING (bucket, accident_id)
         |ORDER BY bucket, accident_id""".stripMargin)
}
