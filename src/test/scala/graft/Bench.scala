package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.kernel.{KernelPruning, SafetyKernel}
import graft.sim.Similarity

/** Dev timer for the suite queries and the headline kernels:
  *
  * {{{ SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=4 sbt 'Test/runMain graft.Bench' }}}
  *
  * After each completed entry it prints one bare cumulative JSON line,
  * `{"queries":{…},"src_stamp":…,"sf":…,"cpus":…,"n_failed":…}`, with -1
  * for an entry that failed or hit its cap. A full run then writes its
  * last line to BENCH_LOCAL.json, replacing the file; a subset run
  * (`SPARK_GRAFT_BENCH_ONLY=name,…`) never writes it. The paired-seed
  * benchmark with per-layer splits is `perfbench/`.
  *
  * Every query is forced through the `noop` sink so the FULL plan executes
  * (a bare `count()` would let Catalyst prune aggregates and join sides).
  * Alongside the suite queries, three headline kernels reproduce the
  * reference's published baselines (BASELINE.md):
  *
  *  - `predict_single_route`: the interactive predict path — 1 route ×
  *    6.9K accidents, top-50 contributors collected (reference target:
  *    under two seconds average, BASELINE.md)
  *  - `kernel_batch_168k`: the nightly batch at production scale — 168K
  *    routes × 6.9K accidents ≈ 1.16B kernel evaluations (reference:
  *    5-15 min per date, single node)
  *  - `kernel_batch_168k_pruned`: the same batch through the pruned fold
  *    (KernelPruning, floor 1e-6) — the 100 TB path
  */
object Bench {

  private def typeName(key: org.apache.spark.sql.Column) = {
    val types = graft.queries.Sql.TypeByIdx
    types.zipWithIndex.dropRight(1)
      .foldLeft(when(lit(false), lit(""))) { case (acc, (t, i)) => acc.when(key === i, t) }
      .otherwise(types.last)
  }

  /** Synthetic reference-production-scale routes (compute-bound benchmark;
    * rows generated partition-parallel exactly like a real scan would be).
    * Spread ≈ 20°×30° — continental, so pruning has room to work.
    */
  def syntheticRoutes(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(
      col("id").as("route_id"),
      (lit(35.0) + (col("id") % 2000) / 100.0).as("lat"),
      (lit(-125.0) + (col("id") % 3000) / 100.0).as("lon"),
      (lit(1000.0) + (col("id") % 3000)).as("elev"),
      typeName(col("id") % 8).as("route_type"),
      (lit(5.0) + (col("id") % 11)).as("difficulty"))

  def syntheticAccidents(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(
      col("id").as("accident_id"),
      (lit(35.0) + ((col("id") * 37) % 2000) / 100.0).as("a_lat"),
      (lit(-125.0) + ((col("id") * 53) % 3000) / 100.0).as("a_lon"),
      (lit(800.0) + ((col("id") * 13) % 3500)).as("a_elev"),
      typeName((col("id") * 31) % 8).as("acc_type"),
      when(col("id") % 3 === 0, "fatal").when(col("id") % 3 === 1, "serious")
        .otherwise("minor").as("severity_raw"),
      date_add(to_date(lit("2024-01-01")), (col("id") % 730).cast("int")).as("a_date"),
      (lit(4.0) + ((col("id") * 7) % 13)).as("a_difficulty"))

  private val planDate = to_date(lit("2024-07-15"))

  def kernelBatch168k(spark: SparkSession): DataFrame =
    SafetyKernel.scoreRoutes(
      syntheticRoutes(spark, 168000), syntheticAccidents(spark, 6900), planDate)

  def kernelBatch168kPruned(spark: SparkSession): DataFrame =
    KernelPruning.scoreRoutesPruned(
      syntheticRoutes(spark, 168000), syntheticAccidents(spark, 6900), planDate)

  /** The factorized batch at the reference's production shape — 45K
    * locations carry the kernel, 168K routes only the type/grade
    * adjustment (`location_safety_computation.py:300-556`).
    */
  def kernelBatch168kFactorized(spark: SparkSession): DataFrame = {
    val locations = spark.range(45000).select(
      col("id").as("location_id"),
      (lit(35.0) + (col("id") % 2000) / 100.0).as("loc_lat"),
      (lit(-125.0) + (col("id") % 3000) / 100.0).as("loc_lon"),
      when(col("id") % 6 === 0, lit(null).cast("double"))
        .otherwise(lit(900.0) + (col("id") % 3200)).as("loc_elev"),
      typeName(col("id") % 8).as("loc_type"))
    val routes = spark.range(168000).select(
      col("id").as("route_id"),
      (col("id") % 45000).as("location_id"),
      typeName(col("id") % 8).as("route_type"),
      (lit(5.0) + (col("id") % 11)).as("difficulty"))
    graft.kernel.LocationKernel.scoreRoutesViaLocations(
      routes, locations, syntheticAccidents(spark, 6900), planDate)
  }

  /** The serving join at production scale (BASELINE.md: 2-3 s for 168K
    * routes, `mp_routes.py:393-397`): routes ⋈ broadcast locations dim
    * (coordinate inheritance) + left ⋈ scores, season filter + blacklist.
    */
  def mapWithSafety168k(spark: SparkSession): DataFrame = {
    val routes = spark.range(168000).select(
      col("id").as("mp_route_id"),
      concat(lit("route "), col("id")).as("name"),
      (col("id") % 5000).as("location_id"),
      typeName(col("id") % 8).as("type"),
      when(col("id") % 7 === 0, lit(null).cast("double"))
        .otherwise(lit(40.0) + (col("id") % 2000) / 100.0).as("latitude"),
      when(col("id") % 7 === 0, lit(null).cast("double"))
        .otherwise(lit(-120.0) + (col("id") % 3000) / 100.0).as("longitude"))
    val locations = spark.range(5000).select(
      col("id").as("mp_id"),
      (lit(40.0) + (col("id") % 2000) / 100.0).as("loc_lat"),
      (lit(-120.0) + (col("id") % 3000) / 100.0).as("loc_lon"))
    // partial score coverage so the left join's null side is exercised
    val scores = spark.range(168000).where(col("id") % 3 === 0).select(
      col("id").as("mp_route_id"),
      (col("id") % 101).cast("double").as("risk_score"),
      when(col("id") % 101 < 30, "green").when(col("id") % 101 < 50, "yellow")
        .when(col("id") % 101 < 70, "orange").otherwise("red").as("color_code"))
    graft.analytics.Analytics.mapWithSafety(
      routes, locations, scores, season = "all", blacklist = Seq("route 13"))
  }

  // --- scale-stress gate: 10× blow-up + planted skew ------------------------

  /** The nightly batch at 10× the reference's production scale — 1.68M
    * routes × 69K accidents ≈ 116G pair-candidates. Only the pruned path
    * runs here: this is precisely the scale-up the pruning exists for (the
    * exact kernel would evaluate all 116G pairs; the pruned fold visits
    * per route only the accidents inside its gate's latitude band).
    * KernelPruningSpec pins the pruned totals bitwise to the gated pair
    * sums, and `n_contributing` to the exact kernel's, at 10× density with
    * a planted hot cell; this entry demonstrates throughput and bounded
    * memory at the full blown-up shape.
    *
    * 3.785G of the 116G pairs lie within their route's gate radius, each
    * owed full influence math (counted on the retired grid kernel's join,
    * which produced exactly the gated pairs).
    */
  def kernelBatch10x(spark: SparkSession): DataFrame =
    KernelPruning.scoreRoutesPruned(
      syntheticRoutes(spark, 1680000), syntheticAccidents(spark, 69000), planDate)

  /** Extents in degrees (lat, lon) of the cell the skewed generators plant
    * their hot half in: half the sport gate radius per side, the lon width
    * taken at 72° and rounded so a whole number of cells spans 360°. This
    * is the sport-tier cell of the grid kernel the pruned fold replaced,
    * kept so the planted coordinates stay the same.
    */
  private[graft] val HotCellDegrees: (Double, Double) = {
    val cellKm = graft.expr.WeightExprs.SpatialBandwidth("sport") *
      KernelPruning.SignificanceRadiusFactor / 2
    val lonCells = math.max(1L,
      math.floor(360.0 / (cellKm / (111.0 * math.cos(math.toRadians(72.0))))).toLong)
    (cellKm / 111.0, 360.0 / lonCells)
  }

  /** The 10× catalog under REALISTIC geo-clustering: ids < n/2 follow the
    * uniform continental lattice; ids ≥ n/2 — half the catalog — are
    * planted as sport routes strictly inside ONE [[HotCellDegrees]] cell
    * ("half the routes in a few crags").
    *
    * Why this should NOT blow up the pruned plan, stated so the measured
    * entry has a prediction to check: the pruned fold broadcasts the
    * accidents, and `Partitioning.balanced` round-robins routes across
    * tasks — so co-located routes do not co-locate in any task, and
    * per-task work stays (routes per task) × (accidents within each
    * route's latitude band), which is ACCIDENT-density-bound, not
    * route-density-bound. The skew that genuinely inflates work is
    * accident-side clustering; the bitwise spec covers that with a planted
    * hot accident cell at 10× density, and `kernel_batch_10x_accskew`
    * measures its wall.
    */
  def syntheticRoutesSkewed(spark: SparkSession, n: Long): DataFrame = {
    val (latDeg, lonDeg) = HotCellDegrees
    // center of the hot cell containing (40.0, -109.0); jitter spans
    // ±0.4 cell per axis, so every hot route is strictly interior
    val latC = (math.floor(40.0 / latDeg) + 0.5) * latDeg
    val lonC = (math.floor((-109.0 + 180.0) / lonDeg) + 0.5) * lonDeg - 180.0
    val hot = spark.range(n / 2, n).select(
      col("id").as("route_id"),
      (lit(latC) + ((col("id") % 1000L) / 1000.0 - 0.5) * (0.8 * latDeg)).as("lat"),
      (lit(lonC) + (((col("id") * 7) % 1000L) / 1000.0 - 0.5) * (0.8 * lonDeg)).as("lon"),
      (lit(1000.0) + (col("id") % 3000)).as("elev"),
      lit("sport").as("route_type"),
      (lit(5.0) + (col("id") % 11)).as("difficulty"))
    syntheticRoutes(spark, n).where(col("route_id") < n / 2).unionByName(hot)
  }

  def kernelBatch10xSkew(spark: SparkSession): DataFrame =
    KernelPruning.scoreRoutesPruned(
      syntheticRoutesSkewed(spark, 1680000), syntheticAccidents(spark, 69000), planDate)

  /** ACCIDENT-side clustering — the direction [[syntheticRoutesSkewed]]'s
    * analysis names as the genuinely dangerous one: ids < n/2 follow the
    * uniform lattice; ids ≥ n/2 — half the accident history — are planted
    * strictly inside the SAME [[HotCellDegrees]] cell the route-skew arm
    * uses ("half of all accidents at a few famous crags"). Clustered
    * accidents land in the latitude band of every route near the hot cell.
    *
    * The gate genuinely admits MORE pairs than the uniform arm: 4.658G vs
    * 3.785G gated pairs (ratio 1.230, counted on the retired grid kernel's
    * join, which produced exactly the gated pairs). Every extra pair is
    * above the 1e-6 floor and owed exact influence math (spec-pinned:
    * KernelPruningSpec "10x density + planted hot cell" and the
    * accident-skew generator spec). Work is accident-density-bound —
    * proportional to the accidents within each route's band, which skew
    * genuinely increases — never route-count-bound or
    * partition-skew-bound: the broadcast arrays are read-only on every
    * executor, and no shuffle partition inherits the hot cell.
    */
  def syntheticAccidentsSkewed(spark: SparkSession, n: Long): DataFrame = {
    val (latDeg, lonDeg) = HotCellDegrees
    val latC = (math.floor(40.0 / latDeg) + 0.5) * latDeg
    val lonC = (math.floor((-109.0 + 180.0) / lonDeg) + 0.5) * lonDeg - 180.0
    val hot = spark.range(n / 2, n).select(
      col("id").as("accident_id"),
      (lit(latC) + ((col("id") % 1000L) / 1000.0 - 0.5) * (0.8 * latDeg)).as("a_lat"),
      (lit(lonC) + (((col("id") * 7) % 1000L) / 1000.0 - 0.5) * (0.8 * lonDeg)).as("a_lon"),
      (lit(2000.0) + (col("id") % 100)).as("a_elev"),
      lit("sport").as("acc_type"),
      when(col("id") % 3 === 0, "fatal").when(col("id") % 3 === 1, "serious")
        .otherwise("minor").as("severity_raw"),
      date_add(to_date(lit("2024-01-01")), (col("id") % 730).cast("int")).as("a_date"),
      (lit(4.0) + ((col("id") * 7) % 13)).as("a_difficulty"))
    syntheticAccidents(spark, n).where(col("accident_id") < n / 2).unionByName(hot)
  }

  def kernelBatch10xAccSkew(spark: SparkSession): DataFrame =
    KernelPruning.scoreRoutesPruned(
      syntheticRoutes(spark, 1680000), syntheticAccidentsSkewed(spark, 69000), planDate)

  /** 100× the reference's production batch — 16.8M routes × 69K accidents
    * ≈ 1.16T raw pair-candidates through the pruned fold. The
    * linearity point for the "100×-safe" design claim: candidates scale
    * ~linearly with routes, so wall should land within ~1.5× of 10× the
    * `kernel_batch_10x` number. EXPLICIT-ONLY (≈ tens of minutes): runs
    * only when named in SPARK_GRAFT_BENCH_ONLY, never on a full round run.
    */
  def kernelBatch100x(spark: SparkSession): DataFrame =
    KernelPruning.scoreRoutesPruned(
      syntheticRoutes(spark, 16800000), syntheticAccidents(spark, 69000), planDate)

  /** End-to-end nightly (the reference's "~2 hours for 3 days" beat,
    * `celery_app.py:53`, `mp_routes.py:1846`): 3 dates × 168K routes ×
    * 6.9K accidents through the COMMITTED pipeline — `computeDailyScores`
    * → `writeScores` (dynamic-partition overwrite, real parquet) → the
    * per-date row-count invariant (`runDaily`) → a `retainDates` pass —
    * as ONE timed wall. The kernel entries above time compute only; this
    * measures what the reference's 2-hour number actually covers.
    * Returns the wall in seconds; scratch cleanup happens off the clock.
    */
  def nightly3dates(spark: SparkSession): Double = {
    val out = java.nio.file.Files.createTempDirectory("bench_nightly").toString
    val dates = Seq("2024-07-15", "2024-07-16", "2024-07-17")
    val t0 = System.nanoTime()
    graft.pipeline.ScoringPipeline.runDaily(spark,
      syntheticRoutes(spark, 168000), syntheticAccidents(spark, 6900), dates, out)
    graft.pipeline.ScoringPipeline.retainDates(spark, out, dates)
    val wall = (System.nanoTime() - t0) / 1e9
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    rm(new java.io.File(out))
    wall
  }

  /** Opt-in 10M-event streaming soak — the SECOND DECADE for the
    * bounded-state claim: 100 event-time-ordered micro-batches of 100K
    * events through `windowedSketch` under the same 1-hour watermark as
    * `streaming_1m`. The measured claim is FLATNESS: peak state rows must
    * stay ≈ (in-horizon windows × groups) — the same ceiling as at 1M —
    * because watermark eviction bounds state by horizon, not volume; 10×
    * the events buys 10× the WINDOWS (1200 one-hour windows over a
    * 50-day event-time span), all but ~14 of them evicted at any moment.
    * Runs only when named in SPARK_GRAFT_BENCH_ONLY (like
    * `kernel_batch_100x`): minutes-scale, not for the per-round budget.
    */
  def streaming10m(spark: SparkSession): Map[String, Double] = {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import graft.streaming.StreamingOps
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t0 = System.nanoTime()
    var peakRows = 0L
    var peakBytes = 0L
    try {
      val mem = MemoryStream[StreamingOps.Event]
      val ckpt = java.nio.file.Files.createTempDirectory("bench_stream_10m").toString
      val q = StreamingOps.windowedSketch(mem.toDF(), "ts", "event_type",
          "user_id", windowLen = "1 hour", watermark = "1 hour")
        .writeStream.format("noop").option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append()).start()
      val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
      val types = Array("view", "click", "purchase", "scroll",
        "share", "like", "save", "open")
      try {
        (0 until 100).foreach { b =>
          val events = (0 until 100000).map { i =>
            val k = b * 100000L + i
            StreamingOps.Event(k,
              new java.sql.Timestamp(base + b * 43200000L + i.toLong * 432),
              k % 9973, types((k % 8).toInt), (k % 100).toDouble)
          }
          mem.addData(events: _*)
          q.processAllAvailable()
          q.recentProgress.foreach(_.stateOperators.foreach { so =>
            peakRows = math.max(peakRows, so.numRowsTotal)
            peakBytes = math.max(peakBytes, so.memoryUsedBytes)
          })
        }
      } finally q.stop()
      // the same absolute bound as streaming_1m — NOT scaled by volume;
      // that invariance IS the claim under test
      val bound = 2L * 14 * 8
      if (peakRows > bound) {
        System.err.println(
          s"[bench] streaming_10m: state $peakRows > bound $bound — eviction broken")
        return Map("streaming_10m" -> -1.0)
      }
      Map(
        "streaming_10m" -> (System.nanoTime() - t0) / 1e9,
        "streaming_10m_sketch_rows" -> peakRows.toDouble,
        "streaming_10m_state_mb" -> peakBytes / 1e6)
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] streaming_10m: ${e.getMessage}")
        Map("streaming_10m" -> -1.0)
    }
  }

  /** LSH candidate generation over the sf corpus PLUS a planted degenerate
    * bucket: 5000 byte-identical documents share one minhash signature, so
    * every band maps them to one bucket — the uncapped join would emit
    * ~4·5000²/2 = 50M candidate pairs from the plant alone. With
    * `maxBucketSize` engaged the hot bucket is dropped wholesale (its
    * members are exact-dup territory, d01's job) and the stage stays at
    * baseline cost.
    */
  def lshSkew(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val hot = spark.range(5000).select(
      (col("id") + 10000000L).as("doc_id"),
      lit("all rights reserved this page is intentionally boilerplate").as("text"))
    val sigs = graft.dedup.Dedup.minhashSignatures(
      docs.union(hot), "doc_id", "text", 16, 3)
    graft.dedup.Dedup.lshCandidatePairs(sigs, "doc_id", 16, 4, maxBucketSize = Some(64))
  }

  /** The d21 quota cut under a planted hot domain: one source holds 500K of
    * the rows (10× the whole sf0.1 corpus). The plain window form sorts the
    * hot domain in one task; ScaleLayout.saltedTopK spreads it over 32
    * salted runs and re-ranks only the survivors (ScaleLayoutSpec pins
    * equality with the window form).
    */
  def quotaSkew(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("source"), col("doc_id"), col("n_chars").cast("long").as("n_chars"))
    val hot = spark.range(500000).select(
      lit("hot_domain").as("source"),
      (col("id") + 10000000L).as("doc_id"),
      (col("id") * 7919 % 10007).as("n_chars"))
    graft.pipeline.ScaleLayout.saltedTopK(
      docs.union(hot), "source",
      Seq(col("n_chars").desc, col("doc_id").asc), k = 10, factor = 32)
  }

  /** Re-run Bench in a fresh JVM restricted to `keys` and harvest their
    * timings from the child's JSON lines. Works because `fork := true`
    * gives this JVM a real `java.class.path` and its input arguments are
    * the resolved `javaOptions` (add-opens, heap, codegen JIT flags) — the
    * child replays them verbatim, so it measures under identical JVM
    * settings, minus the suite's accumulated garbage. Any failure costs
    * the affected entries their -1 sentinel. The child prints its
    * cumulative line after every completed entry; `onUpdate` receives the
    * keys harvested so far as each line arrives.
    */
  private def runIsolated(keys: Seq[String], sfDir: String, cpus: String,
      onUpdate: Map[String, Double] => Unit): Map[String, Double] =
    try {
      val javaBin = java.nio.file.Paths.get(
        System.getProperty("java.home"), "bin", "java").toString
      import scala.jdk.CollectionConverters._
      val jvmArgs = java.lang.management.ManagementFactory
        .getRuntimeMXBean.getInputArguments.asScala.toSeq
      val cmd = (Seq(javaBin) ++ jvmArgs ++
        Seq("-cp", System.getProperty("java.class.path"), "graft.Bench")).asJava
      val pb = new ProcessBuilder(cmd)
      pb.environment().put("SPARK_GRAFT_BENCH_ONLY", keys.mkString(","))
      pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
      pb.environment().put("SPARK_GRAFT_CPUS", cpus)
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      val p = pb.start()
      val harvested = scala.collection.mutable.LinkedHashMap[String, Double]()
      def harvest(line: String): Unit = try {
        val queries = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(line).path("queries")
        val before = harvested.toMap
        keys.filter(queries.has).foreach(k => harvested(k) = queries.get(k).asDouble(-1.0))
        if (harvested != before) onUpdate(harvested.toMap)
      } catch { case _: Throwable => () } // partial/garbled line: skip, next flush re-carries it
      // stream stdout line-by-line BEFORE waitFor — the child blocks on a
      // full pipe, and line-wise reads are what make partial harvest work
      val reader = new java.io.BufferedReader(new java.io.InputStreamReader(
        p.getInputStream, java.nio.charset.StandardCharsets.UTF_8))
      var line = reader.readLine()
      while (line != null) {
        if (line.startsWith("{\"queries\"")) harvest(line)
        line = reader.readLine()
      }
      val rc = p.waitFor()
      if (rc != 0) System.err.println(s"[bench] isolated gate JVM exited rc=$rc")
      keys.map(k => k -> harvested.getOrElse(k, -1.0)).toMap
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] gate isolation failed: ${e.getMessage}")
        keys.map(_ -> -1.0).toMap
    }

  /** The documents corpus blown up 10× with a planted hot term: replica r
    * of doc d gets id d + r·10⁷, and every 7th doc gains a shared
    * " hottoken0 hottoken0" suffix — one term whose df is ~14% of a
    * corpus 10× the bench scale, a heavy hitter in both the token explode
    * and the df aggregation. All other columns ride along unchanged so
    * funnel quota/source/lang logic sees realistic distributions.
    */
  def documents10x(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .crossJoin(spark.range(10).select(col("id").as("__rep")))
      .withColumn("doc_id", col("doc_id") + col("__rep") * 10000000L)
      .withColumn("text",
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(col("text"), lit(" hottoken0 hottoken0")))
          .otherwise(col("text")))
      .drop("__rep")

  /** Connected components over a planted 200K-hop near-dup CHAIN (min id
    * at the far end — the worst case for label travel; convergence must be
    * O(log diameter) rounds, which the pointer-jump step provides — plain
    * min-label propagation would need 200K rounds) plus 50K star
    * components of 20 nodes each, ~1.2M edges total.
    */
  def cluster10x(spark: SparkSession): DataFrame = {
    val chain = spark.range(200000)
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val stars = spark.range(1000000)
      .select((col("id") + 1000000L).as("id_a"),
        (pmod(col("id"), lit(50000L)) + 1000000L).as("id_b"))
    graft.dedup.Dedup.connectedComponents(chain.union(stars), "id_a", "id_b")
  }

  /** n synthetic 64-dim embeddings from id arithmetic (deterministic,
    * spread over [-1,1] by incommensurate sin frequencies) — the volume
    * source for the ANN gates, 2000× the sf0.1 embeddings table.
    */
  def syntheticEmbeddings(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)),
        d => sin(col("id") * (d + 1))).as("embedding"))

  /** Int8 ANN at volume: 10 queries × 1M-vector corpus through pack +
    * integer-dot ranking — the codes path (native codegen) must stay
    * scan-bound; a regression to interpreted HOFs or a plan that
    * re-packs per pair shows up as a blow-up here.
    */
  def annInt81m(spark: SparkSession): DataFrame = {
    val e = syntheticEmbeddings(spark, 1000000L)
    Similarity.int8TopK(
      e.where(col("vec_id") < 10), e.where(col("vec_id") >= 10),
      "vec_id", "embedding", k = 10)
  }

  /** PQ/ADC at volume: 10 queries × 200K-vector corpus, fixed codebooks —
    * encode once per corpus row, rank on LUT lookups only.
    */
  def annPq200k(spark: SparkSession): DataFrame = {
    val e = syntheticEmbeddings(spark, 200000L)
    Similarity.pqTopKADC(
      e.where(col("vec_id") < 10), e.where(col("vec_id") >= 10),
      "vec_id", "embedding",
      Similarity.pqFixedCodebooks(dim = 64, numSub = 8, ksub = 4), k = 10)
  }

  /** IVFADC on the SAME corpus/codebooks as [[annPq200k]] with 16 one-hot
    * cells × nprobe 4 and FOUR TIMES the queries: per-query candidate work
    * is ~nprobe/nlist = 1/4 of the plain ADC scan (the sin-embedding
    * argmax spreads near-uniformly over the 16 cells), so 40 queries here
    * cost the same ranking-stage pair count as [[annPq200k]]'s 10 — the
    * measured point for "ADC scan work ∝ nprobe/nlist" is this entry
    * landing at ≲ the ann_pq_200k wall at 4× the query throughput. Both
    * paths pay the same map-side encode (the index build — one-time and
    * amortized across queries in a real serving deployment).
    */
  def annIvfPq200k(spark: SparkSession): DataFrame = {
    val e = syntheticEmbeddings(spark, 200000L)
    Similarity.ivfPqTopKWithModel(
      e.where(col("vec_id") < 40), e.where(col("vec_id") >= 40),
      "vec_id", "embedding", Similarity.oneHotCentroids(16, 64),
      Similarity.pqFixedCodebooks(dim = 64, numSub = 8, ksub = 4),
      nprobe = 4, k = 10)
  }

  /** Index-build cost in isolation: the one corpus pass both ADC entries
    * pay before any query work — PQ-encode 200K vectors to codes (plus
    * the 16-cell assignment argmax IVFADC adds). Subtracting this from
    * the ann_pq/ann_ivfpq walls isolates the per-query SCAN cost the
    * nprobe/nlist ratio actually governs.
    */
  def annEncode(spark: SparkSession, n: Long): DataFrame = {
    val e = syntheticEmbeddings(spark, n)
    val cb = Similarity.pqFixedCodebooks(dim = 64, numSub = 8, ksub = 4)
    e.where(col("vec_id") >= 40)
      .select(col("vec_id"), Similarity.pqEncode(
        col("embedding").cast("array<double>"), cb).as("codes"))
  }

  /** The wall-vs-work accounting pair: SAME query count (40) on a 1M
    * corpus, plain ADC vs IVFADC at nprobe/nlist = 4/16. Scan work: 40M
    * scored pairs vs 10M; both pay a 1M-row encode measured in isolation
    * by ann_pq_encode_1m (IVFADC's encode additionally pays the 16-cell
    * assignment argmax, so its E term is strictly larger). Work model:
    * per-query SCAN cost ∝ nprobe/nlist, so with E amortized (the
    * production serving regime encodes the corpus ONCE) per-query ratios
    * converge to nlist/nprobe; end-to-end walls here rebuild the index
    * per run, so the measured gap is smaller. This comment states the
    * work model, not the measurement. The 200K pair stays as
    * the throughput point (4× queries, equal wall), with
    * ann_pq_encode_200k isolating its shared encode term.
    */
  def annPq1m(spark: SparkSession): DataFrame = {
    val e = syntheticEmbeddings(spark, 1000000L)
    Similarity.pqTopKADC(
      e.where(col("vec_id") < 40), e.where(col("vec_id") >= 40),
      "vec_id", "embedding",
      Similarity.pqFixedCodebooks(dim = 64, numSub = 8, ksub = 4), k = 10)
  }

  def annIvfPq1m(spark: SparkSession): DataFrame = {
    val e = syntheticEmbeddings(spark, 1000000L)
    Similarity.ivfPqTopKWithModel(
      e.where(col("vec_id") < 40), e.where(col("vec_id") >= 40),
      "vec_id", "embedding", Similarity.oneHotCentroids(16, 64),
      Similarity.pqFixedCodebooks(dim = 64, numSub = 8, ksub = 4),
      nprobe = 4, k = 10)
  }

  /** Streaming volume gate: 1M events through the two stateful streaming
    * families, with the STATE-STORE metrics recorded — the evidence the
    * parity/eviction specs can't give, that state stays bounded at volume.
    *
    *  - `windowedSketch`: 10 event-time-ordered micro-batches of 100K
    *    events spanning 120 one-hour windows × 8 groups under a 1-hour
    *    watermark. Peak state rows must stay ≈ (in-horizon windows ×
    *    groups) — independent of the 1M total — or the entry FAILS (-1):
    *    watermark eviction is the bounded-state mechanism under test.
    *  - `streamingLshCandidates`: 250K docs (50K distinct bodies × 5
    *    re-arrivals + a ~2.6K-doc boilerplate bucket that must latch at
    *    maxBucketSize) with TTL armed. Bucket COUNT grows with the
    *    distinct corpus by design (that's what the TTL bounds over time);
    *    the recorded peak pins the per-corpus footprint and the cap
    *    keeps every bucket ≤ maxBucketSize. Sized to ~0.25× the sketch
    *    phase's row count: every bounded-state contract here is
    *    per-bucket, so the volume buys nothing but wall — round 9 ran
    *    this at 1M docs and the state-commit churn alone overran the
    *    whole harness budget.
    *
    * Emits: wall (streaming_1m), peak state rows for each operator, and
    * peak state bytes across both (streaming_1m_state_mb).
    */
  def streaming1m(spark: SparkSession): Map[String, Double] = {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import graft.streaming.StreamingOps
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t0 = System.nanoTime()
    var peakBytes = 0L

    def drainPeaks(q: org.apache.spark.sql.streaming.StreamingQuery): Long = {
      var rows = 0L
      q.recentProgress.foreach(_.stateOperators.foreach { so =>
        rows = math.max(rows, so.numRowsTotal)
        peakBytes = math.max(peakBytes, so.memoryUsedBytes)
      })
      rows
    }

    try {
      // --- windowedSketch: watermark-evicted window state ---------------
      val mem = MemoryStream[StreamingOps.Event]
      val ckpt1 = java.nio.file.Files.createTempDirectory("bench_stream_sk").toString
      val q1 = StreamingOps.windowedSketch(mem.toDF(), "ts", "event_type",
          "user_id", windowLen = "1 hour", watermark = "1 hour")
        .writeStream.format("noop").option("checkpointLocation", ckpt1)
        .outputMode(OutputMode.Append()).start()
      val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
      val types = Array("view", "click", "purchase", "scroll",
        "share", "like", "save", "open")
      var peakSketchRows = 0L
      try {
        (0 until 10).foreach { b =>
          val events = (0 until 100000).map { i =>
            val k = b * 100000L + i
            StreamingOps.Event(k,
              new java.sql.Timestamp(base + b * 43200000L + i.toLong * 432),
              k % 9973, types((k % 8).toInt), (k % 100).toDouble)
          }
          mem.addData(events: _*)
          q1.processAllAvailable()
          peakSketchRows = math.max(peakSketchRows, drainPeaks(q1))
        }
      } finally q1.stop()
      // 12 in-flight windows + ≤1 h of watermark lag behind, × 8 groups,
      // with 2× slack: anything past this means eviction is NOT working
      // and state grows with the stream — fail the entry loudly
      val sketchBound = 2L * 14 * 8
      if (peakSketchRows > sketchBound) {
        System.err.println(
          s"[bench] streaming_1m: sketch state $peakSketchRows > bound $sketchBound")
        return Map("streaming_1m" -> -1.0)
      }
      System.err.println(s"[bench] streaming_1m: sketch phase done at " +
        f"${(System.nanoTime() - t0) / 1e9}%.1f s (peak rows $peakSketchRows)")

      // --- streamingLshCandidates: capped buckets + TTL armed -----------
      // Both blocks are added BEFORE the query starts, and the run is
      // bounded by PROGRESS POLLING + an explicit stop(). With
      // ProcessingTimeTimeout armed the engine considers another batch
      // always due (timeouts might fire), so it schedules EMPTY
      // micro-batches nonstop — each re-committing the posting-list state
      // store — and NEITHER awaitTermination(AvailableNow) NOR
      // processAllAvailable() ever sees an idle stream (both observed
      // spinning past epoch 350 on a 2-block stream; round 9's driver
      // hang was exactly this). The only bounded wait is counting input
      // rows through the progress feed until the whole corpus has been
      // processed. The data batches exercise timeout REGISTRATION at
      // volume; TTL firing/eviction correctness is spec'd in
      // StreamingOpsSpec.
      val mem2 = MemoryStream[(Long, String)]
      val ckpt2 = java.nio.file.Files.createTempDirectory("bench_stream_lsh").toString
      (0 until 2).foreach { b =>
        val docs = (0 until 125000).map { i =>
          val k = b * 125000L + i
          val text =
            if (k % 97 == 0) "the boilerplate legal disclaimer body shared verbatim"
            else s"synthetic document body number ${k % 50000L} with shared content"
          (k, text)
        }
        mem2.addData(docs: _*)
      }
      val q2 = StreamingOps.streamingLshCandidates(
          mem2.toDF().toDF("id", "text"), "id", "text",
          stateTtl = Some(java.time.Duration.ofMinutes(10)))
        .writeStream.format("noop").option("checkpointLocation", ckpt2)
        .outputMode(OutputMode.Append())
        .start()
      var peakLshRows = 0L
      try {
        val deadline = System.nanoTime() + 240L * 1000000000L
        val seenBatches = scala.collection.mutable.HashSet[Long]()
        var rowsIn = 0L
        var done = false
        while (!done && System.nanoTime() < deadline) {
          // fail FAST on a dead query — spinning out the full deadline on
          // an already-failed stream burns driver budget for nothing
          q2.exception.foreach { e =>
            throw new RuntimeException(s"lsh gate: query failed early: ${e.getMessage}", e)
          }
          q2.recentProgress.foreach { p =>
            if (seenBatches.add(p.batchId)) rowsIn += p.numInputRows
          }
          peakLshRows = math.max(peakLshRows, drainPeaks(q2))
          if (rowsIn >= 250000L) done = true
          else if (!q2.isActive)
            throw new RuntimeException(s"lsh gate: query terminated early at $rowsIn rows")
          else Thread.sleep(250)
        }
        if (!done)
          throw new RuntimeException(s"lsh gate: only $rowsIn rows in 240s")
      } finally q2.stop()

      Map(
        "streaming_1m" -> (System.nanoTime() - t0) / 1e9,
        "streaming_1m_sketch_rows" -> peakSketchRows.toDouble,
        "streaming_1m_lsh_rows" -> peakLshRows.toDouble,
        "streaming_1m_state_mb" -> peakBytes / 1e6)
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] streaming_1m: ${e.getMessage}")
        Map("streaming_1m" -> -1.0)
    }
  }

  /** Bloom corpus-snapshot dedup at volume: the filter is built over 10M
    * synthetic content digests (~12 MB at 1% fpp — the analytic
    * −n·ln(fpp)/ln²2 bits; BloomDedupSpec pins the 1.3× bound), torrent-
    * broadcast once, and probed map-side by a 1M-row new batch straddling
    * the corpus boundary (half true dups, half fresh) so both the hit
    * sliver and the exact confirmation join run at realistic selectivity.
    * The gate is "no OOM, wall stays build-dominated": probe work is one
    * codegen'd mightContainLong per row.
    */
  def bloom10m(spark: SparkSession): DataFrame = {
    val corpus = spark.range(10000000L).select(col("id").as("doc_id"),
      concat(lit("synthetic doc "), col("id")).as("text"))
    val newBatch = spark.range(9500000L, 10500000L).select(col("id").as("doc_id"),
      concat(lit("synthetic doc "), col("id")).as("text"))
    graft.dedup.Dedup.bloomDedupAgainst(newBatch, corpus, "doc_id", "text")
  }

  /** Mergeable-sketch aggregation at volume: 10M hashed tokens over 2M
    * distinct keys, 8 groups — ONE aggregation pass builds a Count-Min
    * (4×4096 counters, 128 KB) AND a register sketch (m=4096, HLL-style)
    * per group; partial state per (group × partition) is fixed no matter
    * the row count. [[exactDistinct10m]] is the same question answered
    * exactly — `count(DISTINCT key)` re-shuffling the 16M (group, key)
    * pairs — so the pair of entries measures what the sketch buys.
    */
  def sketch10m(spark: SparkSession): DataFrame = {
    val df = spark.range(10000000L).select(
      (col("id") % 8).as("domain"),
      xxhash64(col("id") % 2000000L).bitwiseAND(lit(Long.MaxValue)).as("h"))
    // all three mergeable sketch families in ONE pass over 10M rows —
    // the per-partition state is (4·4096 longs + 4096 registers + 66
    // counters) per domain regardless of row count
    df.groupBy("domain").agg(
      graft.expr.SketchAggs.cmsSketch(col("h"), 4, 4096).as("cms"),
      graft.expr.SketchAggs.registerSketch(col("h"), 4096).as("regs"),
      graft.expr.SketchAggs.histSketch((col("h") % 100000L).cast("double"),
        0.0, 100000.0, 64).as("hist"))
  }

  def exactDistinct10m(spark: SparkSession): DataFrame =
    spark.range(10000000L).select(
      (col("id") % 8).as("domain"), (col("id") % 2000000L).as("key"))
      .groupBy("domain").agg(count_distinct(col("key")).as("n_distinct"))

  /** The scale gate, cheapest first. A full run times it in a forked JVM,
    * which runs the entries in this order.
    */
  private val GateKeys = Seq("quota_skew", "lsh_skew", "sketch_10m",
    "ann_pq_encode_200k", "ann_ivfpq_200k", "ann_int8_1m", "tfidf_10x",
    "distinct_exact_10m", "ann_pq_200k", "ann_pq_encode_1m", "funnel_10x",
    "ann_ivfpq_1m", "ann_pq_1m", "cluster_10x",
    "streaming_1m", "streaming_1m_sketch_rows", "streaming_1m_lsh_rows",
    "streaming_1m_state_mb", "kernel_batch_10x", "kernel_batch_10x_skew",
    "kernel_batch_10x_accskew", "bloom_10m")

  /** Every key a run can report besides the suite queries: the headline
    * entries timed in the main JVM, the scale gate, and the entries timed
    * only when named in SPARK_GRAFT_BENCH_ONLY (`kernel_batch_100x`,
    * `streaming_10m` and its gauges).
    */
  val HeadlineKeys: Seq[String] = Seq(
    "predict_single_route", "predict_10_concurrent", "kernel_batch_168k",
    "kernel_batch_168k_pruned", "kernel_batch_incremental_100new",
    "kernel_batch_168k_factorized", "nightly_3dates", "map_with_safety_168k") ++
    GateKeys ++ Seq("kernel_batch_100x", "streaming_10m", "streaming_10m_sketch_rows",
      "streaming_10m_state_mb")

  /** Every key a run can report: the suite queries and [[HeadlineKeys]]. */
  lazy val EntryNames: Set[String] = SparkEntry.queries.keySet ++ HeadlineKeys

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val stamp = SrcStamp.srcStamp()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // AQE re-plans these fixed-shape single-stage kernels at measurable
      // cost (~2× on the 1.16B-pair batch in local mode) and buys nothing
      // here: no skewed shuffles, broadcast sides already hinted. On a real
      // cluster with data-dependent shuffles it should stay ON.
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      // RocksDB state store for the streaming gate: the LSH posting-list
      // op carries ~800K bucket entries, and the default HDFS-backed
      // provider rewrites whole-store snapshot files per maintenance pass
      // at that size (round 9's "state stores falling behind" spiral).
      // RocksDB does incremental commits and is the standard provider for
      // larger-than-heap state — the same choice a production deployment
      // of these operators would make. Correctness parity with the
      // default provider is spec'd in StreamingOpsSpec (which runs the
      // HDFS-backed default).
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // Changelog checkpointing (round 18, guide §5 / VERDICT item 3):
      // each micro-batch commit uploads only that batch's changelog;
      // full RocksDB snapshots move to the background maintenance
      // thread. Same exactly-once/recovery semantics (a checkpoint
      // FORMAT choice, not an operator change — the standard production
      // setting for RocksDB state stores at scale, where per-commit
      // snapshot upload is the dominant stream latency term and grows
      // with state size instead of batch size). Correctness parity with
      // the default provider stays spec'd in StreamingOpsSpec.
      .config(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
      // Without per-commit snapshots nothing forces a memtable flush any
      // more, so live RocksDB memory (memtable arenas + table readers)
      // accumulates — measured here: peak state gauge 34 -> 201 MB across
      // the two operators' stores with IDENTICAL content (row gauges
      // unchanged). Bounded memory usage is the production answer (one
      // WriteBufferManager + cache budget shared by every store on the
      // host; flushes triggered by the budget run in the background, off
      // the commit path), sized here to the measured snapshot-era state
      // footprint. Scales out: the budget is per executor, not global.
      .config("spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage", "true")
      .config("spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB", "40")
      .getOrCreate()
    // ERROR, not WARN: the streaming gates' WARN lag reports would bury
    // the result lines
    spark.sparkContext.setLogLevel("ERROR")

    def time(fn: => DataFrame): Double = {
      val t0 = System.nanoTime()
      try fn.write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[bench] ${e.getMessage}"); return -1.0 }
      (System.nanoTime() - t0) / 1e9
    }

    // set when a capped() body outlived its post-cancel grace window; the
    // next record() checks liveness and warns that its wall shared the pool
    var capStraggler: Thread = null

    /** Hard per-entry wall cap: `body` runs on a watchdogged
      * thread inside its own job group; on timeout the group is cancelled
      * (interrupting task threads AND the submitting thread, so blocking
      * collect()/processAllAvailable() unwind through their own
      * try/finally) and the entry records its failure sentinel instead of
      * hanging the run.
      */
    def capped[T](name: String, capSec: Int, onTimeout: T)(body: => T): T = {
      val sc = spark.sparkContext
      val done = new java.util.concurrent.CountDownLatch(1)
      @volatile var res: T = onTimeout
      val t = new Thread(() => {
        sc.setJobGroup(s"bench-$name", name, interruptOnCancel = true)
        try res = body
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name: ${e.getMessage}") }
        finally { sc.clearJobGroup(); done.countDown() }
      }, s"bench-cap-$name")
      t.setDaemon(true)
      t.start()
      if (done.await(capSec.toLong, java.util.concurrent.TimeUnit.SECONDS)) res
      else {
        System.err.println(s"[bench] $name exceeded ${capSec}s cap — cancelling")
        sc.cancelJobGroup(s"bench-$name")
        t.interrupt()
        // a body that ignores interrupt (native/IO code) can keep running
        // Spark work CONCURRENTLY with later timed entries — track the
        // straggler so the next record() can flag its wall as suspect
        if (!done.await(60L, java.util.concurrent.TimeUnit.SECONDS)) {
          System.err.println(s"[bench] $name STILL RUNNING 60s after cancel — " +
            "later walls may be inflated until it unwinds")
          capStraggler = t
        }
        onTimeout
      }
    }
    // hand-timed blocks (collect()-shaped paths) get the SAME sentinel
    // containment as time(): one throwing headline must cost one -1 entry,
    // not abort the run
    def timedBlock(body: => Unit): Double = {
      val t0 = System.nanoTime()
      try body
      catch { case e: Throwable => System.err.println(s"[bench] ${e.getMessage}"); return -1.0 }
      (System.nanoTime() - t0) / 1e9
    }

    // untimed warm-up: session/codegen/shuffle bring-up and parquet footer
    // reads land here instead of on the alphabetically-first query (d01 was
    // charged ~5 s of cold-start for a 500-row aggregate)
    spark.range(1000)
      .select(md5(col("id").cast("string")).as("h"), col("id"))
      .groupBy("h").agg(count(lit(1)).as("n"), min("id").as("m"))
      .write.format("noop").mode("overwrite").save()
    Tables.documents(spark, sfDir).count()
    Tables.lineitem(spark, sfDir).select(count(lit(1))).collect()

    // subsetting (SPARK_GRAFT_BENCH_ONLY="kernel_batch_10x,d05_…"):
    // re-time individual entries without paying for the whole suite
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").map(_.trim).toSet)
    def want(name: String): Boolean = only.forall(_.contains(name))

    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    def fmt(v: Double) = // Locale.ROOT: a comma-decimal default locale would break the JSON
      if (v < 0) "-1"
      else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def line(): String = {
      val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
      s"""{"queries":$qs,"src_stamp":"$stamp","sf":"$sfDir","cpus":${cpus.toInt},"n_failed":${results.count(_._2 < 0)}}"""
    }
    // the cumulative line after every completed entry: a run cut short
    // keeps everything measured so far, and the forked gate child's lines
    // are what its parent harvests
    def emit(): Unit = println(line())

    // two timed executions per query, min reported: the first run often
    // pays codegen + JIT of that query's generated classes (measured up to
    // 3-4× on shared hosts), which is session bring-up, not operator
    // throughput — the min is the steady-state number a long-running
    // cluster job sees. Errors keep the -1.0 sentinel. Queries whose FIRST
    // run already took ≥ 2 s skip the repeat: at that wall the JIT share
    // is small.
    SparkEntry.queries.toSeq.sortBy(_._1).filter(kv => want(kv._1))
      .foreach { case (name, fn) =>
        val a = time(fn(spark, sfDir))
        results(name) =
          if (a < 0) -1.0
          else if (a >= 2.0) a
          else {
            val b = time(fn(spark, sfDir))
            if (b < 0) -1.0 else math.min(a, b)
          }
        emit()
      }

    // the suite above leaves dead broadcasts + generated classes behind;
    // give ContextCleaner/GC a chance to reclaim them so the headline
    // kernels below measure the kernel, not the suite's garbage
    spark.catalog.clearCache()
    System.gc()

    // A capped() straggler still alive means this entry shares the
    // executor pool with leftover work: say so loudly. Multi-key entries
    // (the streaming soaks) return their wall and state gauges in one map.
    def recordMulti(wallKey: String)(body: => Map[String, Double]): Unit = {
      if (capStraggler != null && !capStraggler.isAlive) capStraggler = null
      if (capStraggler != null)
        System.err.println(s"[bench] WARNING: $wallKey timed while " +
          s"'${capStraggler.getName}' was still unwinding — wall suspect")
      val m = body
      m.keys.foreach(k => require(HeadlineKeys.contains(k), s"unlisted bench entry $k"))
      results ++= m; emit()
    }

    def record(name: String)(v: => Double): Unit =
      if (want(name)) recordMulti(name)(Map(name -> v))

    // interactive predict: collect, like the API would (top-50 included):
    // Predict.predict's one fold pass, which returns the score and the
    // contributors' 10-field breakdown together
    record("predict_single_route") { timedBlock {
      val route = syntheticRoutes(spark, 1)
      SafetyKernel.scoreWithContributors(route, syntheticAccidents(spark, 6900), planDate, 50)
        .collect()
    } }
    // 10 concurrent interactive predicts (BASELINE.md: asyncio 10-way
    // concurrency < 15-16 s, current ~13 s) — independent single-route
    // kernels submitted in parallel; Spark's FIFO scheduler interleaves
    // their stages across the same executor pool
    record("predict_10_concurrent") { timedBlock {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration._
      // a DEDICATED 10-thread pool: the global pool sizes to host cores, so
      // on a small bench host only coreCount of the 10 blocking collect()s
      // would actually overlap and the number silently measures batched
      // latency instead of 10-way concurrency
      val pool = java.util.concurrent.Executors.newFixedThreadPool(10)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      try {
        val acc = syntheticAccidents(spark, 6900)
        val reqs = (0 until 10).map { i =>
          Future {
            val route = spark.range(1).select(
              col("id").as("route_id"),
              lit(38.0 + i * 0.7).as("lat"), lit(-110.0 - i * 0.9).as("lon"),
              lit(1500.0 + i * 200).as("elev"),
              lit(Seq("alpine", "trad", "sport", "ice")(i % 4)).as("route_type"),
              lit(5.0 + i).as("difficulty"))
            SafetyKernel.scoreWithContributors(route, acc, planDate, 50).collect()
          }
        }
        Await.result(Future.sequence(reqs), 600.seconds)
      } finally pool.shutdown()
    } }
    // min-of-2 like the suite: the first execution pays JIT for the
    // plan's codegen and the fold's loop — session bring-up, not kernel
    // throughput (the once-only 10× entry amortizes the same cost over
    // minutes of real work)
    def time2(fn: => DataFrame): Double = {
      val a = time(fn); val b = time(fn)
      if (a < 0 || b < 0) -1.0 else math.min(a, b)
    }
    // min-of-3 for the exact 168k batch (one extra run vs time2): it is
    // the suite's most host-sensitive headline, and the extra sample is
    // cheap against a multi-minute run
    record("kernel_batch_168k") {
      val a = time2(kernelBatch168k(spark)); val b = time(kernelBatch168k(spark))
      if (a < 0 || b < 0) -1.0 else math.min(a, b)
    }
    record("kernel_batch_168k_pruned") { time2(kernelBatch168kPruned(spark)) }
    // incremental nightly: 100 new accidents arrive → delta-kernel only
    // (exact decomposition; the reference rebuilds all 1.16B pairs instead)
    record("kernel_batch_incremental_100new") {
      // setup (the full old-scores batch) stays OUTSIDE the timed block but
      // inside its own containment: a setup failure is this entry's -1, not
      // the whole round's
      try {
        val oldScores = kernelBatch168k(spark)
          .select("route_id", "total_influence", "n_contributing", "risk_score", "color_code")
          .localCheckpoint()
        timedBlock {
          graft.pipeline.ScoringPipeline.applyAccidentDelta(
            oldScores, syntheticRoutes(spark, 168000),
            syntheticAccidents(spark, 7000).where(col("accident_id") >= 6900),
            planDate, pruned = true)
            .write.format("noop").mode("overwrite").save()
        }
      } catch { case e: Throwable => System.err.println(s"[bench] ${e.getMessage}"); -1.0 }
    }
    record("kernel_batch_168k_factorized") { time2(kernelBatch168kFactorized(spark)) }
    // the reference's actual nightly beat (compute + parquet write +
    // invariant count + retention), not just the kernel compute
    record("nightly_3dates") {
      capped("nightly_3dates", 300, -1.0)(
        try nightly3dates(spark)
        catch { case e: Throwable =>
          System.err.println(s"[bench] nightly_3dates: ${e.getMessage}"); -1.0 })
    }
    record("map_with_safety_168k") { time2(mapWithSafety168k(spark)) }
    // scale-stress gate: 10× blow-up + planted skew (see the factory docs);
    // the 10× batch runs ONCE — it is minutes long and self-amortizing.
    // On a FULL run the gate executes in a freshly forked JVM: gate entries
    // sharing the suite's JVM inflated suite walls 9–23× (heap, GC and
    // code-cache pressure), and a fresh JVM times the gate without the
    // suite's garbage. Subset runs (SPARK_GRAFT_BENCH_ONLY) time inline —
    // they ARE the child, which is what stops the fork from recursing.
    if (only.isEmpty) {
      spark.stop() // free the parent's executor pool + heap for the child
      // keys the child never reported (crash or cap before reaching them)
      // come back as -1
      results ++= runIsolated(GateKeys, sfDir, cpus, partial => { results ++= partial; emit() })
    } else {
      // per-entry wall caps (≈2-3× measured walls): a wedged entry records
      // -1 and the run moves on
      record("quota_skew") { capped("quota_skew", 90, -1.0)(time2(quotaSkew(spark, sfDir))) }
      record("lsh_skew") { capped("lsh_skew", 90, -1.0)(time2(lshSkew(spark, sfDir))) }
      record("sketch_10m") { capped("sketch_10m", 90, -1.0)(time(sketch10m(spark))) }
      // ANN volume gates: the quantized codes paths at 2000× the bench
      // embeddings table (1M / 200K synthetic vectors)
      record("ann_pq_encode_200k") { capped("ann_pq_encode_200k", 90, -1.0)(time(annEncode(spark, 200000L))) }
      record("ann_ivfpq_200k") { capped("ann_ivfpq_200k", 120, -1.0)(time(annIvfPq200k(spark))) }
      record("ann_int8_1m") { capped("ann_int8_1m", 120, -1.0)(time(annInt81m(spark))) }
      // 10× pipeline surface: TF-IDF, the 5-stage funnel, and clustering
      // at a blown-up corpus with planted skew — each runs ONCE, like the
      // 10× batch (minutes-scale, self-amortizing)
      record("tfidf_10x") { capped("tfidf_10x", 120, -1.0)(time(
        graft.queries.PipelineQueries.tfidfTopTerms(documents10x(spark, sfDir)))) }
      record("distinct_exact_10m") { capped("distinct_exact_10m", 120, -1.0)(time(exactDistinct10m(spark))) }
      record("ann_pq_200k") { capped("ann_pq_200k", 120, -1.0)(time(annPq200k(spark))) }
      record("ann_pq_encode_1m") { capped("ann_pq_encode_1m", 150, -1.0)(time(annEncode(spark, 1000000L))) }
      record("funnel_10x") { capped("funnel_10x", 180, -1.0)(time(
        graft.queries.PipelineQueries.corpusFunnel(spark, documents10x(spark, sfDir)))) }
      record("ann_ivfpq_1m") { capped("ann_ivfpq_1m", 180, -1.0)(time(annIvfPq1m(spark))) }
      record("ann_pq_1m") { capped("ann_pq_1m", 240, -1.0)(time(annPq1m(spark))) }
      record("cluster_10x") { capped("cluster_10x", 240, -1.0)(time(cluster10x(spark))) }
      if (want("streaming_1m")) {
        recordMulti("streaming_1m") {
          capped("streaming_1m", 450, Map("streaming_1m" -> -1.0))(
            streaming1m(spark))
        }
      }
      record("kernel_batch_10x") { capped("kernel_batch_10x", 600, -1.0)(time(kernelBatch10x(spark))) }
      record("kernel_batch_10x_skew") {
        capped("kernel_batch_10x_skew", 600, -1.0)(time(kernelBatch10xSkew(spark))) }
      record("kernel_batch_10x_accskew") {
        capped("kernel_batch_10x_accskew", 600, -1.0)(time(kernelBatch10xAccSkew(spark))) }
      record("bloom_10m") { capped("bloom_10m", 420, -1.0)(time(bloom10m(spark))) }
      // linearity evidence, opt-in by explicit name only (~30 min)
      if (only.exists(_.contains("kernel_batch_100x")))
        record("kernel_batch_100x") { time(kernelBatch100x(spark)) }
      // second-decade streaming soak, opt-in by explicit name only
      if (only.exists(_.contains("streaming_10m"))) {
        recordMulti("streaming_10m") {
          capped("streaming_10m", 900,
            Map("streaming_10m" -> -1.0))(streaming10m(spark))
        }
      }
    }

    // the last line is printed after Spark stops, so nothing follows it
    try spark.stop() catch { case _: Throwable => () }
    emit()
    if (only.isEmpty)
      java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH_LOCAL.json"), line() + "\n")
  }
}
