package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.kernel.SafetyKernel

/** The nightly batch (SURVEY §3.2, S9/S10): score every route for a set of
  * dates and land the results as a date-partitioned parquet table with
  * idempotent per-partition overwrite — the Spark-native replacement for
  * the reference's `INSERT … ON CONFLICT DO UPDATE` upsert batches and
  * Redis TTL cleanup (`safety_computation_optimized.py:827-905`,
  * `cache.py:477-524`).
  *
  * Scale shape: the accidents are collected once into broadcast
  * primitive arrays (small side), and each route partition folds every
  * route over them for all dates at once — the date-independent pair
  * factors are computed once per pair and only the temporal factor fans
  * out per date (SafetyKernel.scoreRoutesForDates). No operator carries a
  * row per pair; the one shuffle is a route_id-keyed merge over |routes|
  * rows, then the dates fan out over |routes| rows. Partition overwrite
  * makes retries idempotent (the reference needed a distributed lock for
  * that; Spark's dynamic partition overwrite gives the same safety for
  * free).
  */
object ScoringPipeline {

  /** Score all routes for each date; returns the rows tagged with
    * `prediction_date` (the partition column). One multi-date per-route
    * fold (SafetyKernel.scoreRoutesForDates) computes the date-independent
    * factors once per pair and fans out only the temporal factor —
    * per-(route, date) values bit-identical to the per-date kernels
    * (spec-pinned).
    */
  def computeDailyScores(routes: DataFrame, accidents: DataFrame,
                         dates: Seq[String]): DataFrame = {
    require(dates.nonEmpty, "computeDailyScores: empty dates list")
    SafetyKernel.scoreRoutesForDates(routes, accidents, dates)
      .withColumn("calculated_at", current_timestamp())
  }

  /** Write scores with dynamic partition overwrite (upsert-by-partition,
    * S9). Re-running a date replaces exactly that date's partition.
    */
  def writeScores(scores: DataFrame, outPath: String): Unit =
    scores.write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("prediction_date")
      .parquet(outPath)

  /** Serving-format export — the file-native twin of the reference's Redis
    * payload (`cache.py:347-444` SETEX's a JSON document per (route, date);
    * `cache.py:126` serializes with json.dumps): one JSON line per score
    * row, date-partitioned like the parquet table so retention (S10) and
    * idempotent re-export work identically. A downstream cache loader
    * replays the partition into its KV store. `csv` for spreadsheet-class
    * consumers. Round-trip (schema + values) is spec'd.
    */
  def exportScores(scores: DataFrame, outPath: String, format: String): Unit = {
    require(Seq("json", "csv").contains(format), s"unsupported export format: $format")
    scores.write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("prediction_date")
      .format(format)
      .option("header", "true") // csv only; ignored by json
      .save(outPath)
  }

  /** Read an export back (schema must be supplied — json/csv carry no
    * types; the caller knows the score schema it exported).
    */
  def readExport(spark: SparkSession, path: String, format: String,
                 schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.format(format).option("header", "true").schema(schema).load(path)

  /** Full nightly run with the reference's row-count invariant
    * (`safety_computation_optimized.py:689-699`): every route must be
    * scored for every date.
    */
  def runDaily(spark: SparkSession, routes: DataFrame, accidents: DataFrame,
               dates: Seq[String], outPath: String): Long = {
    val scores = computeDailyScores(routes, accidents, dates)
    writeScores(scores, outPath)
    val written = spark.read.parquet(outPath)
      .where(col("prediction_date").isin(dates.map(d => java.sql.Date.valueOf(d)): _*))
      .count()
    val expected = routes.count() * dates.length
    require(written == expected,
      s"scoring invariant violated: wrote $written rows, expected $expected")
    written
  }

  /** Row-grain MERGE upsert (the exact semantics of the reference's
    * `INSERT … ON CONFLICT (route_id, prediction_date) DO UPDATE`,
    * `safety_computation_optimized.py:827-873`) for callers updating a
    * SUBSET of a partition's rows: read the affected date partitions,
    * anti-join out the updated keys, union the updates, overwrite exactly
    * those partitions (dynamic overwrite keeps the rest of the table
    * untouched). At scale the rewrite cost is bounded by the touched
    * partitions, never the table — the same shape a Delta/Iceberg MERGE
    * compiles to on parquet-class storage.
    */
  def mergeScores(spark: SparkSession, updates: DataFrame, outPath: String): Unit =
    // materialize before writing: the sink overwrites partitions the plan
    // is reading (Spark refuses a self-overwriting lineage otherwise)
    writeScores(mergedScores(spark, updates, outPath).localCheckpoint(), outPath)

  /** The rows [[mergeScores]] writes: the touched partitions' stored rows
    * whose keys the updates do not carry, plus the updates. The updates
    * are checkpointed once on entry, so the dates, the anti-join keys and
    * the union all read one materialized relation instead of planning and
    * running the update subtree (a kernel, for an ingest) three times.
    */
  private[graft] def mergedScores(spark: SparkSession, updates: DataFrame,
                                  outPath: String): DataFrame = {
    val u = updates.localCheckpoint()
    val dates = u.select("prediction_date").distinct()
    val existing =
      if (new Path(outPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(new Path(outPath))) {
        spark.read.parquet(outPath)
          // partition pruning keeps this scan to the touched dates
          .join(broadcast(dates), Seq("prediction_date"), "left_semi")
          .join(u.select("route_id", "prediction_date"),
            Seq("route_id", "prediction_date"), "left_anti")
      } else u.limit(0)
    existing.unionByName(u.select(existing.columns.map(col): _*))
  }

  /** EXACT incremental re-scoring for newly-ingested accidents — the
    * update the reference cannot do (it rebuilds all 168K × 6.9K pairs
    * nightly, `safety_computation_optimized.py:954-1019`): the kernel
    * aggregate DECOMPOSES — `total_influence` is a sum over accidents and
    * `n_contributing` a sum of indicators — so adding accidents is a
    * delta-kernel over routes × NEW accidents only, added onto the stored
    * totals, with risk/color re-derived from the new total. The delta is
    * the per-route fold over the new accidents for the one plan date
    * ([[accidentDeltaTotals]]); `pruned = true` drops the pairs beyond
    * each route's prune gate (influence below the 1e-6 floor — the same
    * fold as `KernelPruning.scoreRoutesPruned`), which it skips without
    * trig.
    * The batch is collected on the driver and broadcast (its arrays must
    * stay below `spark.sql.maxBroadcastTableSize`, else the call fails).
    * Per route the pruned fold scans one bit per new accident and visits
    * only those inside its gate's latitude band, so its work grows with
    * routes × batch / 64 plus the in-band pairs: it suits a batch that is
    * small next to the route catalogue, as an ingest's is.
    * `graft.bench.IngestBatchBench` (test tree) times the pruned delta
    * against the exact one (`pruned = false`) over growing batches.
    *
    * `oldScores` needs (route_id, total_influence, n_contributing) — what
    * [[computeDailyScores]] writes; other columns pass through with risk,
    * color and totals replaced. Routes absent from the delta keep their
    * stored score untouched.
    */
  def applyAccidentDelta(oldScores: DataFrame, routes: DataFrame,
                         newAccidents: DataFrame,
                         planDate: org.apache.spark.sql.Column,
                         pruned: Boolean = false): DataFrame = {
    val delta = accidentDeltaTotals(routes, newAccidents, planDate, pruned)
    // a multi-date scores table: the delta is computed FOR planDate, so it
    // must land only on that date's rows — joining on route alone would
    // silently add it to every date of the route
    if (oldScores.columns.contains("prediction_date"))
      applyDeltaTotals(oldScores,
        delta.withColumn("prediction_date", to_date(planDate)),
        Seq("route_id", "prediction_date"))
    else applyDeltaTotals(oldScores, delta)
  }

  /** The per-route delta a set of new accidents contributes:
    * (route_id, d_total, d_n) — one call to the per-route fold
    * ([[SafetyKernel.scoreRoutesForDates]]) for the single plan date. Exact
    * (`pruned = false`), its values are bit-identical to
    * `SafetyKernel.scoreRoutes`. Both modes give the same rows (none for an
    * empty batch, NULL `d_total` where every influence is NULL); with
    * `pruned`, only routes with a pair inside their prune gate carry
    * nonzero values. [[applyDeltaTotals]] reads a missing or NULL delta
    * as 0.
    */
  def accidentDeltaTotals(routes: DataFrame, newAccidents: DataFrame,
                          planDate: org.apache.spark.sql.Column,
                          pruned: Boolean = false): DataFrame =
    SafetyKernel.scoreRoutesForDates(routes, newAccidents, Seq(planDate),
        pruned = pruned)
      .select(col("route_id"),
        col("total_influence").as("d_total"), col("n_contributing").as("d_n"))

  /** Fold (d_total, d_n) deltas onto stored scores and re-derive risk/color
    * from the new totals. FULL outer on the keys: a delta whose key has no
    * stored row (a date the nightly hasn't scored yet, a route added after
    * the last batch) materializes as a NEW score row seeded from zero
    * totals — the previous left-join shape silently dropped it, and a
    * compaction then deleted the only copy of that accident's influence.
    * Non-score base columns (calculated_at, …) stay NULL on such rows
    * until the next nightly rewrite of the partition replaces them.
    * `keys` defaults to route-grain; pass (route_id, prediction_date) when
    * both sides carry dates so a delta lands ONLY on its own date's row,
    * never on every date of the route.
    */
  def applyDeltaTotals(oldScores: DataFrame, delta: DataFrame,
                       keys: Seq[String] = Seq("route_id")): DataFrame = {
    import graft.expr.WeightExprs
    oldScores
      .join(delta, keys, "full")
      .withColumn("total_influence",
        coalesce(col("total_influence"), lit(0.0)) + coalesce(col("d_total"), lit(0.0)))
      .withColumn("n_contributing",
        coalesce(col("n_contributing"), lit(0L)) + coalesce(col("d_n"), lit(0L)))
      .withColumn("risk_score", WeightExprs.normalizeRiskScore(col("total_influence")))
      .withColumn("color_code", WeightExprs.colorCode(col("risk_score")))
      .drop("d_total", "d_n")
  }

  /** S10 retention: drop partitions whose date is not in the keep set —
    * partition-directory removal, the table-format analog of the
    * reference's stale-Redis-key cleanup.
    */
  def retainDates(spark: SparkSession, outPath: String, keep: Seq[String]): Seq[String] = {
    val fs = new Path(outPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = new Path(outPath)
    if (!fs.exists(root)) return Seq.empty
    val keepSet = keep.toSet
    val dropped = fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .map(_.getPath)
      .filter { p =>
        p.getName.startsWith("prediction_date=") &&
          !keepSet.contains(p.getName.stripPrefix("prediction_date="))
      }
    dropped.foreach(fs.delete(_, true))
    dropped.map(_.getName)
  }
}
