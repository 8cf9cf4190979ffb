package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical-layout techniques for the 100 TB tier (SURVEY §4): bucketing,
  * so repeated equi-joins on a key are EXCHANGE-FREE, and deterministic
  * salting, so skewed keys stop serializing a stage.
  *
  * Bucketing is the pre-pay move: one shuffle at WRITE time (into N
  * hash-buckets per key, sorted within buckets) buys every later join or
  * aggregation on that key a plan with no Exchange at all — for the scores
  * ⋈ routes serving join, which the reference runs on every map load, that
  * turns the nightly-written scores table into a zero-shuffle read path.
  *
  * Salting is the rescue move when one key dominates (the reference shape:
  * half the accidents in one popular climbing area): append a
  * deterministic salt to the hot key so its rows spread over `factor`
  * reducers, aggregate partially per salted key, then finish per original
  * key. Two exchanges of SMALL partial rows instead of one exchange that
  * funnels the hot key through a single task. (AQE's skew-join handling
  * covers the JOIN side of the same problem at runtime — `AnsiCheck` runs
  * every query with AQE on; salting covers aggregation and pre-AQE plans.)
  */
object ScaleLayout {

  /** Write `df` hash-bucketed (and sorted) by `key` into the session
    * catalog as `table`. Joins/aggs between tables bucketed on the same
    * key with the same bucket count plan with NO Exchange
    * (ScaleLayoutSpec asserts it).
    */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write
      .format("parquet")
      .bucketBy(buckets, key)
      .sortBy(key)
      .mode("overwrite")
      .saveAsTable(table)

  /** Equi-join two same-key same-count bucketed tables — exchange-free by
    * layout, not by optimizer luck.
    */
  def bucketedJoin(spark: SparkSession, leftTable: String, rightTable: String,
                   key: String): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable), key)

  /** Two-phase salted aggregation: the aggregates must be decomposable
    * (sum/count/min/max — anything where partial-of-partial = total).
    * Phase 1 groups by (key, salt); phase 2 merges the ≤`factor` partials
    * per key. The hot key's rows now spread across `factor` reducers in
    * phase 1, and phase 2 only ever sees `factor` rows per key.
    *
    * The salt is a DETERMINISTIC content hash, never a positional id: a
    * positional salt (`monotonically_increasing_id`) is recomputed on task
    * retry, and after a fetch failure the re-run can assign a row a
    * different salt than the copy some reducers already fetched — rows
    * double-count or vanish (the SPARK-23207 failure class, which Spark
    * only guards for its own round-robin repartition). Byte-identical hot
    * rows hashing to ONE salt is fine here: phase 1's map-side partial
    * aggregation collapses each (key, salt) group to a single row per map
    * task before the shuffle, so identical rows never re-serialize a
    * reducer — they arrive pre-merged. (saltedTopK has no map-side partial,
    * so the same collapse is a real caveat there — see its doc.)
    *
    * Hashes only the columns xxhash64 ACCEPTS: MapType (at any nesting
    * depth) is rejected by Spark's hash expressions, so a frame carrying a
    * map column must not fail analysis here — maps are simply left out of
    * the salt. Determinism is unaffected; spread still comes from the
    * remaining columns (for saltedTopK the required total order already
    * implies a distinguishing non-map column set in practice).
    */
  private def contentSalt(df: DataFrame, factor: Int) = {
    import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
    def hashable(dt: DataType): Boolean = dt match {
      case _: MapType => false
      case ArrayType(et, _) => hashable(et)
      case st: StructType => st.fields.forall(f => hashable(f.dataType))
      case _ => true
    }
    val cols = df.schema.fields.collect { case f if hashable(f.dataType) => col(f.name) }
    // all-map frame: no hashable content — degrade to one salt (correct,
    // just unspread) rather than failing analysis
    if (cols.isEmpty) lit(0L) else pmod(xxhash64(cols.toIndexedSeq: _*), lit(factor))
  }

  def saltedSumAggregate(df: DataFrame, key: String, valueCol: String,
                         factor: Int): DataFrame = {
    val salted = df.withColumn("__salt", contentSalt(df, factor))
    salted
      .groupBy(col(key), col("__salt"))
      .agg(sum(valueCol).as("__partial_sum"), count(lit(1)).as("__partial_n"))
      .groupBy(col(key))
      .agg(sum("__partial_sum").as(s"sum_$valueCol"),
        sum("__partial_n").as("n_rows"))
  }

  /** Two-phase salted top-K per key — the skew-proof form of the
    * row_number() quota cut (d21's shape). A plain window partitioned by
    * the key sorts every row of the hot key in ONE task; here phase 1 takes
    * a partial top-K per (key, salt) — the hot key's rows spread over
    * `factor` independent sorted runs — and phase 2 re-ranks only the
    * ≤ K·factor survivors per key. Lossless for any TOTAL `order`: a true
    * top-K row's rank within its salt slice is ≤ its global rank ≤ K, so it
    * always survives phase 1. Output matches the window form: input columns
    * plus `rank` (1-based, in `order`).
    *
    * Same deterministic content-hash salt as saltedSumAggregate (retry
    * safety). Spread relies on row content varying — and it does whenever
    * the REQUIRED total order holds, since a total order implies a
    * distinguishing column set (d21: doc_id tiebreaker). Caveat: rows that
    * are BYTE-IDENTICAL across all hashable columns share one salt, and
    * unlike saltedSumAggregate there is no map-side partial to pre-merge
    * them — such rows violate the total-order requirement anyway (ties are
    * unordered), so the contract, not the salt, is what excludes them.
    */
  def saltedTopK(df: org.apache.spark.sql.DataFrame, key: String,
                 order: Seq[org.apache.spark.sql.Column], k: Int,
                 factor: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val salted = df.withColumn("__salt", contentSalt(df, factor))
    val w1 = Window.partitionBy(col(key), col("__salt")).orderBy(order: _*)
    val survivors = salted
      .withColumn("__r1", row_number().over(w1))
      .where(col("__r1") <= k)
      .drop("__r1", "__salt")
    val w2 = Window.partitionBy(col(key)).orderBy(order: _*)
    survivors
      .withColumn("rank", row_number().over(w2).cast("int"))
      .where(col("rank") <= k)
  }

  /** Bloom-pruned shuffle join — the shuffle-byte rescue for the regime
    * BETWEEN broadcast and plain shuffle: the dimension side is too big to
    * broadcast as a hash relation (10⁸ keys ≈ several GB of rows), but its
    * KEY SET compresses into a Bloom filter a few hundred MB even at 10⁹
    * keys (~1.2 GB at 1% fpp; `Dedup.buildBloom` sizes it honestly). The
    * filter broadcasts once per executor ([[graft.expr.BloomMightContainBcast]]
    * — a torrent broadcast, never a plan Literal), the FACT side probes it
    * MAP-SIDE below its exchange, and only the sliver that can possibly
    * match (true matches + ~fpp noise) is ever serialized, shuffled, and
    * sorted. Spark's own runtime bloom filters do this automatically but
    * cap the filter at 8 MB / 4M items (sized for opportunistic pruning);
    * this op is the explicit, honestly-sized form for when pruning IS the
    * plan.
    *
    * LOSSLESS for the inner equi-join it performs: Bloom filters have no
    * false negatives, so every row with a matching key survives the probe,
    * and the join itself erases the fpp noise — output ≡ plain inner join
    * (d31's oracle hash-matches DuckDB's plain JOIN; the spec additionally
    * pins the probe's Filter below the fact side's Exchange and its
    * numOutputRows at the pruned sliver). Null fact keys never probe and
    * never survive — they cannot match an inner equi-join anyway.
    *
    * The join is hinted SHUFFLE_HASH on the dim side: in this op's regime
    * neither side broadcasts, and on tiny test data Catalyst would
    * otherwise broadcast the dim and skip the exchange the pruning exists
    * to feed. Key columns must share a data type (xxhash64 is
    * type-sensitive — hashing the same value as INT and BIGINT differs).
    *
    * COST NOTE: the dim side is evaluated THREE times per invocation —
    * the sizing `count()`, the filter build (treeAggregate), and the join
    * itself. This op's regime is exactly the one where dim is large, so
    * callers with a non-trivial dim lineage should `.persist()` it first
    * (or pre-compute the count and filter once and inline the probe) —
    * otherwise an expensive dim pipeline runs three jobs before the
    * pruned join starts.
    */
  def bloomPrunedJoin(fact: DataFrame, dim: DataFrame,
                      factKey: String, dimKey: String,
                      fpp: Double = 0.01): DataFrame = {
    require(fact.schema(factKey).dataType == dim.schema(dimKey).dataType,
      s"bloomPrunedJoin: key types must match, got " +
        s"${fact.schema(factKey).dataType} vs ${dim.schema(dimKey).dataType}")
    val dimHashes = dim.where(col(dimKey).isNotNull)
      .select(xxhash64(col(dimKey)).as("h"))
    // exact count is a metadata-scale job; at 10⁹+ keys swap in
    // approx_count_distinct (only sizes the filter, never correctness)
    val n = math.max(dimHashes.count(), 1L)
    val bf = graft.dedup.Dedup.buildBloom(dimHashes, "h", n, fpp)
    val bcast = fact.sparkSession.sparkContext.broadcast(bf)
    val probe = graft.expr.BloomExprs.mightContain(bcast, xxhash64(col(factKey)))
    val pruned = fact.where(col(factKey).isNotNull && coalesce(probe, lit(false)))
    pruned.join(dim.hint("shuffle_hash"), pruned(factKey) === dim(dimKey), "inner")
  }
}
