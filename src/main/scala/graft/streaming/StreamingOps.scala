package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface (SURVEY §2.8). The reference approximates
  * streaming with nightly Celery batches + TTL caches; here the same
  * semantics are first-class incremental queries:
  *
  *  - windowed aggregation with watermarked event time (the 7-day/1-day
  *    sliding recompute collapses to `window()` + watermark)
  *  - session windows via typed `flatMapGroupsWithState` (the streaming
  *    twin of the W4 gaps-and-islands batch query, q10_sessionize)
  */
object StreamingOps {

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                   event_type: String, value: Double)

  case class SessionState(sessionStartUs: Long, lastTsUs: Long, nEvents: Long,
                          totalValueCents: Long)

  case class SessionOut(user_id: Long, session_start_us: Long, n_events: Long,
                        session_value: Double)

  val SessionGapUs: Long = 30L * 60 * 1000000 // 30 min, matches q10_sessionize

  /** Tumbling windowed counts over watermarked event time. Works on both
    * batch and streaming frames (same plan — Structured Streaming's
    * unified-API contract).
    */
  def hourlyTypeCounts(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .select(
        unix_micros(col("w.start")).as("hour_us"),
        col("event_type"), col("n_events"),
        // coalesce like the batch twin's moneySum: a group whose every
        // value is NULL totals 0.0, not NULL
        (coalesce(col("value_cents"), lit(0L)).cast("double") / 100.0).as("total_value"))

  /** Windowed mergeable sketches over watermarked event time — the
    * streaming twin of the d28/d29 batch aggregates: per (window, group)
    * one Count-Min counter array + one register sketch. The aggregate
    * buffers persist in the state store between micro-batches exactly like
    * any built-in aggregate's (TypedImperativeAggregate serializes its
    * buffer), so state per (window × group) is the FIXED sketch size —
    * frequency and cardinality tracking over an unbounded token stream
    * with bounded state, no per-value dedup state. Works on batch frames
    * too (unified-API contract), which is what the parity spec pins.
    */
  def windowedSketch(rows: DataFrame, tsCol: String, groupCol: String,
                     hashCol: String, windowLen: String = "1 hour",
                     watermark: String = "1 hour",
                     depth: Int = 4, width: Int = 1024, m: Int = 64): DataFrame =
    rows
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen).as("w"), col(groupCol))
      .agg(graft.expr.SketchAggs.cmsSketch(col(hashCol), depth, width).as("cms"),
        graft.expr.SketchAggs.registerSketch(col(hashCol), m).as("regs"))
      .select(unix_micros(col("w.start")).as("win_us"), col(groupCol),
        col("cms"), col("regs"))

  /** Windowed histogram sketch — the distributional member of
    * [[windowedSketch]]'s family over the same watermarked state-store
    * mechanics: per (event-time window × group) one `bins + 2` counter
    * array, fixed state per key regardless of stream volume. Downstream
    * consumers answer windowed P50/P95/P99 via `SketchAggs.histQuantile`
    * and drift-between-windows via `SketchAggs.histDrift` — both pure
    * Column reads over the emitted arrays. Batch frames run the same
    * plan (unified-API contract; the parity spec pins stream ≡ batch).
    */
  def windowedHistogram(rows: DataFrame, tsCol: String, groupCol: String,
                        valueCol: String, lo: Double, hi: Double, bins: Int,
                        windowLen: String = "1 hour",
                        watermark: String = "1 hour"): DataFrame =
    rows
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen).as("w"), col(groupCol))
      .agg(graft.expr.SketchAggs.histSketch(
        col(valueCol).cast("double"), lo, hi, bins).as("hist"))
      .select(unix_micros(col("w.start")).as("win_us"), col(groupCol), col("hist"))

  /** Drift between CONSECUTIVE windows of a [[windowedHistogram]] output —
    * the monitoring read that closes the loop: "did this hour's value
    * distribution shift from last hour's?" answered per group from the
    * emitted sketch rows (the standard pattern of a batch monitoring query
    * over a streaming sink table; the windows being compared never need
    * the raw stream again). Emits one row per (group, window) that HAS a
    * predecessor: window start, previous window start, and the
    * [[graft.expr.SketchAggs.histDrift]] struct (tv, drift_bin, masses).
    */
  def windowDrift(hists: DataFrame, groupCol: String, bins: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("win_us").asc)
    hists
      .withColumn("prev_hist", lag(col("hist"), 1).over(w))
      .withColumn("prev_win_us", lag(col("win_us"), 1).over(w))
      .where(col("prev_hist").isNotNull)
      .select(col(groupCol), col("win_us"), col("prev_win_us"),
        graft.expr.SketchAggs.histDrift(col("prev_hist"), col("hist"), bins).as("drift"))
  }

  /** Streaming sessionization: a 30-minute inactivity gap (observed via a
    * later event for the same user) closes a session and emits it. Sessions
    * awaiting evidence stay in state — gap-evidence closing keeps the
    * operator deterministic under replay (a processing-time timeout would
    * tie emission to wall-clock; add `EventTimeTimeout` + watermark when
    * bounded state growth matters at production scale).
    */
  def sessionize(events: Dataset[Event]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          val out = scala.collection.mutable.ListBuffer[SessionOut]()
          var cur = state.getOption
          // process this micro-batch's events in event-time order
          rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            val tsUs = e.ts.getTime * 1000
            // HALF_UP like Spark's round() (q10 batch parity): math.round
            // rounds half toward +∞, which differs on negative half-cents
            // (refunds) — math.round(-12.5) = -12 vs round() = -13
            val cents = java.math.BigDecimal.valueOf(e.value * 100)
              .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
            cur match {
              // Within gap of the open session's span (events between start
              // and last always chain; a cross-batch LATE event within gap
              // of the start chains backwards). lastTs takes max() so a
              // late event can never REGRESS the session clock — regressing
              // would mis-split on the next in-order event.
              case Some(s) if tsUs - s.lastTsUs <= SessionGapUs &&
                  tsUs >= s.sessionStartUs - SessionGapUs =>
                cur = Some(s.copy(
                  sessionStartUs = math.min(s.sessionStartUs, tsUs),
                  lastTsUs = math.max(s.lastTsUs, tsUs),
                  nEvents = s.nEvents + 1,
                  totalValueCents = s.totalValueCents + cents))
              // STALE: older than the open session's reach — it belongs to
              // some closed earlier session whose output is already final;
              // emit it as its own singleton rather than corrupting the
              // open session's state (batch parity for such events needs
              // event-time windows; this is the bounded-damage choice).
              case Some(s) if tsUs < s.sessionStartUs - SessionGapUs =>
                out += closed(userId, SessionState(tsUs, tsUs, 1, cents))
              case Some(s) =>
                out += closed(userId, s)
                cur = Some(SessionState(tsUs, tsUs, 1, cents))
              case None =>
                cur = Some(SessionState(tsUs, tsUs, 1, cents))
            }
          }
          cur.foreach(state.update)
          out.iterator
      }
  }

  private def closed(userId: Long, s: SessionState): SessionOut =
    SessionOut(userId, s.sessionStartUs, s.nEvents, s.totalValueCents / 100.0)

  /** Streaming ingestion dedup — the streaming twin of exact dedup (the
    * training-pipeline "drop re-crawled documents" step): keep the first
    * row per content digest, with dedup state BOUNDED by the watermark
    * horizon (`dropDuplicatesWithinWatermark`): a digest older than the
    * horizon is evicted from state, which is the only contract that
    * survives unbounded ingest. Works identically on a batch frame
    * (unified API), where it degenerates to plain digest-dedup.
    */
  def streamingExactDedup(docs: DataFrame, tsCol: String, textCol: String,
                          watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("text_hash", md5(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("text_hash")
      .drop("text_hash") // internal helper — output schema == input schema,
                         // like Dedup.dropExactDuplicates drops __rn

  /** Stream-STATIC dedup — the other half of ingestion dedup: drop streamed
    * documents whose content digest already exists in the HISTORICAL corpus
    * (a static digest dictionary), via a left-anti stream-static join.
    * Stateless: unlike the within-stream watermarked state above, nothing
    * accumulates in a state store — the static side is re-read per
    * micro-batch (so a dictionary refreshed by a nightly compaction is
    * picked up without restarting the query) and Spark broadcasts or
    * shuffles it like any batch join side. The two compose: corpus
    * anti-join first (cheap, stateless), then within-stream dedup for
    * intra-horizon re-crawls.
    */
  def streamingDedupAgainstCorpus(docs: DataFrame, corpusDigests: DataFrame,
                                  textCol: String): DataFrame =
    docs
      .withColumn("text_hash", md5(col(textCol)))
      .join(corpusDigests.select("text_hash"), Seq("text_hash"), "left_anti")
      .drop("text_hash") // internal helper — output schema == input schema

  // --- streaming NEAR-dup candidates (LSH over a stateful posting list) ----

  /** One (doc, band) posting: `bucket` is xxhash64 of the band's signature
    * slice, made by `Dedup.bandSignatures` as in the batch `bandedPostings`,
    * so stream and batch agree on which docs collide.
    */
  case class BandedSig(id: Long, sig: Seq[Long], band: Int, bucket: Long)

  /** Per-(band, bucket) state: the bucket's posting list (parallel id/sig
    * seqs — the streaming mirror of the persisted posting list
    * `lshCandidatePairsAgainst` probes), plus the skew latch.
    */
  case class LshBucketState(ids: Seq[Long], sigs: Seq[Seq[Long]], capped: Boolean)

  case class LshPairOut(id_a: Long, id_b: Long, band: Int, est_jaccard: Double)

  /** Streaming NEAR-dup candidate pairs — the streaming twin of the
    * incremental batch dedup (`Dedup.lshCandidatePairsAgainst`): each
    * micro-batch's documents are MinHash-signed map-side, exploded into
    * band postings, and probed against a stateful per-(band, bucket)
    * posting list; a new doc emits a candidate pair (lower id first, with
    * the estimated Jaccard) against every doc already in its bucket, then
    * joins the posting list itself. State IS the incremental path's
    * persisted posting list, so corpus × corpus work is never redone —
    * each arrival costs O(bucket size) comparisons, and `maxBucketSize`
    * latches a degenerate bucket (boilerplate signatures) closed: once
    * full, later arrivals are dropped from that bucket, bounding both
    * state and per-batch fan-out the way the batch cap bounds the join
    * (the divergence: pairs emitted before the latch engaged are not
    * retractable in append mode — the batch cap drops such buckets
    * wholesale). Re-delivered ids are idempotent (already-present ids
    * neither re-emit nor re-join). A pair sharing several bands emits once
    * per (band, bucket) — distinct on (id_a, id_b) downstream, exactly
    * like the batch form's final `.distinct()`.
    *
    * STATE RETENTION (`stateTtl`): without a TTL the per-(band, bucket)
    * state count grows with the corpus forever — bounded per bucket by
    * `maxBucketSize`, but unbounded in the number of buckets, so a real
    * unbounded-ingest deployment eventually exhausts the state store.
    * With `stateTtl = Some(d)`, a bucket idle for longer than `d`
    * (processing time, re-armed on every arrival) is EVICTED. The
    * contract that survives eviction: any two docs whose arrivals are
    * within one TTL window of each other always emit their candidate
    * pair (the bucket cannot expire between them); pairs spanning more
    * than the horizon are deliberately forgotten — the retention policy,
    * same as compacting old postings out of the incremental batch path.
    * Re-delivering an evicted doc re-admits it and re-emits its pairs
    * against the CURRENT bucket residents, so recovery degrades to
    * at-most-duplicate candidates downstream (the trailing distinct on
    * (id_a, id_b) absorbs them), never to corrupt state.
    */
  def streamingLshCandidates(docs: DataFrame, idCol: String, textCol: String,
                             numHashes: Int = 16, shingleWidth: Int = 3,
                             bands: Int = 4, maxBucketSize: Int = 64,
                             minEst: Double = 0.0,
                             stateTtl: Option[java.time.Duration] = None): Dataset[LshPairOut] = {
    require(numHashes % bands == 0,
      s"signature length $numHashes not divisible by $bands bands")
    import docs.sparkSession.implicits._
    // native fused signature expression — bit-identical to the HOF
    // reference form (MinHashStaged.minhashSignature) and the batch bulk
    // path, so stream≡batch parity is by construction; null-text docs yield a NULL
    // signature (null tokens array → unary null propagation) and are
    // dropped here exactly as the batch path drops them
    val signed = docs.select(
        col(idCol).cast("long").as("id"),
        graft.expr.MinHashExpr.minhashSigs(
          graft.text.TextExprs.tokens(col(textCol)), numHashes, shingleWidth).as("sig"))
      .where(col("sig").isNotNull)
    val banded = graft.dedup.Dedup.bandSignatures(signed, "id", numHashes, bands).as[BandedSig]
    val timeoutConf =
      if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    banded
      .groupByKey(p => (p.band, p.bucket))
      .flatMapGroupsWithState[LshBucketState, LshPairOut](
        OutputMode.Append(), timeoutConf) {
        (key: (Int, Long), rows: Iterator[BandedSig],
         state: GroupState[LshBucketState]) =>
          if (state.hasTimedOut) {
            // idle past the TTL: drop the posting list (capped latches
            // are forgotten too — a re-filling bucket re-latches on its
            // own merits within the new window)
            state.remove()
            Iterator.empty
          } else {
          val band = key._1
          var st = state.getOption.getOrElse(
            LshBucketState(Vector.empty, Vector.empty, capped = false))
          val out = scala.collection.mutable.ListBuffer[LshPairOut]()
          if (st.capped) {
            // latched: nothing from this batch can ever emit or join —
            // drain without materializing (a 1M-row boilerplate bucket
            // arriving in one batch must not be buffered in this task)
            while (rows.hasNext) rows.next()
          } else {
            // Bounded deterministic selection: id order decides which rows
            // fill the remaining room, but only the (room + 1) smallest
            // distinct new ids can matter — the +1 sentinel is the arrival
            // that flips the latch. A TreeMap bounded to that size replaces
            // the old full-batch toSeq.sortBy (which buffered a degenerate
            // bucket's entire micro-batch in one task's heap even though
            // all but `room` rows could never emit). Re-delivered ids keep
            // first-arrival semantics (already-present keys are skipped).
            val room = maxBucketSize - st.ids.size
            val known = st.ids.toSet
            val cand = scala.collection.mutable.TreeMap[Long, Seq[Long]]()
            while (rows.hasNext) {
              val d = rows.next()
              if (!known.contains(d.id) && !cand.contains(d.id) &&
                  (cand.size <= room || d.id < cand.lastKey)) {
                cand(d.id) = d.sig
                if (cand.size > room + 1) cand.remove(cand.lastKey)
              }
            }
            val overflow = cand.size > room
            cand.take(room).foreach { case (id, sig) =>
              var i = 0
              while (i < st.ids.length) {
                val other = st.sigs(i)
                val n = math.min(other.length, sig.length)
                var agree = 0
                var j = 0
                while (j < n) {
                  if (other(j) == sig(j)) agree += 1
                  j += 1
                }
                // fraction of agreeing minima over size(sigA) — the
                // minhashEstimate contract (signatures share numHashes)
                val est = agree.toDouble / other.length
                if (est >= minEst)
                  out += LshPairOut(math.min(st.ids(i), id),
                    math.max(st.ids(i), id), band, est)
                i += 1
              }
              st = st.copy(ids = st.ids :+ id, sigs = st.sigs :+ sig)
            }
            if (overflow) st = st.copy(capped = true)
          }
          state.update(st)
          // re-arm the idle clock on every arrival: eviction is "idle for
          // ttl", not "created ttl ago" — co-resident arrivals within one
          // window can therefore never lose their pair to an expiry race
          stateTtl.foreach(d => state.setTimeoutDuration(d.toMillis))
          out.iterator
          }
      }
  }

  // --- streaming 7-day pattern assembly (S4/A2 streamed) -------------------

  /** One weather observation for one accident's window (the FIXTURES §2 row
    * enriched with the accident date the window anchors on).
    */
  case class WeatherRowIn(accident_id: Long, a_date: java.sql.Date, date: java.sql.Date,
                          temperature_avg: Option[Double], temperature_min: Option[Double],
                          temperature_max: Option[Double], precipitation_total: Option[Double],
                          wind_speed_avg: Option[Double], visibility_avg: Option[Double],
                          cloud_cover_avg: Option[Double])

  case class DayRec(temperature: Double, precipitation: Double, windSpeed: Double,
                    visibility: Double, cloudCover: Double, tempMin: Double, tempMax: Double)

  case class PatternOut(accident_id: Long, n_days: Int,
                        temperature: Seq[Double], precipitation: Seq[Double],
                        wind_speed: Seq[Double], visibility: Seq[Double],
                        cloud_cover: Seq[Double], temp_min: Seq[Double],
                        temp_max: Seq[Double])

  /** The reference's hottest prep path (7-day pattern assembly,
    * `predict.py:536-615`) as a STREAMING stateful operator: weather rows
    * arrive late and out of order; per-accident state holds the defaulted
    * day slots (keyed by window offset 0-6, so re-delivery is idempotent —
    * the one semantic upgrade over the batch `collect_list`, which would
    * duplicate a re-delivered day); every batch that grows a pattern past
    * the ≥5-day validity floor re-emits it (Update mode). Day defaults are
    * the batch assembly's Python-`or` semantics exactly, so the streamed
    * pattern CONVERGES to `WeatherAssembly.assemblePatterns` output on the
    * same rows (StreamingOpsSpec asserts series-for-series equality).
    */
  def streamingPatternAssembly(rows: Dataset[WeatherRowIn]): Dataset[PatternOut] = {
    import rows.sparkSession.implicits._
    import graft.weather.{WeatherAssembly => WA}

    def orDefault(v: Option[Double], d: Double): Double =
      v.filter(_ != 0.0).getOrElse(d) // Python-or: None OR falsy 0.0 → default

    def defaulted(r: WeatherRowIn): DayRec = {
      val tAvg = orDefault(r.temperature_avg, WA.TempDefaultC)
      DayRec(
        temperature = tAvg,
        precipitation = orDefault(r.precipitation_total, WA.PrecipDefaultMm),
        windSpeed = orDefault(r.wind_speed_avg, WA.WindDefaultMs),
        visibility = orDefault(r.visibility_avg, WA.VisibilityDefaultM),
        cloudCover = orDefault(r.cloud_cover_avg, WA.CloudDefaultPct),
        tempMin = orDefault(r.temperature_min, tAvg),
        tempMax = orDefault(r.temperature_max, tAvg))
    }

    rows
      .groupByKey(_.accident_id)
      .flatMapGroupsWithState[Map[Int, DayRec], PatternOut](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (accId: Long, batch: Iterator[WeatherRowIn], state: GroupState[Map[Int, DayRec]]) =>
          var days = state.getOption.getOrElse(Map.empty[Int, DayRec])
          var changed = false
          // deterministic order: iterator order off a shuffle is arbitrary,
          // so same-day duplicate rows (two stations reporting one date)
          // would otherwise resolve last-write-wins nondeterministically.
          // Sorting by (date, readings) makes the greatest reading tuple
          // win, every run. (The batch assembly instead collect_lists BOTH
          // rows — feed unique (accident_id, date) input when exact batch
          // convergence matters.)
          batch.toSeq.sortBy(r => (r.date.getTime, r.temperature_avg,
            r.temperature_min, r.temperature_max, r.precipitation_total,
            r.wind_speed_avg, r.visibility_avg, r.cloud_cover_avg)).foreach { r =>
            val off = java.time.temporal.ChronoUnit.DAYS.between(
              r.a_date.toLocalDate.minusDays(WA.WindowDays), r.date.toLocalDate).toInt
            if (off >= 0 && off <= WA.WindowDays) { // J3 window gate
              days += off -> defaulted(r)
              changed = true
            }
          }
          if (changed) state.update(days)
          if (changed && days.size >= graft.weather.WeatherExprs.MinWeatherDaysRequired) {
            val ord = days.toSeq.sortBy(_._1).map(_._2) // chronological, oldest first
            Iterator.single(PatternOut(accId, ord.size,
              ord.map(_.temperature), ord.map(_.precipitation), ord.map(_.windSpeed),
              ord.map(_.visibility), ord.map(_.cloudCover),
              ord.map(_.tempMin), ord.map(_.tempMax)))
          } else Iterator.empty
      }
  }

  /** Stream-stream INTERVAL join — the J3 accident⋈weather window join with
    * BOTH sides unbounded (a live accident feed joining a live observation
    * feed). Spark keeps each side in join state only as long as the other
    * side's watermark plus the time-range condition can still produce a
    * match: the range bound `rightTs ∈ [leftTs - lookback, leftTs]` is what
    * lets the engine compute that eviction horizon, so state stays BOUNDED
    * under unbounded ingest — without the range condition this join would
    * buffer both streams forever. Equality keys (e.g. the 0.01° grid
    * bucket, J8) shuffle both streams to the same state-store partition,
    * so matching is local. Inner join ⇒ rows emit as soon as both sides
    * have arrived; no watermark wait for output (only for state cleanup).
    * Right-side key columns are dropped after the join (they equal the
    * left's). Works on batch frames unchanged (unified API) — the spec
    * asserts streamed output == the batch join of the same rows.
    */
  def streamIntervalJoin(left: DataFrame, right: DataFrame,
                         leftTs: String, rightTs: String, keys: Seq[String],
                         lookback: String,
                         leftWatermark: String, rightWatermark: String): DataFrame = {
    // Spark rejects stream-stream joins without an equality predicate at
    // query start — fail loudly at plan time instead
    require(keys.nonEmpty, "stream-stream interval join needs at least one equality key")
    val l = left.withWatermark(leftTs, leftWatermark)
    val r = right.withWatermark(rightTs, rightWatermark)
    val keyCond = keys.map(k => l(k) === r(k)).reduce(_ && _)
    val range = r(rightTs) >= l(leftTs) - expr(s"INTERVAL $lookback") &&
      r(rightTs) <= l(leftTs)
    keys.foldLeft(l.join(r, keyCond && range, "inner"))((d, k) => d.drop(r(k)))
  }

  /** Streaming accident ingest → INCREMENTAL score refresh, with an
    * EXACTLY-ONCE effect under foreachBatch's at-least-once replay: a
    * delta added in place would double-count whenever Spark re-runs a
    * micro-batch after a crash between the write and the offset commit,
    * so each batch instead lands its per-route influence delta
    * (ScoringPipeline.accidentDeltaTotals — exact, the kernel aggregate
    * decomposes) in a DELTA LOG partitioned by `ingest_batch = batchId`
    * with dynamic partition overwrite: a replayed batch overwrites ITS OWN
    * partition instead of adding twice. [[scoresWithDeltas]] serves
    * base + Σ deltas; folding the log into the base table periodically is
    * ordinary compaction (apply scoresWithDeltas, rewrite base, clear log).
    * End-to-end: an accident lands, only in-radius route deltas are
    * written, nothing is rebuilt.
    */
  def incrementalAccidentIngest(newAccidents: DataFrame, routes: DataFrame,
                                predictionDate: String, deltaPath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    newAccidents.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) ingestAccidentBatch(batch, routes, predictionDate,
          deltaPath, batchId)
      }

  /** One micro-batch of the ingest — idempotent in `batchId` (replay
    * overwrites the same partition; a batch already FOLDED by compaction is
    * skipped outright, so a replay arriving after its delta was baked into
    * the base cannot double-count). Exposed for direct testing of the
    * replay contract.
    */
  def ingestAccidentBatch(batch: DataFrame, routes: DataFrame,
                          predictionDate: String, deltaPath: String,
                          batchId: Long): Unit = {
    val fs = new org.apache.hadoop.fs.Path(deltaPath)
      .getFileSystem(batch.sparkSession.sparkContext.hadoopConfiguration)
    if (foldedBatchIds(fs, deltaPath).contains(batchId)) return
    graft.pipeline.ScoringPipeline.accidentDeltaTotals(
      routes, batch, to_date(lit(predictionDate)), pruned = true)
      .where(col("d_total") > 0 || col("d_n") > 0) // only touched routes
      .withColumn("prediction_date", to_date(lit(predictionDate)))
      .withColumn("ingest_batch", lit(batchId))
      .write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("ingest_batch")
      .parquet(deltaPath)
  }

  /** Marker sits BESIDE the log dir (Path-normalized: a trailing slash on
    * `deltaPath` must not place it inside the log, where the root drop
    * would erase the replay guard).
    */
  private def markerPath(deltaPath: String) = {
    val p = new org.apache.hadoop.fs.Path(deltaPath)
    new org.apache.hadoop.fs.Path(p.getParent, p.getName + "_folded")
  }

  /** Batch ids already folded into the base by [[compactDeltas]] — the
    * replay guard for post-compaction foreachBatch re-runs.
    *
    * SCOPED TO THE STREAMING CHECKPOINT LINEAGE: foreachBatch batch ids
    * restart at 0 under a fresh checkpoint directory, so when an ingest
    * query is restarted with a NEW checkpoint, this marker must be cleared
    * too ([[clearFoldedMarker]]) or the first ids' worth of genuinely new
    * batches would be skipped as "already folded".
    */
  /** Migration staging dir, sibling to the marker. Readers UNION it with the
    * marker path so a crash at any instant of the legacy-file → directory
    * migration never shrinks the visible id set.
    */
  private def migrateStagePath(dir: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(dir.getParent, dir.getName + ".migrate")

  private def readIdsFile(fs: org.apache.hadoop.fs.FileSystem,
                          f: org.apache.hadoop.fs.Path): Set[Long] = {
    val in = fs.open(f)
    try scala.io.Source.fromInputStream(in).getLines().filter(_.nonEmpty)
      .map(_.toLong).toSet
    finally in.close()
  }

  private def readIdsDir(fs: org.apache.hadoop.fs.FileSystem,
                         d: org.apache.hadoop.fs.Path): Set[Long] =
    fs.listStatus(d).toSeq.filter(_.isFile)
      .filterNot(_.getPath.getName.endsWith(".tmp"))
      .map(s => readIdsFile(fs, s.getPath)).foldLeft(Set.empty[Long])(_ ++ _)

  def foldedBatchIds(fs: org.apache.hadoop.fs.FileSystem, deltaPath: String): Set[Long] = {
    // whole-read retry on FileNotFound: a concurrent recordFolded can prune
    // a superseded id file (or rename the migration stage away) between
    // this reader's list/exists and its open. Re-reading sees a complete
    // set again — per-file skipping would instead UNDER-read and disarm
    // the replay guard. Persistent failure after retries rethrows: a
    // partial answer here means double-counting, not degraded service.
    def attempt(): Set[Long] = {
      val p = markerPath(deltaPath)
      val stage = migrateStagePath(p)
      val main =
        if (!fs.exists(p)) Set.empty[Long]
        else if (fs.getFileStatus(p).isFile) readIdsFile(fs, p) // legacy single-file marker
        else readIdsDir(fs, p)
      val staged = if (fs.exists(stage)) readIdsDir(fs, stage) else Set.empty[Long]
      main ++ staged
    }
    def loop(retries: Int): Set[Long] =
      try attempt()
      catch { case _: java.io.FileNotFoundException if retries > 0 => loop(retries - 1) }
    loop(3)
  }

  /** Forget the folded-batch ids — REQUIRED when re-creating the ingest
    * query with a fresh checkpoint directory (batch ids restart at 0).
    * REFUSES while the log still holds partitions: the new lineage's ids
    * also restart at 0, and its dynamic partition overwrite would replace
    * the old lineage's same-numbered, never-folded partitions — silently
    * losing their accidents. Run [[compactDeltas]] (or discard the log)
    * first, then clear.
    */
  def clearFoldedMarker(spark: org.apache.spark.sql.SparkSession, deltaPath: String): Unit = {
    val p = markerPath(deltaPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val leftover = batchPartitions(fs, new org.apache.hadoop.fs.Path(deltaPath))
    require(leftover.isEmpty,
      s"clearFoldedMarker: delta log $deltaPath still holds batch partitions " +
        s"${leftover.sorted.mkString(", ")} from the previous lineage — " +
        "compactDeltas (or discard the log) before clearing the marker")
    if (fs.exists(p)) fs.delete(p, true)
    val stage = migrateStagePath(p)
    if (fs.exists(stage)) fs.delete(stage, true)
  }

  /** The marker is an APPEND-ONLY directory of id files and readers union
    * them all: each record writes a NEW complete-set file (temp → rename),
    * and only after it exists are older files pruned. There is no instant
    * at which the recorded set shrinks — the previous delete-target-then-
    * rename scheme had a crash window (between delete and rename) that
    * lost the entire marker and disarmed the replay guard for every
    * previously folded batch.
    */
  /** Write one NEW complete-set id file into `dir` (temp → rename), then
    * prune superseded siblings. Crash-safe: every instant either the old
    * files, the new file, or both are visible, and the union never shrinks.
    */
  private def writeIdsInto(fs: org.apache.hadoop.fs.FileSystem,
                           dir: org.apache.hadoop.fs.Path, all: Set[Long]): Unit = {
    fs.mkdirs(dir)
    val name = s"ids-${java.util.UUID.randomUUID()}"
    val tmp = new org.apache.hadoop.fs.Path(dir, name + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(all.toSeq.sorted.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    require(fs.rename(tmp, new org.apache.hadoop.fs.Path(dir, name)),
      s"marker rename failed in $dir")
    // prune superseded files — best-effort, crash here leaves extras whose
    // union is still correct
    fs.listStatus(dir).toSeq.filter(_.isFile)
      .filter(s => s.getPath.getName != name)
      .foreach(s => fs.delete(s.getPath, false))
  }

  private def recordFolded(fs: org.apache.hadoop.fs.FileSystem, deltaPath: String,
                           ids: Set[Long]): Unit = {
    val dir = markerPath(deltaPath)
    val stage = migrateStagePath(dir)
    if (fs.exists(dir) && fs.getFileStatus(dir).isFile) {
      // One-time migration of a legacy single-file marker, with NO instant
      // at which the durably recorded set shrinks:
      //   1. write the full merged set into the sibling stage dir (readers
      //      union stage with the marker path, so it is live immediately);
      //   2. delete the legacy file — stage still covers its ids;
      //   3. rename the stage dir into place.
      // A crash between (2) and (3) leaves the stage dir authoritative via
      // the reader union; the non-migration path below finishes the swap on
      // the next call. The stage dir itself is only ever appended to here
      // (writeIdsInto's temp→rename), never deleted before its content is
      // safely at the marker path.
      val merged = ids ++ foldedBatchIds(fs, deltaPath) // legacy ∪ stage leftovers
      writeIdsInto(fs, stage, merged)
      fs.delete(dir, false)
      require(fs.rename(stage, dir), s"marker migration rename failed for $dir")
      return
    }
    // absorb a crashed migration's stage dir: its ids go into the new
    // complete-set file first; stage is removed only after that file exists
    val staged = if (fs.exists(stage)) readIdsDir(fs, stage) else Set.empty[Long]
    writeIdsInto(fs, dir, ids ++ staged ++
      (if (fs.exists(dir)) readIdsDir(fs, dir) else Set.empty[Long]))
    if (fs.exists(stage)) fs.delete(stage, true)
  }

  /** The `ingest_batch=N` partitions currently in the log. */
  private def batchPartitions(fs: org.apache.hadoop.fs.FileSystem,
                              deltaP: org.apache.hadoop.fs.Path): Seq[Long] =
    if (!fs.exists(deltaP)) Seq.empty
    else fs.listStatus(deltaP).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("ingest_batch="))
      .map(_.stripPrefix("ingest_batch=").toLong)

  /** Serving view: stored base scores + every logged delta, risk/color
    * re-derived from the merged totals. Deltas fold at
    * (route_id, prediction_date) grain when the base carries dates — a
    * delta computed for one date never touches another date's row of the
    * same route; a date-less base gets route-grain folding and must
    * therefore hold a single date. A delta with NO base row (a date the
    * nightly hasn't scored, a freshly added route) serves as a new
    * delta-only row (applyDeltaTotals is a full join), so the view and the
    * post-compaction base agree on it.
    */
  def scoresWithDeltas(spark: org.apache.spark.sql.SparkSession,
                       baseScores: DataFrame, deltaPath: String): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(deltaPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = batchPartitions(fs, new org.apache.hadoop.fs.Path(deltaPath))
    // exclude partitions already folded into the base: after a compaction
    // crash between the marker write and the partition deletion, a folded
    // partition can linger on disk — summing it on top of a base that
    // already contains it would double-count until the next compaction
    val live = parts.filterNot(foldedBatchIds(fs, deltaPath).contains)
    if (live.isEmpty) return baseScores
    val keys =
      if (baseScores.columns.contains("prediction_date")) Seq("route_id", "prediction_date")
      else Seq("route_id")
    val deltas = spark.read.parquet(deltaPath)
      .where(col("ingest_batch").isin(live: _*))
      .groupBy(keys.map(col): _*)
      .agg(sum("d_total").as("d_total"), sum("d_n").as("d_n"))
    graft.pipeline.ScoringPipeline.applyDeltaTotals(baseScores, deltas, keys)
  }

  /** Compaction: fold the delta log into the base table and clear the log.
    * After compaction [[scoresWithDeltas]] over the emptied log equals the
    * base — the serving view is invariant across compactions.
    *
    * Safety properties:
    *  - a SNAPSHOT of the log's batch partitions is taken first — a
    *    micro-batch landing mid-compaction stays in the log untouched;
    *  - only the (route_id, prediction_date) rows with deltas are merged,
    *    so the rewrite is bounded by the touched date partitions; a delta
    *    with no base row becomes a NEW base row (zero-seeded totals) —
    *    folding must never discard influence the nightly hasn't seen;
    *  - folded batch ids go to a marker file BEFORE the partitions are
    *    deleted; a crashed compaction re-run deletes already-folded
    *    partitions without folding twice, and a post-compaction
    *    foreachBatch replay of a folded batch is skipped by the ingest.
    *    The unguarded window is between mergeScores finishing and the
    *    marker write — crash exactly there and a re-run double-folds; for
    *    strict once-only semantics quiesce ingest around compaction.
    */
  def compactDeltas(spark: org.apache.spark.sql.SparkSession,
                    basePath: String, deltaPath: String): Unit = {
    val deltaP = new org.apache.hadoop.fs.Path(deltaPath)
    val fs = deltaP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snapshot = batchPartitions(fs, deltaP)
    if (snapshot.isEmpty) return
    val folded = foldedBatchIds(fs, deltaPath)
    // partitions a crashed earlier compaction merged but failed to delete
    val (alreadyFolded, toFold) = snapshot.partition(folded.contains)
    if (toFold.nonEmpty) {
      val deltas = spark.read.parquet(deltaPath)
        .where(col("ingest_batch").isin(toFold: _*))
        .groupBy("route_id", "prediction_date")
        .agg(sum("d_total").as("d_total"), sum("d_n").as("d_n"))
      // no checkpoint here: mergeScores checkpoints these updates once for
      // its dates, anti-join keys and union, then checkpoints the merged
      // frame before the overwrite
      val touched = graft.pipeline.ScoringPipeline.applyDeltaTotals(
        spark.read.parquet(basePath)
          .join(deltas.select("route_id", "prediction_date"),
            Seq("route_id", "prediction_date"), "left_semi"),
        deltas, Seq("route_id", "prediction_date"))
      graft.pipeline.ScoringPipeline.mergeScores(spark, touched, basePath)
      recordFolded(fs, deltaPath, folded ++ toFold)
    }
    (alreadyFolded ++ toFold).foreach { b =>
      fs.delete(new org.apache.hadoop.fs.Path(deltaP, s"ingest_batch=$b"), true)
    }
    // Drop the now-empty root NON-recursively: a recursive delete here
    // would be check-then-act — a micro-batch committing between the
    // emptiness check and the delete would be wiped after its offsets
    // commit, losing it forever. Non-recursive delete fails (harmlessly)
    // if anything raced in; only write-marker files are removed first.
    if (batchPartitions(fs, deltaP).isEmpty) {
      fs.listStatus(deltaP).map(_.getPath)
        // _SUCCESS etc., never data — and never _temporary: that is a LIVE
        // writer's staging dir (deleting it would break its task commit)
        .filter(p => p.getName.startsWith("_") && p.getName != "_temporary")
        .foreach { p =>
          try fs.delete(p, false)
          catch { case _: java.io.IOException => () } // racing writer — leave it
        }
      try fs.delete(deltaP, false)
      catch { case _: java.io.IOException => () } // concurrent writer won
    }
  }

  /** §2.8 row 1 — the nightly recompute as an INCREMENTAL query: a stream
    * of `prediction_date` strings drives one kernel batch per arriving
    * date, landed via the idempotent partition-overwrite sink
    * (ScoringPipeline.writeScores). Run with `Trigger.AvailableNow()` for
    * the Celery-beat replacement (process all pending dates, then stop);
    * leave the default trigger for a continuously-fed date feed. Retries
    * are safe: re-delivering a date overwrites exactly its partition.
    */
  def incrementalScoring(dates: DataFrame, routes: DataFrame, accidents: DataFrame,
                         outPath: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    dates.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // a NULL date row would NPE in sorted and wedge the stream (every
        // replay hits the same row) — there is no date to score; drop it
        val ds = batch.select(col("prediction_date").cast("string"))
          .where(col("prediction_date").isNotNull)
          .distinct().collect().map(_.getString(0)).sorted.toSeq
        if (ds.nonEmpty) {
          graft.pipeline.ScoringPipeline.writeScores(
            graft.pipeline.ScoringPipeline.computeDailyScores(routes, accidents, ds),
            outPath)
        }
      }
}
