package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, min}
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec

/** Kernel-schema accident row (top-level: Spark encoders for inner case
  * classes need an outer-scope pointer MemoryStream can't supply).
  */
case class IngestAcc(accident_id: Long, a_lat: Double, a_lon: Double,
                     a_elev: Option[Double], acc_type: String, severity_raw: String,
                     a_date: java.sql.Date, a_difficulty: Option[Double])

/** Stream-stream interval-join fixtures (top-level for the same reason). */
case class SjAcc(accident_id: Long, a_ts: Timestamp, cell: Long)
case class SjWx(w_ts: Timestamp, cell: Long, temp: Double)

class StreamingOpsSpec extends SparkSpec {

  import spark.implicits._
  import StreamingOps._

  private implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val base = Timestamp.valueOf("2024-01-01 10:00:00")
  private def ts(minute: Int): Timestamp = new Timestamp(base.getTime + minute * 60000L)

  test("streaming hourlyTypeCounts matches the batch computation") {
    val events = Seq(
      Event(1, ts(0), 1, "view", 1.0),
      Event(2, ts(10), 1, "view", 2.0),
      Event(3, ts(70), 2, "purchase", 3.5))
    val mem = MemoryStream[Event]
    mem.addData(events: _*)
    val q = hourlyTypeCounts(mem.toDF(), watermark = "10 minutes")
      .writeStream.format("memory").queryName("hourly").outputMode(OutputMode.Complete())
      .start()
    try {
      q.processAllAvailable()
      val rows = spark.table("hourly").collect()
        .map(r => (r.getAs[Long]("hour_us"), r.getAs[String]("event_type")) ->
          (r.getAs[Long]("n_events"), r.getAs[Double]("total_value"))).toMap
      assert(rows.values.map(_._1).sum == 3)
      assert(rows.exists { case ((_, t), (n, v)) => t == "view" && n == 2 && v == 3.0 })
      assert(rows.exists { case ((_, t), (n, v)) => t == "purchase" && n == 1 && v == 3.5 })
    } finally q.stop()
  }

  test("streaming windowedSketch merges buffers across micro-batches to the batch sketch") {
    val mem = MemoryStream[Event]
    val q = windowedSketch(mem.toDF(), "ts", "event_type", "user_id",
      windowLen = "1 hour", watermark = "10 minutes", depth = 2, width = 16, m = 16)
      .writeStream.format("memory").queryName("sketches").outputMode(OutputMode.Complete())
      .start()
    try {
      // two micro-batches into the SAME window/group: the second batch's
      // rows must fold into the stored aggregation buffer, not replace it
      mem.addData((1L to 40L).map(i => Event(i, ts(i.toInt % 50), i % 23, "view", 1.0)): _*)
      q.processAllAvailable()
      mem.addData((41L to 80L).map(i => Event(i, ts(i.toInt % 50), i % 23, "view", 1.0)): _*)
      q.processAllAvailable()
      val streamed = spark.table("sketches").collect()
        .map(r => (r.getAs[Long]("win_us"), r.getAs[String]("event_type")) ->
          (r.getSeq[Long](2), r.getSeq[Int](3))).toMap
      val batch = windowedSketch(
        spark.createDataFrame((1L to 80L).map(i => Event(i, ts(i.toInt % 50), i % 23, "view", 1.0))),
        "ts", "event_type", "user_id",
        windowLen = "1 hour", watermark = "10 minutes", depth = 2, width = 16, m = 16)
        .collect()
        .map(r => (r.getAs[Long]("win_us"), r.getAs[String]("event_type")) ->
          (r.getSeq[Long](2), r.getSeq[Int](3))).toMap
      assert(streamed.keySet == batch.keySet)
      for ((k, (cms, regs)) <- batch) {
        assert(streamed(k)._1 == cms, s"cms drifted for $k")
        assert(streamed(k)._2 == regs, s"registers drifted for $k")
      }
      // both hours' events landed: total counter mass = 80 rows x depth 2
      assert(streamed.values.map(_._1.sum).sum == 80L * 2)
    } finally q.stop()
  }

  test("streaming windowedHistogram folds micro-batches to the batch histogram") {
    val mem = MemoryStream[Event]
    val q = windowedHistogram(mem.toDF(), "ts", "event_type", "value",
      lo = 0.0, hi = 10.0, bins = 5, windowLen = "1 hour", watermark = "10 minutes")
      .writeStream.format("memory").queryName("whist").outputMode(OutputMode.Complete())
      .start()
    try {
      def ev(i: Long) = Event(i, ts(i.toInt % 50), i % 23, "view", (i % 12).toDouble)
      mem.addData((1L to 40L).map(ev): _*)
      q.processAllAvailable()
      mem.addData((41L to 80L).map(ev): _*)
      q.processAllAvailable()
      val streamed = spark.table("whist").collect()
        .map(r => (r.getAs[Long]("win_us"), r.getAs[String]("event_type")) ->
          r.getSeq[Long](2)).toMap
      val batch = windowedHistogram(
        spark.createDataFrame((1L to 80L).map(ev)), "ts", "event_type", "value",
        lo = 0.0, hi = 10.0, bins = 5, windowLen = "1 hour", watermark = "10 minutes")
        .collect()
        .map(r => (r.getAs[Long]("win_us"), r.getAs[String]("event_type")) ->
          r.getSeq[Long](2)).toMap
      assert(streamed == batch, "stream histogram must equal the batch histogram")
      // values 10, 11 overflow the [0, 10) domain; everything landed somewhere
      assert(streamed.values.map(_.sum).sum == 80L)
      assert(streamed.values.map(_.last).sum > 0, "overflow arm never exercised")
    } finally q.stop()
  }

  test("windowedSketch state survives a query RESTART through the checkpoint") {
    // the custom TypedImperativeAggregate buffers live in the state store
    // between micro-batches — a restart must rehydrate them through
    // serialize/deserialize, not restart the fold from zero
    val ckpt = java.nio.file.Files.createTempDirectory("sketch-ckpt").toString
    val mem = MemoryStream[Event]
    def start(name: String) =
      windowedSketch(mem.toDF(), "ts", "event_type", "user_id",
        windowLen = "1 hour", watermark = "10 minutes", depth = 2, width = 16, m = 16)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Complete())
        .option("checkpointLocation", ckpt).start()
    def ev(i: Long) = Event(i, ts(i.toInt % 50), i % 23, "view", 1.0)
    val q1 = start("ws_phase1")
    try { mem.addData((1L to 40L).map(ev): _*); q1.processAllAvailable() }
    finally q1.stop()
    // restart from the SAME checkpoint, then feed the second half
    val q2 = start("ws_phase2")
    try {
      mem.addData((41L to 80L).map(ev): _*)
      q2.processAllAvailable()
      val streamed = spark.table("ws_phase2").collect()
        .map(r => (r.getAs[Long]("win_us"), r.getAs[String]("event_type")) ->
          (r.getSeq[Long](2), r.getSeq[Int](3))).toMap
      val batch = windowedSketch(
        spark.createDataFrame((1L to 80L).map(ev)), "ts", "event_type", "user_id",
        windowLen = "1 hour", watermark = "10 minutes", depth = 2, width = 16, m = 16)
        .collect()
        .map(r => (r.getAs[Long]("win_us"), r.getAs[String]("event_type")) ->
          (r.getSeq[Long](2), r.getSeq[Int](3))).toMap
      assert(streamed == batch,
        "post-restart sketches must equal the batch fold over ALL rows — " +
          "state was not rehydrated from the checkpoint")
    } finally q2.stop()
  }

  test("windowDrift compares consecutive windows' histograms per group") {
    // two 1-hour windows per group with DIFFERENT value distributions:
    // window 0 values land in bin 1, window 1 values in bin 5 → TV = 1.0
    // and the drift bin is where the mass left (bin 1, the lowest max)
    def ev(i: Long) = {
      val minute = if (i <= 40) i % 50 else 60 + i % 50
      Event(i, ts(minute.toInt), i % 23, if (i % 2 == 0) "view" else "buy",
        if (i <= 40) 1.0 else 9.0)
    }
    val hists = windowedHistogram(
      spark.createDataFrame((1L to 80L).map(ev)), "ts", "event_type", "value",
      lo = 0.0, hi = 10.0, bins = 5, windowLen = "1 hour", watermark = "10 minutes")
    val drift = windowDrift(hists, "event_type", bins = 5)
      .select(col("event_type"), col("drift.tv"), col("drift.drift_bin"),
        col("drift.n0"), col("drift.n1"))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getInt(2), r.getLong(3), r.getLong(4))).toMap
    assert(drift.keySet == Set("view", "buy"))
    drift.foreach { case (g, (tv, bin, n0, n1)) =>
      assert(tv == 1.0, s"$g: disjoint distributions must have TV 1, got $tv")
      assert(bin == 1, s"$g: drift bin should tie to the lowest max, got $bin")
      assert(n0 == 20L && n1 == 20L, s"$g: masses $n0/$n1")
    }
    // identical consecutive windows → zero drift
    val firstWin = hists.agg(min("win_us")).head().getLong(0)
    val w0 = hists.where(col("win_us") === firstWin)
    val dup = w0.unionAll(w0.withColumn("win_us", col("win_us") + 3600000000L))
    val same = windowDrift(dup, "event_type", 5)
      .select(col("drift.tv")).collect().map(_.getDouble(0))
    assert(same.length == 2 && same.forall(_ == 0.0),
      "re-played identical window must show zero drift")
  }

  test("streaming sessionize closes sessions on 30-min gaps across batches") {
    val mem = MemoryStream[Event]
    val q = sessionize(mem.toDS())
      .writeStream.format("memory").queryName("sessions").outputMode(OutputMode.Append())
      .start()
    try {
      // batch 1: two events 10 min apart (one open session)
      mem.addData(Event(1, ts(0), 7, "view", 1.0), Event(2, ts(10), 7, "view", 2.0))
      q.processAllAvailable()
      // batch 2: event 60 min later → closes first session, opens second
      mem.addData(Event(3, ts(70), 7, "purchase", 4.0))
      q.processAllAvailable()
      val closed = spark.table("sessions").as[SessionOut].collect()
      assert(closed.length == 1)
      assert(closed.head.user_id == 7)
      assert(closed.head.n_events == 2)
      assert(closed.head.session_value == 3.0)
    } finally q.stop()
  }

  test("sessionize: a cross-batch late event never regresses the session clock") {
    val mem = MemoryStream[Event]
    val q = sessionize(mem.toDS())
      .writeStream.format("memory").queryName("late_sessions")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: events at t=60 and t=70 (open session, lastTs = 70)
      mem.addData(Event(1, ts(60), 9, "view", 1.0), Event(2, ts(70), 9, "view", 1.0))
      q.processAllAvailable()
      // batch 2: LATE event at t=45 — within gap of session start (60):
      // chains backwards, must NOT set lastTs back to 45
      mem.addData(Event(3, ts(45), 9, "view", 1.0))
      q.processAllAvailable()
      // batch 3: event at t=95 — 25 min after the true lastTs (70): same
      // session. Pre-fix, lastTs had regressed to 45 so 95-45=50min > gap
      // would wrongly split here.
      mem.addData(Event(4, ts(95), 9, "view", 1.0))
      q.processAllAvailable()
      assert(spark.table("late_sessions").as[SessionOut].collect().isEmpty,
        "no session should have closed — all four events chain")
      // batch 4: event far in the future closes the one merged session
      mem.addData(Event(5, ts(200), 9, "view", 1.0))
      q.processAllAvailable()
      val closed = spark.table("late_sessions").as[SessionOut].collect()
      assert(closed.length == 1 && closed.head.n_events == 4,
        s"expected one 4-event session, got ${closed.toSeq}")
      assert(closed.head.session_start_us == ts(45).getTime * 1000,
        "late event should extend the session start backwards")
      // batch 5: a STALE event older than the open session's reach is
      // emitted as its own singleton, leaving the open session intact
      mem.addData(Event(6, ts(100), 9, "view", 2.5))
      q.processAllAvailable()
      val stale = spark.table("late_sessions").as[SessionOut].collect()
        .filter(_.session_start_us == ts(100).getTime * 1000)
      assert(stale.length == 1 && stale.head.n_events == 1
        && stale.head.session_value == 2.5)
    } finally q.stop()
  }

  case class Doc(ts: Timestamp, doc_id: Long, text: String)

  test("streamingExactDedup keeps first-seen digest, watermark bounds state") {
    val mem = MemoryStream[Doc]
    val q = streamingExactDedup(mem.toDF(), "ts", "text", watermark = "30 minutes")
      .writeStream.format("memory").queryName("dedup").outputMode(OutputMode.Append())
      .start()
    try {
      mem.addData(Doc(ts(0), 1, "alpha"), Doc(ts(1), 2, "alpha"), Doc(ts(2), 3, "beta"))
      q.processAllAvailable()
      // duplicate within the horizon dropped
      assert(spark.table("dedup").select("doc_id").as[Long].collect().toSet == Set(1L, 3L))
      // advance event time far past the watermark horizon, re-send "alpha":
      // its digest has been evicted from state → admitted again
      mem.addData(Doc(ts(600), 4, "gamma"))
      q.processAllAvailable()
      mem.addData(Doc(ts(610), 5, "alpha"))
      q.processAllAvailable()
      val ids = spark.table("dedup").select("doc_id").as[Long].collect().toSet
      assert(ids.contains(5L), s"evicted digest should be re-admitted, got $ids")
    } finally q.stop()
  }

  test("stream-static dedup drops digests known to the historical corpus") {
    import org.apache.spark.sql.functions.md5
    val corpus = Seq("alpha", "beta").toDF("text")
      .select(md5($"text").as("text_hash"))
    val mem = MemoryStream[Doc]
    val q = streamingDedupAgainstCorpus(mem.toDF(), corpus, "text")
      .writeStream.format("memory").queryName("corpus_dedup")
      .outputMode(OutputMode.Append())
      .start()
    try {
      mem.addData(Doc(ts(0), 1, "alpha"), Doc(ts(1), 2, "gamma"), Doc(ts(2), 3, "beta"),
        Doc(ts(3), 4, "delta"))
      q.processAllAvailable()
      val ids = spark.table("corpus_dedup").select("doc_id").as[Long].collect().toSet
      assert(ids == Set(2L, 4L), s"corpus digests must be dropped, got $ids")
      // stateless: a re-sent novel digest is NOT deduped by this operator
      mem.addData(Doc(ts(10), 5, "gamma"))
      q.processAllAvailable()
      assert(spark.table("corpus_dedup").select("doc_id").as[Long].collect().toSet
        .contains(5L))
    } finally q.stop()
  }

  test("streaming LSH candidates match the batch pair set, emit once, idempotent replay") {
    val docs = Map(
      1L -> "the quick brown fox jumps over the lazy dog again and again",
      2L -> "the quick brown fox leaps over the lazy dog again and again",
      3L -> "completely unrelated text about weather patterns in the alps",
      4L -> "the quick brown fox jumps over the lazy dog again and again",
      5L -> "another standalone document mentioning glaciers and granite walls")
    val mem = MemoryStream[Doc]
    val q = streamingLshCandidates(mem.toDF(), "doc_id", "text",
      numHashes = 8, shingleWidth = 2, bands = 4)
      .writeStream.format("memory").queryName("lsh_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(Doc(ts(0), 1, docs(1L)), Doc(ts(1), 2, docs(2L)), Doc(ts(2), 3, docs(3L)))
      q.processAllAvailable()
      val afterB1 = spark.table("lsh_stream")
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      // batch 2: a re-crawl of doc 1's text (doc 4) + an unrelated doc —
      // new pairs appear in the batch where the LATER doc arrives
      mem.addData(Doc(ts(10), 4, docs(4L)), Doc(ts(11), 5, docs(5L)))
      q.processAllAvailable()
      val streamed = spark.table("lsh_stream")
        .select("id_a", "id_b", "est_jaccard").as[(Long, Long, Double)]
        .collect().toSet
      assert(afterB1.subsetOf(streamed.map(p => (p._1, p._2))))
      // parity: distinct streamed pairs == the symmetric batch LSH pair set
      // over the SAME five docs (same hashes, same banding)
      val batchDf = docs.toSeq.map { case (i, t) => (i, t) }.toDF("doc_id", "text")
      val sigs = graft.dedup.Dedup.minhashSignatures(batchDf, "doc_id", "text",
        numHashes = 8, shingleWidth = 2)
      val batchPairs = graft.dedup.Dedup.lshCandidatePairs(sigs, "doc_id",
        sigLen = 8, bands = 4)
        .select("id_a", "id_b", "est_jaccard").as[(Long, Long, Double)]
        .collect().toSet
      assert(streamed == batchPairs,
        s"stream=$streamed\nbatch=$batchPairs")
      // the exact re-crawl pair must be there with est 1.0
      assert(streamed.exists(p => p._1 == 1L && p._2 == 4L && p._3 == 1.0))
      // replay idempotence: re-deliver doc 4 — no new rows
      val before = spark.table("lsh_stream").count()
      mem.addData(Doc(ts(20), 4, docs(4L)))
      q.processAllAvailable()
      assert(spark.table("lsh_stream").count() == before)
    } finally q.stop()
  }

  test("streaming LSH bucket cap latches a degenerate bucket closed") {
    val boiler = "identical boilerplate text repeated across every crawled page forever"
    val mem = MemoryStream[Doc]
    val q = streamingLshCandidates(mem.toDF(), "doc_id", "text",
      numHashes = 8, shingleWidth = 2, bands = 4, maxBucketSize = 2)
      .writeStream.format("memory").queryName("lsh_capped")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData((1L to 6L).map(i => Doc(ts(i.toInt), i, boiler)): _*)
      q.processAllAvailable()
      val pairs = spark.table("lsh_capped")
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      // docs 1-2 filled every bucket to the cap; doc 3 latched them closed,
      // so the only surviving pair is (1,2) — not the 15 of an uncapped m²
      assert(pairs == Set((1L, 2L)), s"got $pairs")
    } finally q.stop()
  }

  /** Poll-with-deadline instead of processAllAvailable: a query with
    * processing-time timeouts always "has another batch" to run (expiry
    * checks), so the engine never reports the idle state
    * processAllAvailable waits for — it blocks forever on such queries.
    */
  private def awaitCond(what: String, timeoutMs: Long = 30000)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis + timeoutMs
    while (System.currentTimeMillis < deadline && !cond) Thread.sleep(250)
    assert(cond, s"condition not reached within ${timeoutMs}ms: $what")
  }

  test("streaming LSH TTL evicts idle buckets; re-delivery recovers pairs") {
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val mem = MemoryStream[Doc]
    val q = streamingLshCandidates(mem.toDF(), "doc_id", "text",
      numHashes = 8, shingleWidth = 2, bands = 4,
      stateTtl = Some(java.time.Duration.ofSeconds(2)))
      .writeStream.format("memory").queryName("lsh_ttl")
      // a real trigger interval: timeout-driven batches would otherwise
      // busy-loop back-to-back at ~ms intervals
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("500 milliseconds"))
      .outputMode(OutputMode.Append()).start()
    def pairs() = spark.table("lsh_ttl")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    try {
      // doc 1 arrives, then its buckets sit idle well past the 2s TTL —
      // the timeout-driven empty batches evict them on their own
      mem.addData(Doc(ts(0), 1, text))
      Thread.sleep(6000)
      // docs 3 and 4 re-crawl the text AFTER the horizon: they pair with
      // each other (co-resident) but NOT with the evicted doc 1 — the
      // (3,4) pair doubles as the "this batch was processed" marker the
      // negative assertion needs
      mem.addData(Doc(ts(20), 3, text), Doc(ts(21), 4, text))
      awaitCond("(3,4) emitted")(pairs().contains((3L, 4L)))
      assert(!pairs().exists(p => p._1 == 1L),
        s"pairs beyond the TTL horizon must be forgotten, got ${pairs()}")
      // re-delivering doc 1 within the CURRENT window re-admits it and
      // re-emits against current residents: (1,3)/(1,4) recovered (the
      // at-most-duplicate-candidates degrade, never corrupt state)
      mem.addData(Doc(ts(30), 1, text))
      awaitCond("(1,3) recovered")(pairs().contains((1L, 3L)))
      assert(pairs().contains((1L, 4L)))
    } finally q.stop()
  }

  test("streaming LSH co-resident arrivals within the TTL window always pair") {
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val mem = MemoryStream[Doc]
    val q = streamingLshCandidates(mem.toDF(), "doc_id", "text",
      numHashes = 8, shingleWidth = 2, bands = 4,
      stateTtl = Some(java.time.Duration.ofMinutes(10)))
      .writeStream.format("memory").queryName("lsh_ttl_window")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("500 milliseconds"))
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(Doc(ts(0), 1, text))
      mem.addData(Doc(ts(1), 2, text))
      awaitCond("(1,2) paired") {
        spark.table("lsh_ttl_window")
          .select("id_a", "id_b").as[(Long, Long)].collect().toSet
          .contains((1L, 2L))
      }
    } finally q.stop()
  }

  test("streaming pattern assembly converges to the batch assembly") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val enriched = graft.queries.Derived.weatherRows(spark, dir)
      .join(graft.queries.Derived.accidents(spark, dir)
        .select(col("accident_id"), col("a_date")), Seq("accident_id"))
      .select("accident_id", "a_date", "date", "temperature_avg", "temperature_min",
        "temperature_max", "precipitation_total", "wind_speed_avg", "visibility_avg",
        "cloud_cover_avg")
      .as[WeatherRowIn].collect()

    // deterministic out-of-order feed, three micro-batches
    val shuffled = enriched.sortBy(r => (r.date.hashCode ^ r.accident_id.toInt, r.accident_id))
    val batches = shuffled.grouped(math.max(1, shuffled.length / 3 + 1)).toSeq
    val mem = MemoryStream[WeatherRowIn]
    val q = streamingPatternAssembly(mem.toDS())
      .writeStream.format("memory").queryName("patterns").outputMode(OutputMode.Update())
      .start()
    try {
      batches.foreach { b => mem.addData(b.toIndexedSeq: _*); q.processAllAvailable() }
      // final state per accident = the emission with the most days (n_days
      // grows monotonically — each emission follows a new in-window day)
      val streamed = spark.table("patterns").as[PatternOut].collect()
        .groupBy(_.accident_id).map { case (id, outs) => id -> outs.maxBy(_.n_days) }

      val batchPats = graft.weather.WeatherAssembly.assemblePatterns(
        graft.queries.Derived.weatherRows(spark, dir),
        graft.queries.Derived.accidents(spark, dir)).collect()
      assert(batchPats.nonEmpty)
      assert(streamed.keySet == batchPats.map(_.getAs[Long]("accident_id")).toSet,
        "streamed validity set != batch validity set")
      batchPats.foreach { r =>
        val p = r.getAs[org.apache.spark.sql.Row]("pattern")
        def ser(name: String): List[Double] =
          p.getSeq[Double](p.fieldIndex(name)).toList
        val s = streamed(r.getAs[Long]("accident_id"))
        assert(s.n_days == r.getAs[Int]("n_days"))
        assert(s.temperature.toList == ser("temperature"))
        assert(s.precipitation.toList == ser("precipitation"))
        assert(s.wind_speed.toList == ser("wind_speed"))
        assert(s.visibility.toList == ser("visibility"))
        assert(s.cloud_cover.toList == ser("cloud_cover"))
        val dt = p.getSeq[org.apache.spark.sql.Row](p.fieldIndex("daily_temps")).toList
        assert(s.temp_min.toList == dt.map(_.getAs[Double]("min")))
        assert(s.temp_max.toList == dt.map(_.getAs[Double]("max")))
      }
    } finally q.stop()
  }

  test("streamed accident ingest: delta-merged scores == full recompute") {
    import org.apache.spark.sql.functions._
    val routes = Seq(
      (1L, 40.0, -105.0, Some(2000.0), "alpine", Some(7.0)),
      (2L, 40.3, -105.2, Some(2500.0), "sport", Some(9.0)),
      (3L, 47.0, -115.0, Some(1500.0), "trad", Some(6.0))) // far from all accidents
      .toDF("route_id", "lat", "lon", "elev", "route_type", "difficulty")
    def acc(id: Long, lat: Double, lon: Double) = IngestAcc(id, lat, lon, Some(2100.0),
      "alpine", "serious", java.sql.Date.valueOf("2024-06-01"), Some(7.5))
    val a0 = acc(1, 40.1, -105.1)
    val a1 = acc(2, 40.2, -105.05)
    val a2 = acc(3, 40.25, -105.15)
    val date = "2024-07-15"
    val base = java.nio.file.Files.createTempDirectory("inc-base").toString
    val deltas = java.nio.file.Files.createTempDirectory("inc-deltas").toString + "/log"

    // seed the base table with the initial accident set
    graft.pipeline.ScoringPipeline.writeScores(
      graft.pipeline.ScoringPipeline.computeDailyScores(
        routes, Seq(a0).toDF(), Seq(date)), base)

    // stream two micro-batches of NEW accidents into the delta log
    val mem = MemoryStream[IngestAcc]
    val q = StreamingOps.incrementalAccidentIngest(mem.toDF(), routes, date, deltas).start()
    try {
      mem.addData(a1); q.processAllAvailable()
      mem.addData(a2); q.processAllAvailable()
    } finally q.stop()

    def served = StreamingOps.scoresWithDeltas(
      spark, spark.read.parquet(base), deltas)
      .select("route_id", "risk_score", "n_contributing", "color_code")
      .collect().map(r => r.getLong(0) -> r).toMap
    val full = graft.kernel.PairKernel.scoreRoutes(
      routes, Seq(a0, a1, a2).toDF(), to_date(lit(date)))
      .collect().map(r => r.getLong(0) -> r).toMap

    def assertMatchesFull(): Unit = {
      val s0 = served
      assert(s0.keySet == full.keySet)
      full.foreach { case (id, f) =>
        val s = s0(id)
        assert(math.abs(s.getAs[Double]("risk_score") - f.getAs[Double]("risk_score")) < 1e-9,
          s"route $id")
        assert(s.getAs[Long]("n_contributing") == f.getAs[Long]("n_contributing"))
        assert(s.getAs[String]("color_code") == f.getAs[String]("color_code"))
      }
    }
    assertMatchesFull()

    // REPLAY contract: foreachBatch is at-least-once — re-running a batch
    // with the same batchId must overwrite its own partition, not add
    // twice (batch ids from MemoryStream start at 0)
    StreamingOps.ingestAccidentBatch(Seq(a2).toDF(), routes, date, deltas, batchId = 1L)
    assertMatchesFull()

    // COMPACTION: folding the log into the base leaves the serving view
    // invariant, and the log is gone
    StreamingOps.compactDeltas(spark, base, deltas)
    assertMatchesFull() // scoresWithDeltas over the now-empty log == base
    assert(!new java.io.File(deltas).exists())

    // replay of an already-FOLDED batch after compaction: the marker makes
    // the ingest skip it — without the guard this delta would land in a
    // fresh log on top of a base that already contains it
    StreamingOps.ingestAccidentBatch(Seq(a2).toDF(), routes, date, deltas, batchId = 1L)
    assertMatchesFull()
    assert(!new java.io.File(deltas).exists(), "folded replay must not recreate the log")
  }

  test("soak: ingest → kill → crash replay → mid-stream compaction → restart, exactly-once") {
    import org.apache.spark.sql.functions._
    // the full lifecycle in one run: a checkpointed ingest is killed after
    // its first micro-batch, the batch is redelivered (at-least-once), a
    // compaction folds the log while the stream is DOWN, the stream then
    // resumes from the same checkpoint for two more batches, and a stale
    // replay of the folded batch arrives last. End-to-end totals must equal
    // a from-scratch recompute — every accident counted exactly once.
    val routes = Seq(
      (1L, 40.0, -105.0, Some(2000.0), "alpine", Some(7.0)),
      (2L, 40.3, -105.2, Some(2500.0), "sport", Some(9.0)),
      (3L, 47.0, -115.0, Some(1500.0), "trad", Some(6.0)))
      .toDF("route_id", "lat", "lon", "elev", "route_type", "difficulty")
    def acc(id: Long, lat: Double, lon: Double) = IngestAcc(id, lat, lon, Some(2100.0),
      "alpine", "serious", java.sql.Date.valueOf("2024-06-01"), Some(7.5))
    val a0 = acc(1, 40.1, -105.1)
    val a1 = acc(2, 40.2, -105.05)
    val a2 = acc(3, 40.25, -105.15)
    val a3 = acc(4, 40.05, -105.3)
    val date = "2024-07-15"
    val base = java.nio.file.Files.createTempDirectory("soak-base").toString
    val deltas = java.nio.file.Files.createTempDirectory("soak-deltas").toString + "/log"
    val ckpt = java.nio.file.Files.createTempDirectory("soak-ckpt").toString
    graft.pipeline.ScoringPipeline.writeScores(
      graft.pipeline.ScoringPipeline.computeDailyScores(
        routes, Seq(a0).toDF(), Seq(date)), base)

    val mem = MemoryStream[IngestAcc]
    // phase 1: one micro-batch (id 0), then the query is KILLED
    val q1 = StreamingOps.incrementalAccidentIngest(mem.toDF(), routes, date, deltas)
      .option("checkpointLocation", ckpt).start()
    try { mem.addData(a1); q1.processAllAvailable() } finally q1.stop()
    // at-least-once redelivery of the killed batch (same id) — idempotent
    StreamingOps.ingestAccidentBatch(Seq(a1).toDF(), routes, date, deltas, batchId = 0L)
    // compaction while the stream is down: batch 0 folds into the base
    StreamingOps.compactDeltas(spark, base, deltas)

    // phase 2: resume from the SAME checkpoint; ids continue at 1, 2
    val q2 = StreamingOps.incrementalAccidentIngest(mem.toDF(), routes, date, deltas)
      .option("checkpointLocation", ckpt).start()
    try {
      mem.addData(a2); q2.processAllAvailable()
      mem.addData(a3); q2.processAllAvailable()
    } finally q2.stop()
    // a stale replay of the already-FOLDED batch arrives after the restart
    StreamingOps.ingestAccidentBatch(Seq(a1).toDF(), routes, date, deltas, batchId = 0L)

    val full = graft.kernel.PairKernel.scoreRoutes(
      routes, Seq(a0, a1, a2, a3).toDF(), to_date(lit(date)))
      .collect().map(r => r.getLong(0) -> r).toMap
    def assertServedMatches(): Unit = {
      val served = StreamingOps.scoresWithDeltas(
        spark, spark.read.parquet(base), deltas)
        .select("route_id", "risk_score", "n_contributing", "color_code")
        .collect().map(r => r.getLong(0) -> r).toMap
      assert(served.keySet == full.keySet)
      full.foreach { case (id, f) =>
        val s = served(id)
        assert(math.abs(s.getAs[Double]("risk_score") - f.getAs[Double]("risk_score")) < 1e-9,
          s"route $id risk drifted across the soak")
        assert(s.getAs[Long]("n_contributing") == f.getAs[Long]("n_contributing"),
          s"route $id accident multiplicity broken")
        assert(s.getAs[String]("color_code") == f.getAs[String]("color_code"))
      }
    }
    assertServedMatches()
    // final compaction: base alone carries the same totals, log is gone
    StreamingOps.compactDeltas(spark, base, deltas)
    assertServedMatches()
    assert(!new java.io.File(deltas).exists())
  }

  test("delta folding is date-grained: a delta never leaks onto another date") {
    import org.apache.spark.sql.functions._
    val routes = Seq((1L, 40.0, -105.0, Some(2000.0), "alpine", Some(7.0)))
      .toDF("route_id", "lat", "lon", "elev", "route_type", "difficulty")
    val a0 = IngestAcc(1, 40.1, -105.1, Some(2100.0), "alpine", "serious",
      java.sql.Date.valueOf("2024-06-01"), Some(7.5))
    val a1 = IngestAcc(2, 40.2, -105.05, Some(2100.0), "alpine", "fatal",
      java.sql.Date.valueOf("2024-06-10"), Some(7.5))
    val (d1, d2) = ("2024-07-15", "2024-07-16")
    val base = java.nio.file.Files.createTempDirectory("dg-base").toString
    val deltas = java.nio.file.Files.createTempDirectory("dg-deltas").toString + "/log"
    graft.pipeline.ScoringPipeline.writeScores(
      graft.pipeline.ScoringPipeline.computeDailyScores(
        routes, Seq(a0).toDF(), Seq(d1, d2)), base)
    val before = spark.read.parquet(base)
      .select(col("prediction_date").cast("string"), col("risk_score"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

    // a delta computed for d1 only
    StreamingOps.ingestAccidentBatch(Seq(a1).toDF(), routes, d1, deltas, batchId = 0L)
    val served = StreamingOps.scoresWithDeltas(spark, spark.read.parquet(base), deltas)
      .select(col("prediction_date").cast("string"), col("risk_score"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(served(d2) == before(d2), "date 2 must be untouched by date 1's delta")
    assert(served(d1) > before(d1), "date 1 must absorb its delta")

    // compaction keeps the same date isolation, baked in
    StreamingOps.compactDeltas(spark, base, deltas)
    val after = spark.read.parquet(base)
      .select(col("prediction_date").cast("string"), col("risk_score"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(after(d2) == before(d2))
    assert(math.abs(after(d1) - served(d1)) < 1e-12)

    // fresh-checkpoint restart protocol: batch id 0 is folded, so the
    // ingest skips it — until clearFoldedMarker forgets the old lineage,
    // after which a new batch 0 lands again
    StreamingOps.ingestAccidentBatch(Seq(a1).toDF(), routes, d1, deltas, batchId = 0L)
    assert(!new java.io.File(deltas).exists(), "folded id must be skipped")
    StreamingOps.clearFoldedMarker(spark, deltas)
    StreamingOps.ingestAccidentBatch(Seq(a1).toDF(), routes, d1, deltas, batchId = 0L)
    assert(new java.io.File(deltas).exists(), "cleared lineage must ingest again")
  }

  test("a folded partition surviving a crashed compaction is not double-served") {
    import org.apache.spark.sql.functions._
    val routes = Seq((1L, 40.0, -105.0, Some(2000.0), "alpine", Some(7.0)))
      .toDF("route_id", "lat", "lon", "elev", "route_type", "difficulty")
    val a0 = IngestAcc(1, 40.1, -105.1, Some(2100.0), "alpine", "serious",
      java.sql.Date.valueOf("2024-06-01"), Some(7.5))
    val a1 = IngestAcc(2, 40.2, -105.05, Some(2100.0), "alpine", "fatal",
      java.sql.Date.valueOf("2024-06-10"), Some(7.5))
    val d1 = "2024-07-15"
    val base = java.nio.file.Files.createTempDirectory("cf-base").toString
    val deltas = java.nio.file.Files.createTempDirectory("cf-deltas").toString + "/log"
    graft.pipeline.ScoringPipeline.writeScores(
      graft.pipeline.ScoringPipeline.computeDailyScores(
        routes, Seq(a0).toDF(), Seq(d1)), base)
    StreamingOps.ingestAccidentBatch(Seq(a1).toDF(), routes, d1, deltas, batchId = 0L)
    def risk(df: org.apache.spark.sql.DataFrame): Double =
      df.select("risk_score").head().getDouble(0)
    val servedTruth = risk(StreamingOps.scoresWithDeltas(
      spark, spark.read.parquet(base), deltas))
    StreamingOps.compactDeltas(spark, base, deltas)

    // simulate a compaction that crashed AFTER the marker write but BEFORE
    // deleting the partition: recreate batch 0's delta on disk while the
    // marker still lists it as folded
    graft.pipeline.ScoringPipeline.accidentDeltaTotals(
      routes, Seq(a1).toDF(), to_date(lit(d1)), pruned = true)
      .where(col("d_total") > 0 || col("d_n") > 0)
      .withColumn("prediction_date", to_date(lit(d1)))
      .withColumn("ingest_batch", lit(0L))
      .write.mode("append").partitionBy("ingest_batch").parquet(deltas)

    // serving must IGNORE the folded partition — pre-fix this double-counted
    val served = risk(StreamingOps.scoresWithDeltas(
      spark, spark.read.parquet(base), deltas))
    assert(math.abs(served - servedTruth) < 1e-12,
      s"lingering folded partition double-counted: $served vs $servedTruth")
    // and a compaction re-run deletes it without folding twice
    StreamingOps.compactDeltas(spark, base, deltas)
    assert(!new java.io.File(deltas).exists())
    assert(math.abs(risk(spark.read.parquet(base)) - servedTruth) < 1e-12)
  }

  test("a legacy single-file folded marker migrates into the directory layout") {
    import org.apache.spark.sql.functions._
    val routes = Seq((1L, 40.0, -105.0, Some(2000.0), "alpine", Some(7.0)))
      .toDF("route_id", "lat", "lon", "elev", "route_type", "difficulty")
    val a0 = IngestAcc(1, 40.1, -105.1, Some(2100.0), "alpine", "serious",
      java.sql.Date.valueOf("2024-06-01"), Some(7.5))
    val a1 = IngestAcc(2, 40.2, -105.05, Some(2100.0), "alpine", "fatal",
      java.sql.Date.valueOf("2024-06-10"), Some(7.5))
    val d1 = "2024-07-15"
    val base = java.nio.file.Files.createTempDirectory("lm-base").toString
    val deltasRoot = java.nio.file.Files.createTempDirectory("lm-deltas").toString
    val deltas = deltasRoot + "/log"
    graft.pipeline.ScoringPipeline.writeScores(
      graft.pipeline.ScoringPipeline.computeDailyScores(
        routes, Seq(a0).toDF(), Seq(d1)), base)
    // pre-upgrade state: a single-FILE marker recording batch 99 as folded
    java.nio.file.Files.write(java.nio.file.Paths.get(deltasRoot, "log_folded"),
      "99\n".getBytes("UTF-8"))
    val fs = new org.apache.hadoop.fs.Path(deltas)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(StreamingOps.foldedBatchIds(fs, deltas) == Set(99L),
      "legacy file must be readable as-is")
    // batch 99 must be skipped on replay, batch 0 ingests normally
    StreamingOps.ingestAccidentBatch(Seq(a1).toDF(), routes, d1, deltas, batchId = 99L)
    assert(!new java.io.File(deltas).exists(), "legacy-folded id must be skipped")
    StreamingOps.ingestAccidentBatch(Seq(a1).toDF(), routes, d1, deltas, batchId = 0L)
    // compaction records batch 0 AND carries the legacy id forward into the
    // directory layout
    StreamingOps.compactDeltas(spark, base, deltas)
    assert(StreamingOps.foldedBatchIds(fs, deltas) == Set(0L, 99L),
      "migration must union legacy ids with the newly folded set")
    assert(new java.io.File(deltasRoot, "log_folded").isDirectory,
      "marker must now be the directory layout")
  }

  test("marker migration crash window: stage dir keeps the folded set visible") {
    import org.apache.spark.sql.functions._
    // simulate a migration that crashed AFTER deleting the legacy file but
    // BEFORE renaming the stage directory into place: only the sibling
    // stage dir exists. The folded set must stay visible (reader unions the
    // stage) and the next compaction must absorb it into the real layout.
    val routes = Seq((1L, 40.0, -105.0, Some(2000.0), "alpine", Some(7.0)))
      .toDF("route_id", "lat", "lon", "elev", "route_type", "difficulty")
    val a0 = IngestAcc(1, 40.1, -105.1, Some(2100.0), "alpine", "serious",
      java.sql.Date.valueOf("2024-06-01"), Some(7.5))
    val a1 = IngestAcc(2, 40.2, -105.05, Some(2100.0), "alpine", "fatal",
      java.sql.Date.valueOf("2024-06-10"), Some(7.5))
    val d1 = "2024-07-15"
    val base = java.nio.file.Files.createTempDirectory("mw-base").toString
    val deltasRoot = java.nio.file.Files.createTempDirectory("mw-deltas").toString
    val deltas = deltasRoot + "/log"
    graft.pipeline.ScoringPipeline.writeScores(
      graft.pipeline.ScoringPipeline.computeDailyScores(
        routes, Seq(a0).toDF(), Seq(d1)), base)
    val stageDir = java.nio.file.Paths.get(deltasRoot, "log_folded.migrate")
    java.nio.file.Files.createDirectories(stageDir)
    java.nio.file.Files.write(stageDir.resolve("ids-crashed"), "99\n".getBytes("UTF-8"))
    val fs = new org.apache.hadoop.fs.Path(deltas)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(StreamingOps.foldedBatchIds(fs, deltas) == Set(99L),
      "stage-only state must still expose the folded set")
    // replay of the folded batch is still skipped mid-migration
    StreamingOps.ingestAccidentBatch(Seq(a1).toDF(), routes, d1, deltas, batchId = 99L)
    assert(!new java.io.File(deltas).exists(), "stage-recorded id must be skipped")
    StreamingOps.ingestAccidentBatch(Seq(a1).toDF(), routes, d1, deltas, batchId = 0L)
    StreamingOps.compactDeltas(spark, base, deltas)
    assert(StreamingOps.foldedBatchIds(fs, deltas) == Set(0L, 99L),
      "compaction must absorb the crashed stage into the directory layout")
    assert(new java.io.File(deltasRoot, "log_folded").isDirectory)
    assert(!new java.io.File(deltasRoot, "log_folded.migrate").exists(),
      "stage dir must be cleaned up once its content is safely recorded")
  }

  test("stream-stream interval join: window + key gating, equals the batch join") {
    import org.apache.spark.sql.functions._
    val accMem = MemoryStream[SjAcc]
    val wxMem = MemoryStream[SjWx]
    val joined = streamIntervalJoin(accMem.toDF(), wxMem.toDF(),
      leftTs = "a_ts", rightTs = "w_ts", keys = Seq("cell"),
      lookback = "60 MINUTES", leftWatermark = "60 minutes", rightWatermark = "60 minutes")
      .select(col("accident_id"), col("temp"))
    val q = joined.writeStream.format("memory").queryName("sj")
      .outputMode(OutputMode.Append()).start()
    val wx = Seq(SjWx(ts(0), 1, 5.0), SjWx(ts(30), 1, 6.0), SjWx(ts(30), 2, 7.0),
      SjWx(ts(40), 1, 8.0))
    val acc = Seq(SjAcc(100, ts(45), 1))
    try {
      // weather arrives first; then the accident — both pre-accident rows in
      // its [a_ts - 60min, a_ts] window match; the other cell does not
      wxMem.addData(wx(0), wx(1), wx(2))
      q.processAllAvailable()
      accMem.addData(acc(0))
      q.processAllAvailable()
      val first = spark.table("sj").as[(Long, Double)].collect().toSet
      assert(first == Set((100L, 5.0), (100L, 6.0)))
      // in-window observation arriving AFTER the accident still joins
      // (inner stream-stream join emits on arrival of the later side)
      wxMem.addData(wx(3))
      q.processAllAvailable()
      val all = spark.table("sj").as[(Long, Double)].collect().toSet
      assert(all == Set((100L, 5.0), (100L, 6.0), (100L, 8.0)))
      // unified API: the same operator on batch frames gives the same rows
      val batch = streamIntervalJoin(acc.toDF(), wx.toDF(),
        "a_ts", "w_ts", Seq("cell"), "60 MINUTES", "60 minutes", "60 minutes")
        .select(col("accident_id"), col("temp"))
        .as[(Long, Double)].collect().toSet
      assert(batch == all)
    } finally q.stop()
  }

  test("incrementalScoring: per-date micro-batches land idempotent partitions") {
    import org.apache.spark.sql.functions._
    val routes = Seq((1L, 40.0, -105.0, Some(2000.0), "alpine", Some(7.0)),
      (2L, 40.5, -105.5, Some(2500.0), "sport", Some(9.0)))
      .toDF("route_id", "lat", "lon", "elev", "route_type", "difficulty")
    val accidents = Seq((1L, 40.1, -105.1, Some(2100.0), "alpine", "serious",
      java.sql.Date.valueOf("2024-06-01"), Some(7.5)))
      .toDF("accident_id", "a_lat", "a_lon", "a_elev", "acc_type", "severity_raw",
        "a_date", "a_difficulty")
    val out = java.nio.file.Files.createTempDirectory("inc-scores").toString

    val mem = MemoryStream[String]
    val q = StreamingOps.incrementalScoring(
      mem.toDF().withColumnRenamed("value", "prediction_date"), routes, accidents, out)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    mem.addData("2024-07-15", "2024-07-16")
    val run = q.start()
    try run.awaitTermination(60000) finally run.stop()

    val written = spark.read.parquet(out)
    assert(written.select("prediction_date").distinct().count() == 2)
    assert(written.count() == 4) // 2 routes x 2 dates
    // replaying a date is idempotent (partition overwrite, not append)
    val mem2 = MemoryStream[String]
    val q2 = StreamingOps.incrementalScoring(
      mem2.toDF().withColumnRenamed("value", "prediction_date"), routes, accidents, out)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    mem2.addData("2024-07-15")
    val run2 = q2.start()
    try run2.awaitTermination(60000) finally run2.stop()
    assert(spark.read.parquet(out).count() == 4)
    // batch-equivalence: the streamed partition equals the batch computation
    val streamed = spark.read.parquet(out)
      .where(col("prediction_date") === "2024-07-15")
      .select("route_id", "risk_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val batch = graft.pipeline.ScoringPipeline
      .computeDailyScores(routes, accidents, Seq("2024-07-15"))
      .select("route_id", "risk_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(streamed == batch)
  }

  test("a delta for a date the nightly never scored survives compaction") {
    import org.apache.spark.sql.functions._
    val routes = Seq((1L, 40.0, -105.0, Some(2000.0), "alpine", Some(7.0)))
      .toDF("route_id", "lat", "lon", "elev", "route_type", "difficulty")
    val a0 = IngestAcc(1, 40.1, -105.1, Some(2100.0), "alpine", "serious",
      java.sql.Date.valueOf("2024-06-01"), Some(7.5))
    val a1 = IngestAcc(2, 40.2, -105.05, Some(2100.0), "alpine", "fatal",
      java.sql.Date.valueOf("2024-06-10"), Some(7.5))
    val (scored, unscored) = ("2024-07-15", "2024-07-20")
    val base = java.nio.file.Files.createTempDirectory("ud-base").toString
    val deltas = java.nio.file.Files.createTempDirectory("ud-deltas").toString + "/log"
    graft.pipeline.ScoringPipeline.writeScores(
      graft.pipeline.ScoringPipeline.computeDailyScores(
        routes, Seq(a0).toDF(), Seq(scored)), base)
    // the new accident's delta targets a date with NO base partition
    StreamingOps.ingestAccidentBatch(Seq(a1).toDF(), routes, unscored, deltas, batchId = 0L)
    // serving view surfaces the delta-only row pre-compaction…
    val served = StreamingOps.scoresWithDeltas(spark, spark.read.parquet(base), deltas)
      .where(col("prediction_date").cast("string") === unscored)
      .select("route_id", "risk_score").collect()
    assert(served.length == 1 && served.head.getDouble(1) > 0.0,
      "unmatched delta must serve as a delta-only row")
    // …and compaction folds it into the base instead of discarding it
    StreamingOps.compactDeltas(spark, base, deltas)
    val baked = spark.read.parquet(base)
      .where(col("prediction_date").cast("string") === unscored)
      .select("route_id", "risk_score").collect()
    assert(baked.length == 1,
      "compaction silently discarded the unscored date's delta")
    assert(math.abs(baked.head.getDouble(1) - served.head.getDouble(1)) < 1e-12,
      "post-compaction base must equal the pre-compaction serving view")
    // the scored date's row is untouched
    assert(spark.read.parquet(base)
      .where(col("prediction_date").cast("string") === scored).count() == 1)
  }

  test("sessionize rounds negative half-cents like the q10 batch twin (HALF_UP)") {
    val mem = MemoryStream[Event]
    val q = sessionize(mem.toDS())
      .writeStream.format("memory").queryName("neg_sessions")
      .outputMode(OutputMode.Append()).start()
    try {
      // -0.125 * 100 = -12.5 cents exactly: Spark round() → -13;
      // math.round would have given -12
      mem.addData(Event(1, ts(0), 9, "refund", -0.125))
      q.processAllAvailable()
      mem.addData(Event(2, ts(40), 9, "view", 0.0)) // gap evidence closes s1
      q.processAllAvailable()
      val v = spark.table("neg_sessions").select("session_value")
        .collect().map(_.getDouble(0))
      assert(v.contains(-0.13), s"expected HALF_UP -0.13, got ${v.mkString(",")}")
    } finally q.stop()
  }

  test("hourlyTypeCounts totals an all-NULL-value group as 0.0, not NULL") {
    // unified API: the operator runs on a batch frame unchanged
    val events = Seq(
      (1L, ts(0), 1L, "ping", null.asInstanceOf[java.lang.Double]),
      (2L, ts(5), 2L, "ping", null.asInstanceOf[java.lang.Double]))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val row = hourlyTypeCounts(events).collect().head
    assert(!row.isNullAt(row.fieldIndex("total_value")))
    assert(row.getAs[Double]("total_value") == 0.0)
  }

  test("clearFoldedMarker refuses while the old lineage's partitions remain") {
    val routes = Seq((1L, 40.0, -105.0, Some(2000.0), "alpine", Some(7.0)))
      .toDF("route_id", "lat", "lon", "elev", "route_type", "difficulty")
    val a1 = IngestAcc(2, 40.2, -105.05, Some(2100.0), "alpine", "fatal",
      java.sql.Date.valueOf("2024-06-10"), Some(7.5))
    val deltas = java.nio.file.Files.createTempDirectory("cm-deltas").toString + "/log"
    StreamingOps.ingestAccidentBatch(Seq(a1).toDF(), routes, "2024-07-15", deltas, 0L)
    val e = intercept[IllegalArgumentException] {
      StreamingOps.clearFoldedMarker(spark, deltas)
    }
    assert(e.getMessage.contains("compactDeltas"))
  }

  test("streaming dedup operators do not leak the text_hash helper column") {
    import org.apache.spark.sql.functions.md5
    val docs = Seq((ts(0), 1L, "alpha")).toDF("ts", "doc_id", "text")
    assert(streamingExactDedup(docs, "ts", "text").columns.toSeq == docs.columns.toSeq)
    val corpus = Seq("alpha").toDF("text").select(md5($"text").as("text_hash"))
    assert(streamingDedupAgainstCorpus(docs, corpus, "text").columns.toSeq
      == docs.columns.toSeq)
  }
}
