package graft

import graft.SparkSpec

/** Physical-plan shape guards — the scale properties README promises,
  * asserted against `.explain` output so regressions surface in CI:
  * filter/column pushdown reaches the parquet scan, and the exact and the
  * pruned kernel each plan one per-route fold, no join, and no route-side
  * shuffle before partial aggregation.
  */
class PlanShapeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("q02 scan: predicate and column pruning reach the parquet reader") {
    val plan = planOf("q02_scan_filter")
    assert(plan.contains("PushedFilters:"), "no pushed filters in scan")
    assert(plan.contains("GreaterThanOrEqual(l_shipdate"), plan.take(2000))
    // projection pruning: the FileScan column list must exclude unused cols
    val scanLine = plan.linesIterator.find(_.contains("FileScan parquet")).getOrElse("")
    assert(scanLine.contains("l_quantity#") && !scanLine.contains("l_tax#"),
      s"scan reads unpruned columns: $scanLine")
  }

  test("kernel: one per-route fold, no join, no shuffle of the routes side before partial agg") {
    // the accidents reach the fold as broadcast arrays, never as a join side
    val plan = planOf("k08_kernel_risk")
    assert(plan.sliding("MapPartitions ".length).count(_ == "MapPartitions ") == 1,
      "the exact kernel is not one fold operator:\n" + plan)
    assert(!plan.contains("Join") && !plan.contains("CartesianProduct"),
      "the exact kernel plans a join:\n" + plan)
    // the ONLY exchange should be the post-partial-agg hash partitioning
    val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 1, s"unexpected extra shuffles: $exchanges")
  }

  test("pruned kernel: one per-route fold, no join of any kind in the plan") {
    import org.apache.spark.sql.functions._
    val pruned = graft.kernel.KernelPruning.scoreRoutesPruned(
      graft.queries.Derived.routes(spark, dir),
      graft.queries.Derived.accidents(spark, dir),
      to_date(lit("2024-07-15")))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.sliding("MapPartitions ".length).count(_ == "MapPartitions ") == 1,
      "pruned path is not one fold operator:\n" + plan)
    assert(!plan.contains("Join") && !plan.contains("CartesianProduct"),
      "pruned path plans a join:\n" + plan)
    assert(!plan.contains("ASIN("), "pruned path computes a haversine in Catalyst")
  }

  test("pruned kernel: AQE's final plan keeps the fold and plans no join") {
    import org.apache.spark.sql.functions._
    // At 100× scale AQE is ON (runtime skew/shuffle re-planning is how a
    // real cluster survives); the plan-shape guards above pin shapes only
    // under AQE-off. Execute under AQE and assert the FINAL adaptive plan
    // still runs the fold — not a re-planned sort-merge, nested-loop or
    // cartesian join.
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try {
      val pruned = graft.kernel.KernelPruning.scoreRoutesPruned(
        Bench.syntheticRoutes(spark, 2000),
        Bench.syntheticAccidents(spark, 500),
        to_date(lit("2024-07-15")))
      pruned.collect() // AQE finalizes plans only on execution
      val full = pruned.queryExecution.executedPlan.toString
      assert(full.contains("AdaptiveSparkPlan"), "AQE was not engaged:\n" + full.take(500))
      assert(full.contains("isFinalPlan=true"), "adaptive plan never finalized")
      // toString shows BOTH "== Final Plan ==" and "== Initial Plan =="
      // sections; only what AQE actually finalized matters
      val plan = full.split("== Initial Plan ==").head
      assert(plan.contains("MapPartitions "), "the fold is missing from the final plan")
      assert(!plan.contains("SortMergeJoin") && !plan.contains("NestedLoopJoin") &&
        !plan.contains("CartesianProduct"),
        "AQE re-planned the pruned kernel into a shuffle/cross join")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("similarity top-k: custom dot-product expression is in the plan (codegen'd)") {
    val plan = planOf("s01_cosine_topk")
    assert(plan.contains("dotproductd") || plan.contains("DotProductD")
      || plan.toLowerCase.contains("dotproduct"), plan.take(1500))
  }

  test("weather kernels: similarity is ONE native expression node, not the HOF tree") {
    // the fold collects its accident side while k14's plan is built, so the
    // similarity lives in the plan of the accident rows it collects
    val plan = graft.kernel.RouteFold.accidentFrame(
      graft.queries.KernelQueries.weatherAccidents(spark, dir), Seq(graft.queries.Derived.planDate))
      .queryExecution.executedPlan.toString
    assert(plan.contains("weather_pattern_similarity"),
      "native similarity expression missing from the k14 accident plan")
    // the staged HOF form would inline hundreds of aggregate/zip_with
    // lambda nodes — the whole executed plan must stay small
    assert(plan.length < 100000,
      s"k14 plan blew up to ${plan.length} chars — staged tree is back")
  }

  test("memo fan-out joins the bucket memo as a broadcast hash join") {
    import org.apache.spark.sql.functions._
    val locs = graft.queries.Derived.locations(spark, dir)
      .withColumn("bucket", col("location_id") % 10)
    val memo = graft.weather.WeatherMemo.similarityMemo(
      locs, "bucket", graft.queries.Derived.accidents(spark, dir),
      graft.queries.Derived.weatherRows(spark, dir),
      b => graft.queries.Derived.weatherPattern(lit(graft.queries.Derived.CurrentKey) + b))
    val plan = graft.weather.WeatherMemo.attachToLocations(locs, memo, "bucket")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "memo fan-out should broadcast the (buckets × accidents) memo")
  }

  test("cache warming: one multi-date fold, no join, one exchange for the route agg") {
    // the accident rows reach the fold as broadcast arrays, never as a
    // join side: one MapPartitions, no join or cartesian product, and only
    // the route_id-keyed merge hash-partitions
    val plan = planOf("k19_cache_warming")
    assert(plan.linesIterator.count(_.contains("MapPartitions ")) == 1,
      "warming batch does not run one multi-date fold")
    assert(!plan.contains("Join") && !plan.contains("CartesianProduct"),
      "warming batch joins the accidents")
    val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 1, s"unexpected extra shuffles in warming plan: $exchanges")
  }

  test("decontamination: eval grams broadcast; the corpus side never sort-merges") {
    val plan = planOf("d15_decontaminate")
    assert(plan.contains("BroadcastHashJoin"),
      "eval-gram set should join as a broadcast hash join")
    assert(!plan.contains("SortMergeJoin"),
      "corpus side must not shuffle into a sort-merge join")
  }

  test("epoch order: orderBy+limit compiles to TakeOrderedAndProject, not a global sort") {
    val plan = planOf("d16_epoch_order")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(1500))
    assert(!plan.contains("Exchange rangepartitioning"),
      "epoch-order head should not plan a full range-partitioned sort")
  }

  test("no registered query plans a pathological expression tree") {
    // the codegen-blowup class of regression (an inlined HOF tree per
    // consumer — hit d15 and the pre-native weather kernels): every
    // query's executed plan must stay bounded
    val sizes = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> fn(spark, dir).queryExecution.executedPlan.toString.length
    }
    val offenders = sizes.filter(_._2 > 300000)
    assert(offenders.isEmpty,
      s"oversized plans: ${offenders.map { case (n, l) => s"$n=$l" }.mkString(", ")}")
  }

  test("as-of join: union + keyed window — events shuffle once, by user") {
    val plan = planOf("q28_asof_join")
    assert(plan.contains("Union"), "as-of should plan the union form")
    assert(plan.contains("Window"), "as-of needs the running-last window")
    // one hash exchange on the join key feeds the window (the snapshot-dim
    // generator's tiny users×8 broadcast cross join is fine — it never
    // touches the events side); a range-join regression would replace the
    // union+window with a join of events against snapshots
    assert(plan.contains("Exchange hashpartitioning(user_id"),
      "window input is not key-partitioned by user")
    assert(!plan.contains("CartesianProduct"),
      "as-of regressed to a pair-explosion join")
    assert(!plan.contains("SinglePartition"),
      "as-of window collapsed to one partition")
  }

  test("bitmap distinct: ObjectHashAggregate with a partial map-side phase") {
    val plan = planOf("q29_bitmap_distinct")
    // TypedImperativeAggregate plans as ObjectHashAggregate; two phases =
    // map-side partial buffers, merged after one exchange
    assert(plan.contains("ObjectHashAggregate"), plan.take(1500))
    assert(plan.linesIterator.count(_.contains("ObjectHashAggregate")) >= 2,
      "bitmap aggregate lost its partial (map-side) phase")
    assert(!plan.contains("Expand"),
      "bitmap distinct must not fall back to count-distinct expand")
  }

  test("sequence packing: window partitions by shard — no single-partition window") {
    val plan = planOf("d18_seq_packing")
    assert(plan.contains("Window"), "packing should plan a window")
    // a global window would show an Exchange SinglePartition feeding the sort
    assert(!plan.contains("SinglePartition"),
      "packing window collapsed to one partition — shard key lost")
  }

  test("q21 keyset page: lazy construction; serving form pushes the cursor to the scan") {
    // building the map entry must run no driver-side ACTION (the old form
    // ran two sort+limit .head() jobs before the query even executed).
    // Parquet schema-inference jobs ("parquet at …") are scan setup, not
    // eagerness — filter by call site, not job count.
    val callSites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val probe = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        callSites.add(Option(j.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse(""))
    }
    spark.sparkContext.addSparkListener(probe)
    val inPlan =
      try {
        val df = SparkEntry.queries("q21_keyset_page")(spark, dir)
        // deterministically drain the async listener bus before asserting —
        // a fixed sleep can race job-start delivery on a loaded host
        org.apache.spark.GraftTestBus.drain(spark.sparkContext, 30000L)
        df
      } finally spark.sparkContext.removeSparkListener(probe)
    import scala.jdk.CollectionConverters._
    val actions = callSites.asScala.filter(cs =>
      Seq("head at", "collect at", "count at", "take at").exists(cs.contains))
    assert(actions.isEmpty, s"eager actions during q21 construction: $actions")
    // the client-literal serving form: cursor predicate reaches the scan,
    // page is a TakeOrderedAndProject (no global sort, no window)
    val serving = graft.queries.CoreQueries.keysetPageAfter(
      graft.Tables.customer(spark, dir), cursorBal = 5000.0, cursorKey = 42L)
    val plan = serving.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), "serving page must be top-N, not global sort")
    assert(plan.contains("PushedFilters: [Or(LessThan(c_acctbal"),
      "cursor predicate did not reach the parquet scan")
    // and the in-plan twin returns the same page as the literal form fed
    // with the cursor it derives
    val cur = graft.Tables.customer(spark, dir)
      .select("c_custkey", "c_acctbal")
      .orderBy(org.apache.spark.sql.functions.col("c_acctbal").desc,
        org.apache.spark.sql.functions.col("c_custkey").asc)
      .limit(100)
      .orderBy(org.apache.spark.sql.functions.col("c_acctbal").asc,
        org.apache.spark.sql.functions.col("c_custkey").desc).limit(1).head()
    val viaLiterals = graft.queries.CoreQueries.keysetPageAfter(
      graft.Tables.customer(spark, dir),
      cur.getAs[Double]("c_acctbal"), cur.getAs[Long]("c_custkey"))
      .collect().map(_.toSeq).toSeq
    assert(inPlan.collect().map(_.toSeq).toSeq == viaLiterals)
  }
}
