package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.text.TextExprs

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard. Designed for the 100 TB shape:
  *
  *  - exact dedup is one hash-aggregate (map-side partial, shuffle only the
  *    digest+key);
  *  - MinHash signatures are computed map-side per row (no shuffle), and the
  *    ONLY shuffle is the LSH band-bucket exchange whose key cardinality is
  *    #docs × #bands — candidate pairs are then generated per bucket,
  *    never via an all-pairs cross join;
  *  - SimHash is map-side; near-dup candidates come from banding the 64-bit
  *    space (e.g. 4×16-bit bands) — again no cross join.
  */
object Dedup {

  /** Exact dedup inventory: one row per distinct digest with multiplicity
    * and the keeper (minimum) id. Null-text rows are excluded — an absent
    * document has no digest (the pinned null-is-unhashable convention), so
    * grouping them would report a phantom "duplicate group" of rows whose
    * contents are unknown, not known-equal.
    */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.where(col(textCol).isNotNull)
      .groupBy(md5(col(textCol)).as("text_hash"))
      .agg(count(lit(1)).as("n_copies"), min(idCol).as("keeper_id"))

  /** Drop duplicate rows, keeping the min-id row per digest — the
    * shuffle-once (digest-keyed) form of `dropDuplicates`. Null-text rows
    * ALL survive: md5(null) is NULL and a shared-NULL partition key would
    * silently delete every null-text row but one, treating two absent
    * documents as proven copies. Each gets a per-row key instead ("n:" +
    * id cannot collide with the hex digest alphabet).
    */
  def dropExactDuplicates(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(
      coalesce(md5(col(textCol)), concat(lit("n:"), col(idCol).cast("string"))))
      .orderBy(col(idCol).asc)
    df.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1).drop("__rn")
  }

  /** Bulk MinHash signatures via the native codegen'd expression
    * ([[graft.expr.MinHashSigs]]): one fused map-side pass per document —
    * all `numHashes` minima in one scan over the token array, no explode,
    * no aggregate, NO shuffle. Agrees bit-for-bit with the HOF column
    * form (`MinHashStaged.minhashSignature`) and with the staged
    * explode→min-aggregate form (`MinHashStaged.minhashSignaturesStaged`),
    * both references in the test tree — DedupSpec asserts both.
    * Null-text docs are dropped, exactly as the staged form's
    * explode-of-NULL-array emitted no rows for them.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int, shingleWidth: Int): DataFrame =
    graft.Partitioning.balanced(df)
      .where(col(textCol).isNotNull)
      .select(col(idCol),
        graft.expr.MinHashExpr.minhashSigs(
          TextExprs.tokens(col(textCol)), numHashes, shingleWidth).as("sig"))

  /** Estimated Jaccard from two signatures: fraction of agreeing minima. */
  def minhashEstimate(sigA: Column, sigB: Column): Column =
    size(filter(zip_with(sigA, sigB, (a, b) => a === b), x => x))
      .cast("double") / size(sigA)

  /** LSH candidate pairs: split each signature into `bands` bands, bucket on
    * (band index, band hash), emit distinct (idA < idB) pairs sharing ≥1
    * bucket, with their estimated Jaccard.
    *
    * Input df must have columns (`idCol`, `sig`). The band exchange is the
    * only shuffle; per-bucket fan-out is bounded by bucket size, not corpus
    * size.
    *
    * `maxBucketSize` is the 100 TB skew guard: a degenerate bucket of m
    * members emits m² pairs, and real corpora HAVE degenerate buckets
    * (boilerplate pages, empty strings, templated text all share
    * signatures). A capped bucket is skipped wholesale — its members are
    * near-identical, which exact dedup (d01) already collapses more
    * cheaply; the cap bounds the join's worst case at |buckets|·cap²
    * instead of corpus². None (default) keeps the exact candidate set.
    */
  def lshCandidatePairs(df: DataFrame, idCol: String, sigLen: Int, bands: Int,
                        maxBucketSize: Option[Int] = None): DataFrame = {
    require(sigLen % bands == 0, s"signature length $sigLen not divisible by $bands bands")
    val banded = bandedPostings(df, idCol, sigLen, bands, maxBucketSize)
    val a = banded.select(col("band"), col("bucket"),
      col(idCol).as("id_a"), col("sig").as("sig_a"))
    val b = banded.select(col("band"), col("bucket"),
      col(idCol).as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("band", "bucket"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        minhashEstimate(col("sig_a"), col("sig_b")).as("est_jaccard"))
      .distinct()
  }

  /** (id, sig, band, bucket): one row per (doc, band) of a signature
    * frame, bucket = xxhash64 of the band's `sigLen / bands` signature
    * slice — the one banding of the batch and streaming LSH paths.
    */
  private[graft] def bandSignatures(df: DataFrame, idCol: String, sigLen: Int,
                                    bands: Int): DataFrame = {
    val r = sigLen / bands
    df.select(col(idCol), col("sig"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(b, concat_ws(",", slice(col("sig"), b * r + 1, lit(r)))))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")
  }

  /** (band, bucket, id, sig) posting list for a signature frame: one row
    * per (doc, band), bucket = xxhash64 of the band's signature slice.
    * With `maxBucketSize`, postings in buckets larger than the cap are
    * dropped wholesale — the window count rides the SAME (band, bucket)
    * exchange the downstream join needs anyway (a groupBy + join back
    * would evaluate the explode/hash pipeline twice).
    */
  private def bandedPostings(df: DataFrame, idCol: String, sigLen: Int,
      bands: Int, maxBucketSize: Option[Int]): DataFrame = {
    val banded0 = bandSignatures(df, idCol, sigLen, bands)
    maxBucketSize match {
      case Some(cap) =>
        val w = Window.partitionBy("band", "bucket")
        banded0.withColumn("__bsz", count(lit(1)).over(w))
          .where(col("__bsz") <= cap)
          .drop("__bsz")
      case None => banded0
    }
  }

  /** INCREMENTAL LSH candidates: a NEW batch of signatures against an
    * EXISTING corpus signature store — the nightly-crawl shape. A daily
    * increment must not re-join corpus × corpus (that work was already
    * done when each older batch arrived); it needs exactly the new docs'
    * bucket probes against the stored postings. Returns distinct
    * (corpus_id, new_id, est_jaccard) — candidates WITHIN the new batch
    * are [[lshCandidatePairs]] on `newSigs` (compose the two for full
    * increment dedup), and corpus × corpus pairs are deliberately absent.
    *
    * Scale shape: the corpus side is banded once per increment here; a
    * real deployment persists the posting list (band, bucket, id, sig)
    * bucketed by (band, bucket) via `ScaleLayout.writeBucketed`, so each
    * nightly join is exchange-free on the big side and the NEW side (tiny
    * by comparison) broadcasts. `maxBucketSize` caps each side's bucket
    * independently — a degenerate corpus bucket (boilerplate signatures
    * accumulated over months) would otherwise fan every matching new doc
    * into it, and a degenerate new bucket is exact-dup territory (d01)
    * just like in the symmetric join.
    *
    * Both frames need columns (`idCol`, `sig`) with ids disjoint across
    * the two (re-ingesting an id already in the corpus is an upsert
    * problem, not a dedup problem); equal ids are excluded defensively.
    */
  def lshCandidatePairsAgainst(corpusSigs: DataFrame, newSigs: DataFrame,
      idCol: String, sigLen: Int, bands: Int,
      maxBucketSize: Option[Int] = None): DataFrame = {
    require(sigLen % bands == 0, s"signature length $sigLen not divisible by $bands bands")
    val c = bandedPostings(corpusSigs, idCol, sigLen, bands, maxBucketSize)
      .select(col("band"), col("bucket"),
        col(idCol).as("corpus_id"), col("sig").as("sig_c"))
    val n = bandedPostings(newSigs, idCol, sigLen, bands, maxBucketSize)
      .select(col("band"), col("bucket"),
        col(idCol).as("new_id"), col("sig").as("sig_n"))
    c.join(n, Seq("band", "bucket"))
      .where(col("corpus_id") =!= col("new_id"))
      .select(col("corpus_id"), col("new_id"),
        minhashEstimate(col("sig_c"), col("sig_n")).as("est_jaccard"))
      .distinct()
  }

  /** Connected components over an undirected pair list — the step every
    * dedup pipeline needs AFTER pair generation: near-dup pairs (from LSH
    * verify or exact Jaccard) form clusters, and one keeper survives per
    * cluster. Iterative min-label propagation: every node repeatedly adopts
    * the minimum label in its closed neighborhood until a fixpoint — the
    * distributed-join formulation of union-find. Pointer doubling (see the
    * loop body) makes a minimum label travel 4× further each round, so
    * rounds ≈ log₄(diameter); each round is ONE job — neighbor-min join +
    * two label-table compositions + combine — `localCheckpoint`ed so plan
    * size and lineage stay constant across iterations (the classic
    * iterative-algorithm trap on Spark). Returns (node, component),
    * component = min
    * reachable node id. Nodes appearing in no pair are absent — callers
    * left-join and coalesce to the node's own id for singleton semantics.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIters: Int = 25): DataFrame = {
    val fwd = pairs.select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
    // partition AND sort by dst BEFORE the one-time checkpoint: every
    // round's neighbor-min join probes edges on dst, and localCheckpoint
    // preserves outputPartitioning/outputOrdering — so the per-round
    // exchange and sort on the (biggest) edges side are paid ONCE here
    // instead of once per pointer-jump round (the labels side already
    // arrives node-partitioned/sorted out of each round's checkpoint).
    val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().repartition(col("dst")).sortWithinPartitions("dst")
      .localCheckpoint()
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node")).localCheckpoint()
    var converged = edges.isEmpty
    var it = 0
    while (!converged && it < maxIters) { // at most maxIters rounds, as documented
      // step 1 — neighbor min: pull each node's smallest neighboring label
      val neigh = edges.join(labels, edges("dst") === labels("node"))
        .groupBy(col("src")).agg(min("label").as("nmin"))
      // step 2 — pointer DOUBLING on the label table: p2 = l∘l, p4 = p2∘p2.
      // A label is always a node id inside the same component (so it has a
      // row in `labels`, and the composition stays in-component and
      // monotone). Composing twice makes the distance a minimum travels
      // QUADRUPLE per round — O(log₄ diameter) rounds; without any jump a
      // 26-hop near-dup CHAIN (one boilerplate doc mutated link by link, a
      // real shape in crawled corpora) blows the iteration cap. Both
      // compositions read only the checkpointed `labels`, so neighbor-min,
      // the jumps and the combine all fuse into ONE job per round — the
      // earlier two-step form (neighbor-min checkpoint, then jump) paid a
      // second materialization per round for half the travel.
      // The left-join + coalesce keeps the no-match row (cannot happen for
      // an in-component label, but a dropped row would silently delete a
      // node); `alias` + qualified refs disambiguate the self-joins.
      val l1 = labels.select(col("node").as("k"), col("label").as("v"))
      val p2 = l1.alias("pa").join(l1.alias("pb"), col("pa.v") === col("pb.k"), "left")
        .select(col("pa.k").as("k"), coalesce(col("pb.v"), col("pa.v")).as("v"))
      val p4 = p2.alias("qa").join(p2.alias("qb"), col("qa.v") === col("qb.k"), "left")
        .select(col("qa.k").as("jn"), coalesce(col("qb.v"), col("qa.v")).as("jl"))
      val updated = labels.join(neigh, labels("node") === neigh("src"), "left")
        .join(p4, labels("node") === p4("jn"), "left")
        .select(labels("node"), labels("label"),
          least(col("label"),
            coalesce(col("nmin"), col("label")),
            coalesce(col("jl"), col("label"))).as("next"))
      // fresh-stats checkpoint, NOT plain localCheckpoint: the plain form
      // carries the origin plan's sizeInBytes into its LogicalRDD, and
      // this loop joins ~7 copies of the previous round's frame — the
      // carried estimate compounds ^7 per round into million-digit
      // BigInts whose multiplications wedge the driver's stats visitor
      // around round 7 (hit live by cluster_10x's ~10-round chain)
      val checkpointed = org.apache.spark.sql.graftbridge.PlanBridge
        .freshStatsCheckpoint(updated)
      converged = checkpointed.where(col("next") < col("label")).isEmpty
      // the PREVIOUS round's frame is materialized in the block manager by
      // localCheckpoint — release it once its successor exists, or
      // O(rounds) full copies of the label table accumulate.
      // (CheckpointUtil walks through the `labels` projection to the
      // checkpointed RDD beneath it — `labels` itself is a select over
      // the previous round's checkpointed frame.)
      graft.plans.CheckpointUtil.release(labels)
      labels = checkpointed.select(col("node"), col("next").as("label"))
      it += 1
    }
    // a silently-truncated propagation would report one real cluster as
    // several — refuse rather than return wrong components
    require(converged,
      s"connectedComponents did not converge within $maxIters rounds — " +
        "a component's diameter exceeds the cap; raise maxIters")
    labels.select(col("node"), col("label").as("component"))
  }

  /** Bulk SimHash signatures via the native codegen'd expression
    * ([[graft.expr.SimHash63]]): one fused map-side pass per document —
    * no explode, no aggregate, no shuffle. Agrees bit-for-bit with the
    * HOF reference form (`MinHashStaged.simhash63`, in the test tree;
    * DedupSpec asserts it); the earlier explode→63-
    * conditional-sum-aggregates form was scale-safe but paid 63 aggregate
    * expressions per (doc, token) row plus a doc-keyed exchange — 48 s at
    * sf0.1 vs scan throughput for this form.
    */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.Partitioning.balanced(df).select(col(idCol),
      graft.expr.SimHashExpr.simhash63(TextExprs.tokens(col(textCol))).as("simhash"))

  /** Hamming distance between two 64-bit hashes. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Exact n-gram (token w-shingle) Jaccard for all pairs sharing ≥1
    * shingle.
    *
    * `maxShingleDf` is the 100 TB skew guard (the shingle-space twin of
    * [[lshCandidatePairs]]' `maxBucketSize`): the shingle-share self-join is
    * quadratic in per-shingle document frequency — one boilerplate shingle
    * shared by m docs emits m² join rows, and real corpora HAVE such
    * shingles (headers, licenses, templated text). With a cap, shingles
    * whose df exceeds it are dropped BEFORE the join — both from candidate
    * generation and from the size/overlap counts — so the result is exact
    * Jaccard over the df ≤ cap shingle vocabulary: boilerplate-insensitive
    * (the idf intuition — a shingle in everything carries no pair signal;
    * docs equal in boilerplate only are exact-dedup/LSH territory), and the
    * join's worst case is |shingles|·cap² instead of corpus². None (default)
    * keeps the full exact semantics for bounded candidate sets or post-LSH
    * verification.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String, w: Int,
                        maxShingleDf: Option[Int] = None): DataFrame = {
    val sh0 = graft.Partitioning.balanced(df).select(col(idCol).as("id"),
      explode(TextExprs.shingleHashes(col(textCol), w)).as("sh"))
    val sh = maxShingleDf match {
      case Some(cap) =>
        // shingleHashes is distinct-per-doc, so the per-shingle window count
        // IS the document frequency; the window reuses the same shingle
        // exchange the self-join needs anyway
        val dfw = Window.partitionBy("sh")
        sh0.withColumn("__df", count(lit(1)).over(dfw))
          .where(col("__df") <= cap).drop("__df")
      case None => sh0
    }
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n"))
    val common = sh.as("a").join(sh.as("b"),
      col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(sizes.select(col("id").as("id_a"), col("n").as("n_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n").as("n_b")), "id_b")
      .select(col("id_a"), col("id_b"), col("n_common"),
        (col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double")).as("jaccard"))
  }

  /** Distributed Bloom build at the ANALYTIC size. `stat.bloomFilter`
    * routes through `bloom_filter_agg`, which SILENTLY clamps the filter
    * to the runtime-join-filter confs (maxNumItems 4M, maxNumBits
    * 2^26 ≈ 8 MiB by default — sized for join pruning, where a degraded
    * fpp only weakens pruning). For dedup, fpp IS the design point (it
    * sizes the exact-confirmation sliver), so both confs are lifted to
    * the `optimalNumOfBits(n, fpp)` optimum for the build and restored
    * after: a 10M-digest corpus gets its honest ~11.4 MiB, not a
    * 5×-the-design-fpp 8 MiB cap (BloomDedupSpec pins the 1.3× bound).
    */
  def buildBloom(hashes: DataFrame, hashCol: String, n: Long,
                 fpp: Double): org.apache.spark.util.sketch.BloomFilter = {
    val spark = hashes.sparkSession
    val optimalBits = org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(n, fpp)
    val itemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val prevItems = spark.conf.getOption(itemsKey)
    val prevBits = spark.conf.getOption(bitsKey)
    try {
      spark.conf.set(itemsKey, math.max(n, 4000000L))
      spark.conf.set(bitsKey, math.max(optimalBits, 67108864L))
      hashes.stat.bloomFilter(hashCol, n, fpp)
    } finally {
      prevItems.fold(spark.conf.unset(itemsKey))(spark.conf.set(itemsKey, _))
      prevBits.fold(spark.conf.unset(bitsKey))(spark.conf.set(bitsKey, _))
    }
  }

  /** Two-phase dedup of a NEW batch against a corpus SNAPSHOT via a Bloom
    * filter — the shuffle-free shape for "is this re-crawled?" at 100 TB:
    * a filter over the corpus's content hashes ships to executors as a
    * TORRENT BROADCAST (~1.2 GB for 10⁹ docs at 1% fpp travels once per
    * executor, the same path a broadcast join's hash relation takes — NOT
    * a plan Literal, which would be serialized into every task binary and
    * wedge the driver at that size), the new batch probes it MAP-SIDE
    * through a codegen'd broadcast-backed expression
    * ([[graft.expr.BloomMightContainBcast]], no UDF), and only the
    * bloom-HIT sliver (true dups + ~fpp false positives) reaches the
    * exact md5 confirmation join. Bloom filters have NO false negatives,
    * so the confirm join erases the fpp noise and the OUTPUT is exactly
    * "text exists in corpus" — which is why d27's oracle can hash-match a
    * plain EXISTS even though the bloom stage itself is hash-internal.
    *
    * Null-text rows are never duplicates (nothing to re-crawl) and never
    * probe the filter. Returns (`idCol`, is_dup, bloom_hit) — `bloom_hit`
    * is the probe result (deterministic, spec-inspected; excluded from
    * the oracle projection).
    */
  def bloomDedupAgainst(newDocs: DataFrame, corpus: DataFrame,
                        idCol: String, textCol: String,
                        fpp: Double = 0.01): DataFrame = {
    val corpusHashes = corpus.where(col(textCol).isNotNull)
      .select(xxhash64(col(textCol)).as("h"))
    // expectedNumItems sizes the filter; exact count is affordable as a
    // metadata-scale job (at 10⁹+ docs swap in approx_count_distinct)
    val n = math.max(corpusHashes.count(), 1L)
    val bf = buildBloom(corpusHashes, "h", n, fpp)
    val bfBcast = newDocs.sparkSession.sparkContext.broadcast(bf)
    val probe = graft.expr.BloomExprs.mightContain(bfBcast, xxhash64(col(textCol)))
    val flagged = newDocs.select(col(idCol), col(textCol),
      (col(textCol).isNotNull && coalesce(probe, lit(false))).as("bloom_hit"))
    // exact confirmation: ONLY bloom hits join the corpus digest set —
    // and the CORPUS side is never exchanged (round 18, guide §3.2): the
    // hit sliver's digest set (≤ true dups + fpp·|new| rows) broadcasts,
    // the corpus md5 stream is semi-filtered against it MAP-SIDE, and
    // only the surviving ~|hits| digests pay a distinct. The previous
    // form shuffled all |corpus| digests through a distinct plus a join
    // exchange to answer membership for the tiny hit set. Identical
    // output: id ∈ dupIds ⟺ its digest is a corpus digest (the hit-set
    // intersection is a no-op for hit rows). Broadcast size scales with
    // the NEW batch's hit count, never the corpus — the right trade for
    // snapshot dedup, where corpus ≫ new batch.
    // distinct on idCol: a duplicated id in newDocs (both rows bloom hits)
    // would otherwise multiply through the left join below (2 flagged ×
    // 2 dupIds = 4 output rows) — with the distinct, each flagged row
    // joins at most one dupIds row, so the output has exactly newDocs'
    // cardinality (an id duplicated with DIFFERENT texts is out of
    // contract — idCol is a key, as for every operator here)
    val hitDigests = flagged.where(col("bloom_hit"))
      .select(col(idCol), md5(col(textCol)).as("__d"))
    val confirmedDigests = corpus.where(col(textCol).isNotNull)
      .select(md5(col(textCol)).as("__d"))
      .join(broadcast(hitDigests.select("__d").distinct()), Seq("__d"), "left_semi")
      .distinct()
    val dupIds = hitDigests
      .join(broadcast(confirmedDigests), Seq("__d"), "left_semi")
      .select(col(idCol)).distinct()
      .withColumn("is_dup", lit(true))
    flagged.join(dupIds, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("is_dup"), lit(false)).as("is_dup"),
        col("bloom_hit"))
  }

  /** Keeper selection over near-dup clusters — the policy step AFTER
    * [[connectedComponents]]: a cluster of near-duplicates keeps exactly
    * one representative, and WHICH one is a quality decision (longest
    * text, best quality score), not an id accident. `order` must be a
    * TOTAL order (append the id as tiebreak) so the keeper is
    * deterministic across partitionings and retries. Emits every input
    * row plus `keeper_id` (the cluster's rank-1 row under `order`) and
    * `is_keeper` — callers filter `is_keeper` to dedup, or keep the full
    * mapping to rewrite references. One window over the cluster key, no
    * extra shuffle beyond it; skewed giant clusters are bounded by the
    * same maxBucketSize caps that bounded the pair generation upstream.
    */
  def keeperSelection(docs: DataFrame, idCol: String, clusterCol: String,
                      order: Seq[Column]): DataFrame = {
    // NULL cluster keys would all land in ONE window partition (SQL
    // window grouping treats NULLs as equal), silently collapsing every
    // unclustered row — a common state after a left join against the
    // component table — to a single keeper. Coalescing the cluster key to
    // the row's own id makes each unclustered row its own singleton
    // cluster (trivially its own keeper), which is the only semantics a
    // caller can mean. The null-flag leg of the struct makes the key
    // collision-proof: a bare coalesce would merge an unclustered row
    // into a real cluster whenever its id equals that cluster's label —
    // impossible for connectedComponents output (labels are member
    // min-ids), but a silent hazard when cluster ids come from another
    // namespace.
    val clusterKey = struct(col(clusterCol).isNull.as("unclustered"),
      coalesce(col(clusterCol), col(idCol)).as("key"))
    val w = Window.partitionBy(clusterKey).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    docs
      .withColumn("keeper_id", first(col(idCol)).over(w))
      .withColumn("is_keeper", col(idCol) === col("keeper_id"))
  }
}
