package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expr.{Int8Exprs, VectorExprs}

/** Vector-similarity search over embedding columns (`Array[Float]`).
  *
  * Brute-force cosine top-k is the exact baseline: queries × corpus as a
  * broadcast nested-loop join (queries are the small side), per-pair dot
  * product in codegen'd higher-order functions, rank-filter before any
  * collect. At 100 TB corpus scale the LSH variant bounds the join: random-
  * hyperplane bucketing (sign-bit signature) turns the cross join into an
  * equi-join on bucket, probing only same-bucket candidates (Charikar 2002
  * SimHash / Indyk-Motwani LSH).
  */
object Similarity {

  /** Cosine similarity of two double-array columns (dot/(|a|·|b|)),
    * via the codegen'd native dot product.
    */
  def cosine(a: Column, b: Column): Column = VectorExprs.cosine(a, b)

  /** Project (id, vector, norm) — hoists the per-row norm out of any pair
    * loop so each candidate pair costs exactly ONE dot product plus one
    * multiply-divide.
    */
  def withNorm(df: DataFrame, idCol: String, vecCol: String,
               outId: String, outVec: String, outNorm: String): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    df.select(col(idCol).as(outId), v.as(outVec), VectorExprs.norm(v).as(outNorm))
  }

  /** The per-query cut every ranking stage ends on: number each query's
    * rows in `order` into `rankCol` and keep ranks ≤ `k`. The top-k tails
    * rank into "rank" (ties to the lower `neighbor_id` as the order's last
    * key); the IVF probe stages cut their `nprobe` cells into "rk".
    */
  private def perQueryTop(df: DataFrame, rankCol: String, k: Int, order: Column*): DataFrame =
    df.withColumn(rankCol, row_number().over(Window.partitionBy("query_id").orderBy(order: _*)))
      .where(col(rankCol) <= k)

  /** Exact top-k neighbors: for each row of `queries`, the k highest-cosine
    * rows of `corpus`. Both inputs need (`idCol`, `vecCol`); queries are
    * broadcast (the small side of the nested-loop join) and norms are
    * computed once per row, not per pair. Returns
    * (query_id, rank, neighbor_id, cosine).
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    // zero-norm/null QUERY vectors are excluded like corpus ones: their
    // cosine is NaN for every candidate, and NaN sorts LARGEST — without
    // the filter such a query emits k garbage "neighbors" ranked 1..k
    val q = broadcast(withNorm(queries, idCol, vecCol, "query_id", "q_vec", "q_n")
      .where(col("q_n") > 0))
    val c = withNorm(graft.Partitioning.balanced(corpus), idCol, vecCol,
      "neighbor_id", "c_vec", "c_n")
      .where(col("c_n") > 0) // NaN cosine would out-rank every real neighbor
    perQueryTop(q.crossJoin(c)
      .withColumn("cosine",
        VectorExprs.dot(col("q_vec"), col("c_vec")) / (col("q_n") * col("c_n"))),
      "rank", k, col("cosine").desc, col("neighbor_id").asc)
      .select("query_id", "rank", "neighbor_id", "cosine")
  }

  /** Random-hyperplane signature: `bits` sign bits packed into a long.
    * Hyperplanes are ±1 vectors generated driver-side from a fixed seed and
    * inlined as array literals, so each bit costs one codegen'd dot product
    * (no interpreted lambdas, no stored model).
    */
  def hyperplaneSignature(vec: Column, dim: Int, bits: Int): Column = {
    require(bits <= 62, "packed signature must fit a long without overflow")
    val rnd = new scala.util.Random(42L * 1000003 + dim * 31 + bits)
    val planes = Seq.fill(bits)(Array.fill(dim)(if (rnd.nextBoolean()) 1.0 else -1.0))
    planes.zipWithIndex.map { case (hp, j) =>
      when(VectorExprs.dot(vec, typedLit(hp.toSeq)) > 0, math.pow(2.0, j).toLong)
        .otherwise(0L)
    }.reduce(_ + _) // sum of distinct powers of two < 2^63 — ANSI-safe
  }

  /** Near-duplicate PAIRS at corpus scale (the scale twin of the exact
    * all-pairs d07 contract): hyperplane-signature bucket equi-join with
    * 1-bit multi-probe on one side, exact-cosine verification of the
    * candidates. All-pairs never materializes — each vector meets only
    * same-bucket and adjacent-bucket (hamming-1) vectors, so the join
    * fan-out is bucket-bounded. Precision is 1.0 by construction (every
    * emitted pair passed the exact threshold); recall for cosine ≥ 0.99
    * at 8 bits is ≈ p^b + b·p^(b-1)(1−p) with p = 1 − θ/π ≈ 0.95
    * (DedupSpec asserts a measured floor on planted near-dups).
    */
  def nearDupPairsLsh(df: DataFrame, idCol: String, vecCol: String,
                      dim: Int, bits: Int, threshold: Double,
                      maxBucketSize: Option[Int] = None,
                      signature: Option[Column => Column] = None): DataFrame = {
    require(bits <= 16, "multi-probe signature is meant to be short")
    val sigOf: Column => Column = signature.getOrElse(hyperplaneSignature(_, dim, bits))
    // ONE signed frame feeds both join sides, so the bits×-dot signature
    // pipeline isn't evaluated twice per row, and — crucially — the skew
    // cap below applies to BOTH sides. A b-side-only cap made pair survival
    // depend on id ORDER (a capped-bucket member could still probe from the
    // a side, so the pair {x, y} existed iff the capped one happened to be
    // id_a) — "dropped wholesale" must mean the member leaves the relation
    // entirely, as in Dedup.lshCandidatePairs's symmetric pre-filter.
    val signed = withNorm(graft.Partitioning.balanced(df), idCol, vecCol,
      "id", "v", "n")
      .where(col("n") > 0) // zero-norm: cosine NaN passes >= threshold in Spark
      .withColumn("bucket", sigOf(col("v")))
    // 100 TB skew guard (same rationale as Dedup.lshCandidatePairs): a
    // degenerate bucket — duplicated embeddings, all-zero vectors — would
    // make the bucket join quadratic in its size; capped buckets are
    // dropped wholesale (their members are exact-dup territory)
    val kept = maxBucketSize match {
      case Some(cap) =>
        // window count reuses the bucket exchange — no second evaluation
        // of the bits× hyperplane-signature dot products
        val w = Window.partitionBy("bucket")
        signed.withColumn("__bsz", count(lit(1)).over(w))
          .where(col("__bsz") <= cap).drop("__bsz")
      case None => signed
    }
    val b = kept.select(col("id").as("id_b"), col("v").as("v_b"),
      col("n").as("n_b"), col("bucket"))
    val a = kept.select(col("id").as("id_a"), col("v").as("v_a"), col("n").as("n_a"),
      explode(concat(array(col("bucket")),
        transform(sequence(lit(0), lit(bits - 1)),
          i => col("bucket").bitwiseXOR(pow(lit(2.0), i).cast("long"))))).as("bucket"))
    // no trailing distinct: each row has ONE exact bucket and the bits+1
    // probe buckets of a signature are pairwise distinct, so a (id_a, id_b)
    // pair can only arise once (assumes idCol is unique, as for every
    // operator here) — a dedup here would only add a full extra shuffle
    a.join(b, "bucket")
      .where(col("id_a") < col("id_b"))
      .withColumn("cosine",
        VectorExprs.dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")))
      .where(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  // --- IVF (inverted-file) — the other classic ANN scale path --------------

  /** Per-row nearest-centroid cell as ONE map-side expression: the centroid
    * matrix rides along as an array literal and the argmax runs inside the
    * row's codegen — no cross-join row duplication, no per-id re-aggregation,
    * and no vector dragged through a shuffle. Ties break to the lowest cell
    * via the (sim, -cell) lexicographic struct max. `vec` need not be
    * normalized: centroids are unit vectors and the row's own norm is a
    * positive constant across cells, so argmax(dot) = argmax(cosine).
    * Returns the INDEX into `centroids` (cells are numbered 0..n-1).
    */
  private def nearestCell(vec: Column, centroids: Array[(Int, Seq[Double])]): Column = {
    require(centroids.nonEmpty, "nearestCell needs at least one centroid")
    // UNROLLED over cells (the hyperplaneSignature idiom), not a transform
    // HOF over a centroid-matrix literal: higher-order functions are
    // CodegenFallback, so the HOF form ran every per-cell dot through an
    // interpreted lambda with boxing — measured ~3× the entire plain-ADC
    // scan on the 200K-vector bench. Unrolled, each cell costs one NATIVE
    // codegen'd dot against its own array literal, and the argmax is a
    // `greatest` over (sim, -cell) structs — same lexicographic tie rule
    // (max sim, then min cell) as the array_max form it replaces.
    val cands = centroids.map { case (i, cvec) =>
      struct(VectorExprs.dot(vec, typedLit(cvec)).as("sim"), lit(-i).as("negCell"))
    }
    val best = if (cands.length == 1) cands.head else greatest(cands.toIndexedSeq: _*)
    (-best.getField("negCell")).cast("int")
  }

  /** Deterministic spherical k-means coarse quantizer: `nlist` centroids,
    * Lloyd's iterations with a fixed count and id-ordered seeding (the
    * `nlist` lowest-id sampled vectors), so training is reproducible
    * run-to-run with no stored model.
    *
    * 100 TB shape: Lloyd's refines cluster SHAPE, which a uniform sample
    * captures as well as the full corpus — training runs on a deterministic
    * md5-gated sample of ~`samplePerCell`·nlist vectors (the d13 gate idiom:
    * seed-stable across runs, engines, and cluster sizes, unlike Bernoulli
    * `sample()` whose RNG is partition-dependent). The corpus is scanned
    * once for the count and once for the gate; every Lloyd iteration then
    * costs O(sample), not O(corpus), and the assignment is the map-side
    * [[nearestCell]] expression — no vectors cross a shuffle, only
    * (cell, pos, value) triples feed the per-dimension mean. Only the
    * nlist × dim centroid table ever touches the driver.
    */
  def ivfTrainCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                        nlist: Int, iters: Int = 3,
                        samplePerCell: Int = 100): Array[(Int, Seq[Double])] = {
    val unitAll = withNorm(graft.Partitioning.balanced(corpus), idCol, vecCol, "id", "v", "n")
      .where(col("n") > 0)
      .select(col("id"), transform(col("v"), x => x / col("n")).as("v"))
    val target = samplePerCell.toLong * nlist
    val total = unitAll.count()
    val sample = (if (total <= target) unitAll else {
      // admitted fraction = thr/16^8: fixed-width lowercase-hex compare is
      // monotone in the hash value, so the gate is uniform and exact in
      // expectation; ceil + clamp keeps at least one admissible prefix
      val thr = math.max(1L, math.min(0xFFFFFFFFL,
        math.ceil(target.toDouble / total * 4294967296.0).toLong))
      unitAll.where(substring(md5(col("id").cast("string")), 1, 8) < f"$thr%08x")
    }).cache()
    // the gate undershooting nlist (tiny corpus, aggressive rate) would drop
    // centroids; fall back to the full (small) corpus in that case
    val train = if (sample.count() >= nlist) sample else unitAll
    var centroids: Array[(Int, Seq[Double])] = train
      .orderBy("id").limit(nlist)
      .collect().zipWithIndex
      .map { case (r, i) => i -> r.getSeq[Double](1) }
    for (_ <- 0 until iters if centroids.nonEmpty) {
      val means = train
        .withColumn("cell", nearestCell(col("v"), centroids))
        .select(col("cell"), posexplode(col("v")))
        // decimal mean, not double: double partial sums depend on partition
        // boundaries (cluster resize / AQE coalesce shifts the last ulp, a
        // boundary vector flips cells next iteration, and the "reproducible
        // run-to-run" contract breaks). Decimal addition is exact, hence
        // order-independent; components are unit-normalized (|x| ≤ 1) and
        // the sample is bounded, so DECIMAL(38,18) cannot overflow.
        .groupBy("cell", "pos")
        .agg(avg(col("col").cast("decimal(38,18)")).cast("double").as("m"))
        .groupBy("cell")
        .agg(map_from_arrays(collect_list("pos"), collect_list("m")).as("byPos"))
        .collect()
      // empty cells drop out; re-number so cell ids stay the positions of
      // the centroid array (what nearestCell returns)
      centroids = means.map { r =>
        val byPos = r.getMap[Int, Double](1)
        val raw = Array.tabulate(byPos.size)(byPos(_))
        val nrm = math.sqrt(raw.map(x => x * x).sum)
        r.getInt(0) -> (if (nrm > 0) raw.map(_ / nrm).toSeq else raw.toSeq)
      }.sortBy(_._1).zipWithIndex.map { case ((_, v), i) => i -> v }
    }
    sample.unpersist()
    centroids
  }

  /** IVF top-k: each query probes its `nprobe` highest-cosine cells and
    * ranks only corpus vectors assigned there — the cell equi-join replaces
    * the brute-force cross join, so each query touches ~nprobe/nlist of the
    * corpus. Same output shape as [[bruteForceTopK]]; exact cosines in the
    * ranking stage (approximation is only in which cells are probed).
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
              nlist: Int, nprobe: Int, k: Int, iters: Int = 3): DataFrame = {
    val centroids = ivfTrainCentroids(corpus, idCol, vecCol, nlist, iters)
    if (centroids.isEmpty) // empty / all-zero-norm corpus: empty result, right schema
      return bruteForceTopK(queries.limit(0), corpus.limit(0), idCol, vecCol, k)
    ivfTopKWithCentroids(queries, corpus, idCol, vecCol, centroids, nprobe, k)
  }

  /** `n` one-hot unit centroids in `dim` dimensions: cell j is the j-th
    * axis, so a vector's dot with it is the coordinate read `v[j]` — what
    * lets the s03b/s04b/s08/s09 oracles replay assignment and probing in
    * SQL.
    */
  def oneHotCentroids(n: Int, dim: Int): Array[(Int, Seq[Double])] =
    Array.tabulate(n)(j => j -> Seq.tabulate(dim)(d => if (d == j) 1.0 else 0.0))

  /** The IVF QUERY path with caller-supplied centroids — what [[ivfTopK]]
    * runs after training. Exposed separately so the probe/assign/rank
    * machinery is testable (and oracle-checkable: s03b feeds it one-hot
    * centroids whose dot products are plain coordinate reads, making
    * assignment, probing, and ranking derivable in SQL).
    */
  def ivfTopKWithCentroids(queries: DataFrame, corpus: DataFrame,
                           idCol: String, vecCol: String,
                           centroids: Array[(Int, Seq[Double])],
                           nprobe: Int, k: Int): DataFrame = {
    // corpus assignment joins on nearestCell's POSITIONAL index while query
    // probes join on the supplied label — a label ≠ position mismatch would
    // silently rank queries against the wrong cells
    require(centroids.zipWithIndex.forall { case ((id, _), i) => id == i },
      "centroid labels must equal their array positions (0..n-1)")
    val spark = corpus.sparkSession
    import spark.implicits._
    val cdf = broadcast(centroids.toSeq.toDF("cell", "c_vec"))

    // map-side cell assignment (argmax inlined per row) — the corpus is
    // scanned ONCE, nothing is duplicated nlist×, and no vector crosses a
    // shuffle before the broadcast probe join below
    val assigned = withNorm(graft.Partitioning.balanced(corpus), idCol, vecCol,
      "neighbor_id", "c_vec", "c_n")
      // a zero-norm vector's cosine is NaN, which Spark orders LARGEST —
      // without this filter it would displace a true neighbor at rank 1
      // of every query probing its cell
      .where(col("c_n") > 0)
      .withColumn("cell", nearestCell(col("c_vec"), centroids))
      .select("cell", "neighbor_id", "c_vec", "c_n")

    val probes = perQueryTop(withNorm(queries, idCol, vecCol, "query_id", "q_vec", "q_n")
      .where(col("q_n") > 0) // a zero-norm query's probe sims are all NaN
      .crossJoin(cdf)
      .withColumn("sim", VectorExprs.dot(col("q_vec"), col("c_vec")) / col("q_n")),
      "rk", nprobe, col("sim").desc, col("cell").asc)
      .select("query_id", "q_vec", "q_n", "cell")

    // no distinct: cells are single-valued per corpus row and a query's
    // probe cells are pairwise distinct, so a candidate appears once
    perQueryTop(broadcast(probes).join(assigned, "cell")
      .withColumn("cosine",
        VectorExprs.dot(col("q_vec"), col("c_vec")) / (col("q_n") * col("c_n")))
      .select("query_id", "neighbor_id", "cosine"),
      "rank", k, col("cosine").desc, col("neighbor_id").asc)
      .select("query_id", "rank", "neighbor_id", "cosine")
  }

  /** Axis-aligned sign signature: bit j = (vec[j] > 0). A degenerate but
    * legitimate hyperplane family (the coordinate planes), and — unlike the
    * seeded random planes — derivable in plain SQL, which is what lets the
    * s02b oracle twin re-verify [[lshTopK]]'s bucket/multi-probe/ranking
    * machinery relationally in DuckDB.
    */
  def axisSignSignature(vec: Column, bits: Int): Column = {
    require(bits <= 62, "packed signature must fit a long without overflow")
    // try_element_at: a vector shorter than `bits` contributes 0-bits for
    // the missing coordinates instead of throwing INVALID_ARRAY_INDEX under
    // ANSI mode — total like the hyperplane family (whose dot product
    // truncates to the shorter length), and exactly what SQL list indexing
    // does (out-of-range → NULL → the CASE's else-0 arm)
    (0 until bits).map(j =>
      when(try_element_at(vec, lit(j + 1)) > 0, lit(1L << j)).otherwise(0L))
      .reduce(_ + _)
  }

  /** Approximate top-k via LSH bucketing with multi-probe fallback: probe
    * the exact bucket plus all 1-bit-flip neighbors (bits+1 probes), rank
    * candidates by exact cosine. Trades recall for pruning the corpus scan:
    * with b bits, each query touches ~ (b+1)/2^b of the corpus in
    * expectation. `signature` swaps the bucketing family (default: seeded
    * random hyperplanes) — the probe/join/rank machinery is family-agnostic.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame,
              idCol: String, vecCol: String, dim: Int, bits: Int, k: Int,
              signature: Option[Column => Column] = None): DataFrame = {
    require(bits <= 16, "multi-probe signature is meant to be short")
    val sigOf: Column => Column = signature.getOrElse(hyperplaneSignature(_, dim, bits))
    // balanced like every sibling: bits× dot products per corpus row on a
    // small-split scan would otherwise serialize onto a few cores
    val c = withNorm(graft.Partitioning.balanced(corpus), idCol, vecCol,
      "neighbor_id", "c_vec", "c_n")
      .where(col("c_n") > 0) // NaN cosine would out-rank every real neighbor
      .withColumn("bucket", sigOf(col("c_vec")))
    // queries fan out to their own bucket + every 1-bit flip (multi-probe);
    // zero-norm queries are excluded (all-NaN cosines would rank 1..k)
    val q = withNorm(queries, idCol, vecCol, "query_id", "q_vec", "q_n")
      .where(col("q_n") > 0)
      .withColumn("sig", sigOf(col("q_vec")))
      .select(col("query_id"), col("q_vec"), col("q_n"),
        explode(concat(array(col("sig")),
          transform(sequence(lit(0), lit(bits - 1)),
            i => col("sig").bitwiseXOR(pow(lit(2.0), i).cast("long"))))).as("bucket"))
    // no distinct: a corpus row has ONE bucket and the bits+1 probe buckets
    // are pairwise distinct, so a candidate pair appears exactly once
    perQueryTop(broadcast(q).join(c, "bucket")
      .withColumn("cosine",
        VectorExprs.dot(col("q_vec"), col("c_vec")) / (col("q_n") * col("c_n")))
      .select("query_id", "neighbor_id", "cosine"),
      "rank", k, col("cosine").desc, col("neighbor_id").asc)
      .select("query_id", "rank", "neighbor_id", "cosine")
  }

  /** Semantic deduplication (SemDeDup, arXiv:2303.09540): cluster the
    * corpus with a coarse quantizer, then WITHIN each cluster drop every
    * vector that has a lower-id neighbor at cosine ≥ `tau`. The keep rule
    * is the paper's independent one — a row survives iff NO lower-id
    * same-cell row is ≥ tau similar (not connected components: of a chain
    * a~b~c with a≁c, both b and c drop, each having its own lower-id
    * near-dup) — so the decision per row is a single aggregate, no
    * iteration.
    *
    * 100 TB shape: the quadratic term is per-cell, bounded by
    * (corpus/nlist)² · nlist — nlist grows with the corpus (SemDeDup uses
    * ~√N clusters) so per-cell work stays flat; the cell equi-join is the
    * only shuffle of vectors and its parallelism is nlist. `maxCellSize`
    * is the skew valve (the LSH-bucket-cap idiom): a degenerate cell —
    * every vector equal, a giant boilerplate cluster — would cost cap²
    * unbounded, so cells above the cap skip pairwise entirely and their
    * rows are KEPT and flagged `cell_capped` (safe degrade: never drops a
    * row it didn't compare; such cells are exact-dup territory, d01's job).
    *
    * Output, one row per corpus row: (id, cell, cell_capped,
    * max_prior_sim, kept). `cell` is null for null/zero-norm vectors
    * (nothing to compare — kept); `max_prior_sim` is the max cosine to any
    * lower-id same-cell row (null if none).
    */
  def semanticDedupWithCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                                 centroids: Array[(Int, Seq[Double])],
                                 tau: Double,
                                 maxCellSize: Option[Int] = None): DataFrame = {
    require(centroids.zipWithIndex.forall { case ((id, _), i) => id == i },
      "centroid labels must equal their array positions (0..n-1)")
    val unit = withNorm(graft.Partitioning.balanced(corpus), idCol, vecCol,
      "id", "v", "n")
      .where(col("n") > 0) // zero-norm: no cosine, no cell — kept via left join
      .withColumn("cell", nearestCell(col("v"), centroids))
    // ≤ nlist rows — broadcast, never a shuffle
    val sizes = broadcast(unit.groupBy("cell").agg(count(lit(1)).as("cell_n")))
    val celled = unit.join(sizes, "cell")
    val eligible = maxCellSize match {
      case Some(cap) => celled.where(col("cell_n") <= cap)
      case None => celled
    }
    val a = eligible.select(col("cell"), col("id").as("a_id"),
      col("v").as("a_v"), col("n").as("a_n"))
    val b = eligible.select(col("cell"), col("id").as("b_id"),
      col("v").as("b_v"), col("n").as("b_n"))
    val maxPrior = a.join(b, Seq("cell"))
      .where(col("b_id") < col("a_id"))
      .groupBy(col("a_id").as("id"))
      .agg(max(VectorExprs.dot(col("a_v"), col("b_v")) / (col("a_n") * col("b_n")))
        .as("max_prior_sim"))
    val capped: Column = maxCellSize match {
      case Some(cap) => coalesce(col("cell_n") > cap, lit(false))
      case None => lit(false)
    }
    corpus.select(col(idCol).as("id"))
      .join(celled.select("id", "cell", "cell_n"), Seq("id"), "left")
      .join(maxPrior, Seq("id"), "left")
      .select(col("id"), col("cell"), capped.as("cell_capped"),
        col("max_prior_sim"),
        (capped || col("max_prior_sim").isNull ||
          col("max_prior_sim") < tau).as("kept"))
  }

  /** [[semanticDedupWithCentroids]] behind the deterministic sampled-kmeans
    * quantizer — the production entry point. An empty/all-zero-norm corpus
    * trains no centroids: every row is kept with a null cell.
    */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
                    nlist: Int, tau: Double, iters: Int = 3,
                    maxCellSize: Option[Int] = None): DataFrame = {
    val centroids = ivfTrainCentroids(corpus, idCol, vecCol, nlist, iters)
    if (centroids.isEmpty)
      corpus.select(col(idCol).as("id"),
        lit(null).cast("int").as("cell"), lit(false).as("cell_capped"),
        lit(null).cast("double").as("max_prior_sim"), lit(true).as("kept"))
    else
      semanticDedupWithCentroids(corpus, idCol, vecCol, centroids, tau, maxCellSize)
  }

  // ------------------------------------------------------------------
  // Int8 scalar-quantized ANN (FAISS-SQ8 shape)
  // ------------------------------------------------------------------

  /** Project (id, int8 code vector, reconstruction scale) — the quantized
    * representation candidate ranking runs on. `codes` is a flat `binary`
    * (one signed byte per dimension, 8× smaller than the `array<double>`
    * it replaces in every exchange/broadcast/cache) and `scale` is the
    * per-vector `max|vᵢ|/127` that maps integer dots back to value space.
    * With `normalize=true` the vector is unit-normalized BEFORE
    * quantization, so the approximate dot approximates cosine (zero-norm
    * rows quantize to all-zero codes with scale 0, never ranking above a
    * real neighbor).
    */
  def int8Quantized(df: DataFrame, idCol: String, vecCol: String,
                    outId: String, outCodes: String, outScale: String,
                    normalize: Boolean = false): DataFrame = {
    val raw = col(vecCol).cast("array<double>")
    val v =
      if (!normalize) raw
      else {
        val n = VectorExprs.norm(raw)
        when(n > 0, transform(raw, x => x / n)).otherwise(transform(raw, x => x * 0.0))
      }
    df.select(col(idCol).as(outId), Int8Exprs.pack(v).as(outCodes),
      (array_max(transform(v, x => abs(x))) / 127.0).as(outScale))
  }

  /** Approximate top-k by int8-quantized dot product: rank each query's
    * candidates by `(scale_q * scale_c) * Σ code_qᵢ·code_cᵢ`, ties to the
    * lower neighbor id. With `normalize=false` (the s05 oracle form) the
    * score approximates the RAW dot product and every step — max-abs,
    * `floor(x*127/m + 0.5)` codes, integer dot, two-scale product — is an
    * exactly-rounded IEEE pipeline DuckDB replays bit-for-bit; with
    * `normalize=true` it approximates cosine (recall vs the exact
    * baseline pinned in `Int8AnnSpec`).
    *
    * Returns (query_id, rank, neighbor_id, qdot, score): `qdot` is the
    * exact integer dot (the hash-matched currency), `score` its
    * value-space reconstruction.
    */
  def int8TopK(queries: DataFrame, corpus: DataFrame,
               idCol: String, vecCol: String, k: Int,
               normalize: Boolean = false): DataFrame = {
    val q = broadcast(
      int8Quantized(queries, idCol, vecCol, "query_id", "q_codes", "q_scale", normalize))
    // encode BEFORE balancing: the round-robin exchange that spreads the
    // scan for the scoring join then carries 64 B codes + one scale, not
    // 512 B of raw doubles — at corpus scale the balance shuffle is the
    // only place vectors could ride the wire, and now they don't
    // (PLANCHECK `ann_codes_only_shuffles_s05_s09`). Encode parallelism
    // follows scan partitioning, which maxPartitionBytes bounds at scale.
    val c = graft.Partitioning.balanced(int8Quantized(corpus, idCol, vecCol,
      "neighbor_id", "c_codes", "c_scale", normalize))
    perQueryTop(q.crossJoin(c)
      .withColumn("qdot", Int8Exprs.dotI8(col("q_codes"), col("c_codes")))
      .withColumn("score",
        (col("q_scale") * col("c_scale")) * col("qdot").cast("double")),
      "rank", k, col("score").desc, col("neighbor_id").asc)
      .select("query_id", "rank", "neighbor_id", "qdot", "score")
  }

  // ------------------------------------------------------------------
  // Product quantization (PQ / ADC — Jégou et al., TPAMI 2011)
  // ------------------------------------------------------------------

  /** PQ model: `numSub` subvectors of `ds` dims, each with a `ksub`-entry
    * codebook. A vector encodes as `numSub` small ints (2 bits per code at
    * ksub=4, one byte at ksub=256) — for 64-dim doubles that is 512 bytes
    * → `numSub` bytes, the compression that lets a 100 TB corpus's codes
    * live in executor memory while full vectors stay in cold storage.
    */
  case class PqCodebooks(numSub: Int, ksub: Int, ds: Int,
                         cb: IndexedSeq[IndexedSeq[IndexedSeq[Double]]]) {
    require(cb.length == numSub && cb.forall(_.length == ksub) &&
      cb.forall(_.forall(_.length == ds)), "codebook shape mismatch")
  }

  /** Deterministic literal codebooks on the exact-binary quarter grid:
    * c[m][j][d] = ((m + j + d) % ksub') · 0.5 − 0.75. Every value is a
    * multiple of 1/4, so its decimal text round-trips exactly through SQL
    * parsing — the property the s06 oracle needs to replay encoding and
    * ADC bit-for-bit (and the fallback when a corpus is too small to
    * train).
    */
  def pqFixedCodebooks(dim: Int, numSub: Int, ksub: Int): PqCodebooks = {
    require(dim % numSub == 0, s"dim $dim not divisible by $numSub subvectors")
    val ds = dim / numSub
    PqCodebooks(numSub, ksub, ds,
      IndexedSeq.tabulate(numSub, ksub, ds)((m, j, d) => ((m + j + d) % 4) * 0.5 - 0.75))
  }

  private[sim] def cbLit(cb: PqCodebooks): Column = typedLit(cb.cb.map(_.map(_.toSeq).toSeq).toSeq)

  /** Encode a vector as its `numSub` nearest-codeword indices (L2 per
    * subvector, ties to the LOWEST index via first-position-of-min — the
    * same rule `list_position(l, list_min(l))` replays in DuckDB). The
    * fold over dimensions is left-assoc in index order, so the distances
    * are bit-identical across engines. A vector shorter than the model's
    * `numSub·ds` dims encodes as NULL.
    *
    * Native codegen'd expression (round 17): the staged HOF form
    * (`PqStaged.pqEncodeStaged`, in the test tree) is
    * CodegenFallback — all `numSub·ksub·ds` terms ran through interpreted
    * lambdas per CORPUS ROW, and encoding dominated the 1M-vector ANN
    * arms (ann_pq_encode_1m ≈ the whole ann_pq_1m wall). Values are
    * bit-identical (PqExprsSpec pins native ≡ staged and interpreted ≡
    * codegen; the s06/s08/s09 oracles replay the codes in DuckDB).
    */
  def pqEncode(vec: Column, cb: PqCodebooks): Column =
    graft.expr.PqExprs.pqEncode(vec, cb.numSub, cb.ksub, cb.ds, cb.cb)

  /** Per-query ADC lookup table: entry `m·ksub + j` is the dot of the
    * query's m-th subvector with codeword j — computed ONCE per query,
    * then every candidate costs `numSub` table lookups instead of a
    * `dim`-wide dot (the asymmetric-distance trick that makes PQ scanning
    * memory-bound rather than compute-bound).
    */
  def pqAdcLut(qv: Column, cb: PqCodebooks): Column = {
    val cmat = cbLit(cb)
    val lut = transform(sequence(lit(0), lit(cb.numSub * cb.ksub - 1)), idx => {
      val m = (idx / cb.ksub).cast("int")
      val j = (idx % cb.ksub).cast("int")
      aggregate(sequence(lit(0), lit(cb.ds - 1)), lit(0.0), (acc, d) =>
        acc + element_at(qv, m * cb.ds + d + 1) *
          element_at(element_at(element_at(cmat, m + 1), j + 1), d + 1))
    })
    // same ANSI guard as pqEncode: a short query vector yields a NULL LUT
    // (every candidate scores null → the query returns nothing) instead of
    // throwing INVALID_ARRAY_INDEX mid-scan
    when(size(qv) >= cb.numSub * cb.ds, lut).otherwise(lit(null).cast("array<double>"))
  }

  /** Approximate top-k by PQ/ADC: corpus rows carry only their codes, each
    * pair is scored as Σₘ lut[m·ksub + codeₘ] (≈ the raw dot product),
    * rank ties to the lower neighbor id. `code_key` packs the full code
    * word as Σₘ codeₘ·ksubᵐ — an exact integer the oracle hash-matches, so
    * a single flipped assignment anywhere fails the gate. Returns
    * (query_id, rank, neighbor_id, code_key, score).
    */
  def pqTopKADC(queries: DataFrame, corpus: DataFrame,
                idCol: String, vecCol: String, cb: PqCodebooks, k: Int): DataFrame = {
    // encode before balancing — the balance exchange ships numSub small
    // ints per row, never the raw vector (see int8TopK's note)
    val c = graft.Partitioning.balanced(corpus.select(
      col(idCol).as("neighbor_id"),
      pqEncode(col(vecCol).cast("array<double>"), cb).as("codes")))
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      pqAdcLut(col(vecCol).cast("array<double>"), cb).as("lut")))
    adcTopK(q.crossJoin(c), cb, lit(0.0), k)
  }

  /** The ADC scoring tail shared by [[pqTopKADC]] and the IVFADC query
    * path: candidate pairs carrying `codes` and their query's `lut` are
    * scored `seed + Σₘ lut[m·ksub + codeₘ]` (the native ADC sum, folded
    * left from `seed`; the staged aggregate() form ran interpreted per
    * CANDIDATE PAIR, bit-identity spec-pinned), packed into `code_key`
    * and cut per query. Returns (query_id, rank, neighbor_id, `keep`…,
    * code_key, score).
    */
  private def adcTopK(pairs: DataFrame, cb: PqCodebooks, seed: Column, k: Int,
                      keep: String*): DataFrame = {
    val codeKey = (0 until cb.numSub).map(m =>
      element_at(col("codes"), m + 1).cast("long") *
        lit(math.pow(cb.ksub.toDouble, m.toDouble).toLong))
      .reduce(_ + _)
    perQueryTop(pairs
      .withColumn("score",
        graft.expr.PqExprs.adcScore(col("codes"), col("lut"), seed, cb.numSub, cb.ksub))
      .withColumn("code_key", codeKey),
      "rank", k, col("score").desc, col("neighbor_id").asc)
      .select((Seq("query_id", "rank", "neighbor_id") ++ keep ++ Seq("code_key", "score"))
        .map(col): _*)
  }

  /** The exact re-rank (the "R" of ADC+R) shared by [[pqTopKADCRerank]]
    * and [[ivfPqTopKRerank]]: fetch the full vectors of the
    * (query_id, neighbor_id) shortlist `cands` and rank it by the exact
    * dot. Returns (query_id, rank, neighbor_id, dot).
    */
  private def exactRerank(cands: DataFrame, queries: DataFrame, corpus: DataFrame,
                          idCol: String, vecCol: String, k: Int): DataFrame = {
    val cv = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv"))
    val qv = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv")))
    perQueryTop(cands.select("query_id", "neighbor_id")
      .join(cv, Seq("neighbor_id")).join(qv, Seq("query_id"))
      .withColumn("dot", VectorExprs.dot(col("qv"), col("cv"))),
      "rank", k, col("dot").desc, col("neighbor_id").asc)
      .select("query_id", "rank", "neighbor_id", "dot")
  }

  // ------------------------------------------------------------------
  // Binary (1-bit) quantization — the far end of the compression ladder
  // ------------------------------------------------------------------

  /** 63-bit sign code: bit d (0-based) is `v[d] > 0`, Horner-packed MSB
    * first so the fold never touches the long's sign bit (the SimHash63
    * ANSI-overflow discipline — Spark 4 runs ANSI mode, and `acc*2` on a
    * set top bit would throw). One BIGINT per vector: 8 bytes against 512
    * for the doubles — the shuffle/cache footprint at which a 100 TB
    * corpus's entire code table fits in one executor's memory. Exactly
    * mirrorable in SQL, so the s07 ranking is oracle'd end to end.
    * Vectors shorter than 63 dims contribute 0-bits for the missing
    * coordinates (`try_element_at`: out-of-range → null → the otherwise-0
    * arm, the same total semantics as SQL list indexing) instead of
    * throwing INVALID_ARRAY_INDEX under ANSI mode.
    */
  def signCode63(vec: Column): Column =
    aggregate(sequence(lit(1), lit(63)), lit(0L), (acc, i) =>
      acc * 2L + when(try_element_at(vec, lit(64) - i) > 0.0, 1L).otherwise(0L))

  /** Approximate top-k by Hamming distance between sign codes (Charikar
    * 2002: angular distance ∝ expected sign disagreements): corpus rows
    * carry ONE long, each candidate costs an XOR + popcount. Ties break to
    * the lower neighbor id. Returns (query_id, rank, neighbor_id,
    * hamming) — all exact integers, hash-matched by the s07 oracle.
    */
  def binaryTopK(queries: DataFrame, corpus: DataFrame,
                 idCol: String, vecCol: String, k: Int): DataFrame = {
    def coded(df: DataFrame, outId: String) = df.select(col(idCol).as(outId),
      signCode63(col(vecCol).cast("array<double>")).as(s"${outId}_code"))
    val q = broadcast(coded(queries, "query_id"))
    // encode before balancing — 8 B/row through the exchange, not 512
    val c = graft.Partitioning.balanced(coded(corpus, "neighbor_id"))
    perQueryTop(q.crossJoin(c)
      .withColumn("hamming",
        bit_count(col("query_id_code").bitwiseXOR(col("neighbor_id_code")))),
      "rank", k, col("hamming").asc, col("neighbor_id").asc)
      .select("query_id", "rank", "neighbor_id", "hamming")
  }

  /** PQ with exact re-ranking (ADC+R, Jégou 2011 §VII): ADC selects a
    * `shortlist`-sized candidate set from codes alone, then ONLY those
    * candidates' full vectors are fetched and scored with the exact dot.
    * This is the production PQ serving shape — quantization noise drowns
    * small top-k margins (ADC recall@3 on weak-margin corpora is low even
    * though the shortlist contains the true neighbors), and the re-rank
    * touches `|queries|·shortlist` vectors instead of the corpus. Returns
    * (query_id, rank, neighbor_id, dot).
    */
  def pqTopKADCRerank(queries: DataFrame, corpus: DataFrame,
                      idCol: String, vecCol: String, cb: PqCodebooks,
                      k: Int, shortlist: Int = 50): DataFrame = {
    exactRerank(pqTopKADC(queries, corpus, idCol, vecCol, cb, shortlist),
      queries, corpus, idCol, vecCol, k)
  }

  // ------------------------------------------------------------------
  // IVFADC — coarse quantizer × PQ/ADC (Jégou et al., TPAMI 2011 §V)
  // ------------------------------------------------------------------

  /** IVFADC: the composition [[pqTopKADC]] exists to enable at 100 TB.
    * Plain ADC still scans the ENTIRE codes table per query (memory-bound
    * but O(corpus)); here the coarse quantizer restricts that scan to the
    * query's `nprobe` probed cells, so per-query work is ~nprobe/nlist of
    * the corpus while the corpus itself still carries only codes.
    *
    * Plan shape: ONE corpus scan computes cell assignment ([[nearestCell]],
    * argmax inlined per row) AND the PQ codes map-side — only
    * (cell, neighbor_id, codes) survives into the cell equi-join, so at
    * scale the shuffled/broadcast payload is `numSub` small ints per
    * vector, never the doubles. Queries rank the broadcast centroid table
    * for their `nprobe` cells, build their ADC LUT once, and the broadcast
    * probe join + LUT scoring replaces the cross join. Non-residual
    * variant: codes quantize the raw vector, not (vector − centroid), so
    * the same codebooks serve every cell and the oracle can replay
    * encoding and the ADC chain with the s06 machinery.
    *
    * Returns (query_id, rank, neighbor_id, cell, code_key, score):
    * `cell` pins the assignment, `code_key` the full code word, `score`
    * the ADC sum — with one-hot centroids + exact-binary codebooks all
    * three are SQL-derivable, which is what the s08 oracle hash-matches.
    */
  def ivfPqTopKWithModel(queries: DataFrame, corpus: DataFrame,
                         idCol: String, vecCol: String,
                         centroids: Array[(Int, Seq[Double])],
                         cb: PqCodebooks, nprobe: Int, k: Int): DataFrame =
    ivfPqQuery(queries, corpus, idCol, vecCol, centroids, cb, nprobe, k, residual = false)

  /** Residual IVFADC — the composition as Jégou et al. actually publish
    * it (TPAMI 2011 §V.A): the PQ codes quantize the RESIDUAL v − c(v)
    * rather than the raw vector. Residuals concentrate around the origin
    * (the coarse quantizer has already absorbed the between-cell
    * variance), so the same codebook budget spends its codewords on a
    * much smaller ball — higher recall at identical bytes/vector
    * (IvfPqAnnSpec measures the win on the clustered corpus).
    *
    * Scoring stays LUT-shaped with no extra per-pair work: for v = c + r,
    * dot(q, v) = dot(q, c) + dot(q, r) — the first term is the probe
    * similarity the query already computed for cell ranking (exact, per
    * probed cell), the second is the ordinary ADC sum of the RAW query's
    * LUT over the residual codes. The Spark fold seeds the ADC
    * accumulation with `sim`, so the s09 oracle replays the whole chain
    * left-associated term for term. Same plan shape as the non-residual
    * form; the only additions are a broadcast centroid join (map-side)
    * before encoding and one zip_with subtraction.
    */
  def ivfPqTopKResidualWithModel(queries: DataFrame, corpus: DataFrame,
                                 idCol: String, vecCol: String,
                                 centroids: Array[(Int, Seq[Double])],
                                 cb: PqCodebooks, nprobe: Int, k: Int): DataFrame =
    ivfPqQuery(queries, corpus, idCol, vecCol, centroids, cb, nprobe, k, residual = true)

  /** The one IVFADC query path behind [[ivfPqTopKWithModel]] and
    * [[ivfPqTopKResidualWithModel]]. The two forms differ only in what the
    * codes quantize (`v`, or the residual `v − c(v)`) and in the ADC seed
    * (0.0, or the probe similarity `sim` = dot(q, c)).
    */
  private def ivfPqQuery(queries: DataFrame, corpus: DataFrame,
                         idCol: String, vecCol: String,
                         centroids: Array[(Int, Seq[Double])],
                         cb: PqCodebooks, nprobe: Int, k: Int,
                         residual: Boolean): DataFrame = {
    require(centroids.zipWithIndex.forall { case ((id, _), i) => id == i },
      "centroid labels must equal their array positions (0..n-1)")
    val spark = corpus.sparkSession
    import spark.implicits._
    val cdf = broadcast(centroids.toSeq.toDF("cell", "c_vec"))

    // one corpus scan: map-side assignment + encoding, codes-only output —
    // encoded BEFORE the balance exchange, so the shuffle that spreads the
    // probe join carries (cell, id, codes), never the raw doubles
    val vecs = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).cast("array<double>").as("v"))
      .where(col("v").isNotNull) // null vector: no cell, no codes — excluded
    val assigned = graft.Partitioning.balanced(
      if (!residual)
        vecs.select(nearestCell(col("v"), centroids).as("cell"),
          col("neighbor_id"), pqEncode(col("v"), cb).as("codes"))
      else vecs
        .select(nearestCell(col("v"), centroids).as("cell"), col("neighbor_id"), col("v"))
        .join(cdf, "cell") // the cell's centroid, fetched map-side (broadcast)
        // residual as its OWN projection before encoding: authored inline,
        // the zip_with would be re-evaluated by every one of pqEncode's
        // numSub·ksub·ds element_at terms (the HOF re-evaluation trap —
        // measured 12× on the quantization-ladder corpus). As a separate
        // non-cheap multi-referenced column, CollapseProject keeps it
        // materialized once per row.
        .select(col("cell"), col("neighbor_id"),
          zip_with(col("v"), col("c_vec"), (a, b) => a - b).as("rv"))
        .select(col("cell"), col("neighbor_id"), pqEncode(col("rv"), cb).as("codes")))

    // probe ranking on the raw dot: centroids are unit-normalized, the
    // query's own norm is a positive per-query constant, so the nprobe
    // order equals the cosine order without a division (and stays exactly
    // replayable for one-hot centroids: sim = a coordinate read)
    def queryVecs = queries
      .select(col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("qv"))
      .where(col("qv").isNotNull)
    // the LUT (always the RAW query's: dot(q, r̂) is what the residual ADC
    // sum reconstructs) lives in its OWN per-query broadcast frame, joined
    // back in AFTER the nprobe cut: the window's hash exchange then carries
    // only (query_id, cell, sim) scalars — no vector array rides ANY
    // shuffle in this plan (one LUT copy per query, better than nprobe
    // copies)
    val qlut = broadcast(queryVecs.select(col("query_id"), pqAdcLut(col("qv"), cb).as("lut")))
    val probes = perQueryTop(queryVecs
      .crossJoin(cdf)
      .withColumn("sim", VectorExprs.dot(col("qv"), col("c_vec")))
      .select("query_id", "cell", "sim"),
      "rk", nprobe, col("sim").desc, col("cell").asc)
      .join(qlut, "query_id")
      .select((Seq("query_id", "lut", "cell") ++ (if (residual) Seq("sim") else Nil))
        .map(col): _*)

    // no distinct: corpus cells are single-valued and a query's probe
    // cells pairwise distinct, so a candidate appears exactly once. The
    // residual score seeds the ADC sum with sim: ((sim + t0) + t1) + … —
    // the association the generated oracle SQL replays
    adcTopK(broadcast(probes).join(assigned, "cell"), cb,
      if (residual) col("sim") else lit(0.0), k, "cell")
  }

  /** Residual IVFADC behind the trainers. The coarse stage trains the
    * usual spherical (unit-normalized) centroids, but the model the
    * residual form receives is the per-cell MEAN of the assigned vectors:
    * residuals against a unit centroid keep the whole radial component
    * (‖v‖ ≫ 1 ⇒ v − ĉ is still far from the origin) and the encoding
    * advantage evaporates, while residuals against the cell mean center on
    * the origin — the property the tighter codeword budget spends on
    * (Jégou's L2 formulation has this for free; the dot-scoring world has
    * to subtract the mean explicitly). Assignment, probing, and the score
    * seed then all use the means, which keeps the
    * dot(q,v) = dot(q,µ) + dot(q,r) decomposition exact. Codebooks are
    * trained on the residual frame — the model must fit what it encodes.
    * The cell-mean pass is one relational aggregate (nlist·dim partial
    * rows, decimal means for run-to-run determinism).
    */
  def ivfPqTopKResidual(queries: DataFrame, corpus: DataFrame,
                        idCol: String, vecCol: String,
                        nlist: Int, nprobe: Int, numSub: Int, ksub: Int, k: Int,
                        iters: Int = 3): DataFrame = {
    val (means, cb) = ivfPqResidualModel(corpus, idCol, vecCol, nlist, numSub, ksub, iters)
    ivfPqTrained(queries, corpus, idCol, vecCol, means, cb, nprobe, k, residual = true)
  }

  /** [[ivfPqQuery]] over a trained model; a model with no cells (an empty /
    * all-null corpus) gives the empty result with the right schema.
    */
  private def ivfPqTrained(queries: DataFrame, corpus: DataFrame,
                           idCol: String, vecCol: String,
                           centroids: Array[(Int, Seq[Double])],
                           cb: PqCodebooks, nprobe: Int, k: Int,
                           residual: Boolean): DataFrame =
    if (centroids.isEmpty)
      ivfPqQuery(queries.limit(0), corpus.limit(0), idCol, vecCol,
        Array(0 -> Seq.fill(cb.numSub * cb.ds)(0.0)), cb, nprobe, k, residual)
    else ivfPqQuery(queries, corpus, idCol, vecCol, centroids, cb, nprobe, k, residual)

  /** Trains the residual model: (cell means, residual-trained codebooks).
    * Exposed separately so benches/pipelines can train once and reuse the
    * model across query batches (training collects O(nlist·dim) means and
    * an O(sample) codebook fit — never the corpus).
    */
  def ivfPqResidualModel(corpus: DataFrame, idCol: String, vecCol: String,
                         nlist: Int, numSub: Int, ksub: Int,
                         iters: Int = 3): (Array[(Int, Seq[Double])], PqCodebooks) = {
    val unitCentroids = ivfTrainCentroids(corpus, idCol, vecCol, nlist, iters)
    if (unitCentroids.isEmpty)
      return (Array.empty, pqTrainCodebooks(corpus, idCol, vecCol, numSub, ksub, iters))
    val spark = corpus.sparkSession
    import spark.implicits._
    val vecs = corpus
      .select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
      .where(col("__v").isNotNull)
    val meanRows = vecs
      .select(nearestCell(col("__v"), unitCentroids).as("cell"),
        posexplode(col("__v")))
      .groupBy("cell", "pos")
      .agg(avg(col("col").cast("decimal(38,18)")).cast("double").as("m"))
      .groupBy("cell")
      .agg(map_from_arrays(collect_list("pos"), collect_list("m")).as("byPos"))
      .collect()
    // empty cells drop; re-number so ids equal array positions (the
    // WithModel contract)
    val means: Array[(Int, Seq[Double])] = meanRows.map { r =>
      val byPos = r.getMap[Int, Double](1)
      r.getInt(0) -> Seq.tabulate(byPos.size)(byPos(_))
    }.sortBy(_._1).zipWithIndex.map { case ((_, v), i) => i -> v }
    val cdf = broadcast(means.toSeq.toDF("cell", "c_vec"))
    val residuals = vecs
      .select(col(idCol), nearestCell(col("__v"), means).as("cell"), col("__v"))
      .join(cdf, "cell")
      .select(col(idCol),
        zip_with(col("__v"), col("c_vec"), (a, b) => a - b).as(vecCol))
    (means, pqTrainCodebooks(residuals, idCol, vecCol, numSub, ksub, iters))
  }

  /** DuckDB twin of [[ivfPqTopKResidualWithModel]] under 8 one-hot
    * centroids — the [[ivfPqOracleSql]] machinery with two changes that
    * mirror the Spark form exactly: encoding subtracts the one-hot
    * centroid coordinate before the codeword (same subtraction order as
    * the zip_with), and the score chain is seeded with the probe
    * similarity `v[cell + 1]` (one-hot dot = a coordinate read) before
    * the ADC terms.
    */
  def ivfPqResidualOracleSql(cb: PqCodebooks, nprobe: Int, k: Int): String =
    adcOracleSql(cb, k, Some(nprobe -> true))

  /** IVFADC behind the deterministic trainers — the production entry:
    * spherical-kmeans coarse cells ([[ivfTrainCentroids]]) + per-subvector
    * Lloyd's codebooks ([[pqTrainCodebooks]]), both O(sample) per
    * iteration. An empty / all-null corpus yields an empty result with the
    * right schema.
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame,
                idCol: String, vecCol: String,
                nlist: Int, nprobe: Int, numSub: Int, ksub: Int, k: Int,
                iters: Int = 3): DataFrame = {
    val centroids = ivfTrainCentroids(corpus, idCol, vecCol, nlist, iters)
    val cb = pqTrainCodebooks(corpus, idCol, vecCol, numSub, ksub, iters)
    ivfPqTrained(queries, corpus, idCol, vecCol, centroids, cb, nprobe, k, residual = false)
  }

  /** IVFADC+R: the probed-cell ADC scan selects a `shortlist` per query,
    * then ONLY those candidates' full vectors are fetched and re-ranked by
    * the exact dot (the [[pqTopKADCRerank]] discipline composed with the
    * coarse stage) — per-query work is nprobe/nlist of the codes plus
    * `shortlist` full vectors. Returns (query_id, rank, neighbor_id, dot).
    */
  def ivfPqTopKRerank(queries: DataFrame, corpus: DataFrame,
                      idCol: String, vecCol: String,
                      centroids: Array[(Int, Seq[Double])],
                      cb: PqCodebooks, nprobe: Int, k: Int,
                      shortlist: Int = 50): DataFrame = {
    exactRerank(ivfPqTopKWithModel(queries, corpus, idCol, vecCol,
      centroids, cb, nprobe, shortlist), queries, corpus, idCol, vecCol, k)
  }

  /** DuckDB twin of [[ivfPqTopKWithModel]] under 8 one-hot centroids —
    * GENERATED from the same codebooks (the [[pqOracleSql]] machinery
    * composed with the s03b probe CTEs): cell = argmax of the first 8
    * coordinates (first-of-max ties, [[nearestCell]]'s rule), probes =
    * the query's top-`nprobe` coordinates (same order), then encoding,
    * code_key, and the ADC chain replayed term for term WITHIN probed
    * cells only.
    */
  def ivfPqOracleSql(cb: PqCodebooks, nprobe: Int, k: Int): String =
    adcOracleSql(cb, k, Some(nprobe -> false))

  /** DuckDB twin of [[pqEncode]] + [[pqTopKADC]] over the embeddings
    * table — GENERATED from the same codebooks so the two can never
    * drift. Distances, argmin ties (`list_position` of `list_min` =
    * first-of-min, the [[pqEncode]] rule), the packed `code_key`, and the
    * ADC sum are all left-assoc chains matching the Spark folds term for
    * term, so with exact-binary codebook literals (e.g.
    * [[pqFixedCodebooks]]' quarters) the replay is bit-for-bit.
    */
  def pqOracleSql(cb: PqCodebooks, k: Int): String = adcOracleSql(cb, k, None)

  /** The one generator behind [[pqOracleSql]] (`ivf` = None: every query
    * against every code), [[ivfPqOracleSql]] (`ivf` = Some(nprobe ->
    * false)) and [[ivfPqResidualOracleSql]] (Some(nprobe -> true)). The
    * IVF forms assign cells and probe the query's top-`nprobe` one-hot
    * cells; the residual form also encodes `v − c(v)` and seeds the score
    * chain with the probe similarity `v[cell + 1]`.
    */
  private def adcOracleSql(cb: PqCodebooks, k: Int, ivf: Option[(Int, Boolean)]): String = {
    val M = cb.numSub; val K = cb.ksub; val ds = cb.ds
    val residual = ivf.exists(_._2)
    // the coordinate encoding reads: raw, or minus the one-hot centroid's
    // coordinate (the zip_with's subtraction order)
    def x(coord: Int): String =
      if (residual) s"(v[${coord + 1}] - (CASE WHEN cell = $coord THEN 1.0 ELSE 0.0 END))"
      else s"v[${coord + 1}]"
    def sq(m: Int, j: Int): String =
      (0 until ds).map { d =>
        val c = cb.cb(m)(j)(d)
        val xd = x(m * ds + d)
        s"($xd - $c) * ($xd - $c)"
      }.mkString(" + ")
    def code(m: Int): String = {
      val lst = (0 until K).map(j => s"(${sq(m, j)})").mkString("[", ", ", "]")
      s"(list_position($lst, list_min($lst)) - 1)"
    }
    val qv = if (ivf.isEmpty) "q.v" else "p.v"
    def dot(m: Int, j: Int): String =
      (0 until ds).map { d =>
        s"$qv[${m * ds + d + 1}] * ${cb.cb(m)(j)(d)}"
      }.mkString(" + ")
    def scoreTerm(m: Int): String =
      s"(CASE enc.c$m " +
        (0 until K).map(j => s"WHEN $j THEN ${dot(m, j)}").mkString(" ") +
        " END)"
    val encCols = (0 until M).map(m => s"${code(m)} AS c$m").mkString(",\n         ")
    val keyExpr = (0 until M).map(m =>
      s"CAST(enc.c$m AS BIGINT) * ${math.pow(K.toDouble, m.toDouble).toLong}")
      .mkString(" + ")
    val scoreExpr = (if (residual) "p.v[p.cell + 1] + " else "") +
      (0 until M).map(scoreTerm).mkString(" + ")
    // cell = argmax of the first 8 coordinates, first-of-max ties
    val cellCol = "CAST(list_indexof(v[1:8], list_max(v[1:8])) - 1 AS INT) AS cell"
    val enc = ivf match {
      case None =>
        s"""enc AS (
           |  SELECT neighbor_id,
           |         $encCols
           |  FROM c),""".stripMargin
      case Some((_, false)) =>
        s"""enc AS (
           |  SELECT neighbor_id,
           |         $cellCol,
           |         $encCols
           |  FROM c),""".stripMargin
      case Some((_, true)) =>
        s"""enc0 AS (
           |  SELECT neighbor_id,
           |         $cellCol,
           |         v
           |  FROM c),
           |enc AS (
           |  SELECT neighbor_id, cell,
           |         $encCols
           |  FROM enc0),""".stripMargin
    }
    val (probes, pairCols, pairsFrom, cell) = ivf match {
      case None => ("", "q.query_id, enc.neighbor_id,", "q CROSS JOIN enc", "")
      case Some((nprobe, _)) =>
        (s"""
           |qp AS (SELECT query_id, v, CAST(j AS INT) AS cell,
           |              row_number() OVER (PARTITION BY query_id
           |                ORDER BY v[j+1] DESC, j ASC) AS rk
           |       FROM q, range(8) t(j)),
           |probes AS (SELECT query_id, v, cell FROM qp WHERE rk <= $nprobe),""".stripMargin,
          "p.query_id, enc.neighbor_id, enc.cell,", "probes p JOIN enc USING (cell)", "cell, ")
    }
    s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 10),
       |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id >= 10),
       |""".stripMargin + enc + probes +
      s"""
         |pairs AS (
         |  SELECT $pairCols
         |         $keyExpr AS code_key,
         |         $scoreExpr AS score
         |  FROM $pairsFrom),
         |ranked AS (
         |  SELECT query_id, neighbor_id, ${cell}code_key, score,
         |         CAST(row_number() OVER (PARTITION BY query_id
         |                                 ORDER BY score DESC, neighbor_id ASC) AS INT) AS rank
         |  FROM pairs)
         |SELECT query_id, rank, neighbor_id, ${cell}code_key, round(score, 4) AS score
         |FROM ranked WHERE rank <= $k
         |ORDER BY query_id, rank""".stripMargin
  }

  /** Deterministic PQ training: per-subvector Lloyd's on the same
    * md5-gated sample discipline as [[ivfTrainCentroids]] (seed-stable,
    * O(sample) per iteration, decimal means so partition boundaries can't
    * shift an ulp), initialized from the `ksub` lowest-id sampled vectors.
    * Empty codewords keep their previous centroid (codes are POSITIONS —
    * renumbering would corrupt every stored code). Falls back to
    * [[pqFixedCodebooks]] when the corpus is smaller than one codebook.
    */
  def pqTrainCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                       numSub: Int, ksub: Int, iters: Int = 3,
                       samplePerCode: Int = 50): PqCodebooks = {
    val raw = graft.Partitioning.balanced(corpus)
      .select(col(idCol).cast("long").as("id"), col(vecCol).cast("array<double>").as("v"))
      .where(col("v").isNotNull)
    val dim = raw.select(size(col("v"))).take(1) match {
      case Array(r) if !r.isNullAt(0) => r.getInt(0)
      case _ => return pqFixedCodebooks(64, numSub, ksub) // empty corpus
    }
    require(dim % numSub == 0, s"dim $dim not divisible by $numSub subvectors")
    val ds = dim / numSub
    val target = samplePerCode.toLong * ksub
    val total = raw.count()
    val sample = (if (total <= target) raw else {
      val thr = math.max(1L, math.min(0xFFFFFFFFL,
        math.ceil(target.toDouble / total * 4294967296.0).toLong))
      raw.where(substring(md5(col("id").cast("string")), 1, 8) < f"$thr%08x")
    }).cache()
    try {
      if (sample.count() < ksub) return pqFixedCodebooks(dim, numSub, ksub)
      val seeds = sample.orderBy("id").limit(ksub).collect().map(_.getSeq[Double](1))
      var books = PqCodebooks(numSub, ksub, ds,
        IndexedSeq.tabulate(numSub, ksub, ds)((m, j, d) => seeds(j)(m * ds + d)))
      for (_ <- 0 until iters) {
        val means = sample
          .select(col("v"), posexplode(pqEncode(col("v"), books)).as(Seq("m", "code")))
          .select(col("m"), col("code"),
            posexplode(slice(col("v"), col("m") * ds + 1, lit(ds))).as(Seq("d", "x")))
          .groupBy("m", "code", "d")
          .agg(avg(col("x").cast("decimal(38,18)")).cast("double").as("mean"))
          .collect()
          .groupBy(r => (r.getInt(0), r.getInt(1)))
          .map { case (mc, rows) =>
            mc -> rows.sortBy(_.getInt(2)).map(_.getDouble(3)).toIndexedSeq }
        books = PqCodebooks(numSub, ksub, ds,
          IndexedSeq.tabulate(numSub, ksub)((m, j) =>
            means.getOrElse((m, j), books.cb(m)(j))))
      }
      books
    } finally sample.unpersist()
  }
}
