package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The quantization-ladder trade-off artifact: one run, five tiers, one
  * table — what a user choosing a compression tier actually needs.
  *
  * All five ANN paths rank the SAME pre-normalized corpus against the
  * SAME queries, so every tier approximates the same target (cosine
  * order = dot order on unit vectors) and recall@10 is measured against
  * the exact brute-force ranking. Bytes/vector is the marginal cost of
  * one corpus vector inside the ranking stage's exchanges/caches — the
  * number that decides whether a 100 TB corpus's search structure fits
  * in cluster memory. Wall is the noop-sink execution of the full plan
  * (encode + scan + rank), min of 2 runs.
  *
  * Writes the markdown table to QUANT_LADDER.md (committed — README
  * embeds it) and exits nonzero if any tier's recall falls below its
  * pinned floor, so the artifact regenerates honestly or not at all.
  */
object QuantLadder {

  /** Same code-identity notion as PLANCHECK.json, so the
    * committed ladder carries the stamp of the code that generated it
    * (single shared impl: [[graft.SrcStamp]]).
    */
  private def srcStamp(): String = graft.SrcStamp.srcStamp()

  private case class Tier(name: String, bytesPerVec: String, recallFloor: Double,
                          run: () => DataFrame)

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val corpusN = 100000L
    val nQueries = 50L
    val k = 10
    // unit-normalize up front: every tier then approximates the same
    // cosine/dot target and the exact baseline is the shared ground truth
    // clustered synthetic corpus, NOT the flat sin() bench embeddings:
    // 10K HASH-derived pseudo-random centers × ~10 jittered members each,
    // so a query's true top-10 IS its cluster and the margin to everything
    // else is the near-orthogonal center separation — a real ranking
    // signal. The sin() corpus is useless for recall: flat sin has
    // near-tie top-10 margins, and sin-based CENTERS alias (frequencies
    // ~2πk apart give near-duplicate centers), so every quantized tier
    // scores an uninformative coin-toss on ties rather than ranking error.
    val all = spark.range(corpusN)
      .select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)), d =>
          (pmod(xxhash64(col("id") % 10000, d), lit(1001)).cast("double") / 500.0 - 1.0) +
            (pmod(xxhash64(col("id"), d, lit("jit")), lit(1001)).cast("double") / 500.0 - 1.0) * 0.05)
          .as("embedding"))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"), graft.expr.VectorExprs.norm(col("v")).as("n"), col("v"))
      .where(col("n") > 0) // vec_id 0 is all-zero sin() — undefined direction
      .select(col("vec_id"), transform(col("v"), x => x / col("n")).as("embedding"))
      .localCheckpoint() // one materialization; tiers must not re-pay generation
    val q = all.where(col("vec_id") < nQueries)
    val c = all.where(col("vec_id") >= nQueries)

    // trained models (deterministic): the honest-recall configuration, not
    // the oracle's fixed quarter codebooks
    val cb = Similarity.pqTrainCodebooks(c, "vec_id", "embedding",
      numSub = 8, ksub = 16, iters = 3)
    val oneHot = Similarity.oneHotCentroids(16, 64)
    // residual model (cell means + residual-trained books), trained once
    // like the other tiers' models — walls time the query path only
    val (resMeans, resCb) = Similarity.ivfPqResidualModel(c, "vec_id", "embedding",
      nlist = 16, numSub = 8, ksub = 16, iters = 3)

    def pairs(df: DataFrame): Set[(Long, Long)] = {
      import spark.implicits._
      df.select(col("query_id").cast("long"), col("neighbor_id").cast("long"))
        .as[(Long, Long)].collect().toSet
    }
    def timeIt(fn: => DataFrame): Double = {
      def once: Double = {
        val t0 = System.nanoTime()
        fn.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      math.min(once, once)
    }

    val exactDf = Similarity.bruteForceTopK(q, c, "vec_id", "embedding", k)
    val exactWall = timeIt(exactDf)
    val exact = pairs(exactDf)

    val tiers = Seq(
      Tier("exact float64 (brute force)", "512", 1.0,
        () => Similarity.bruteForceTopK(q, c, "vec_id", "embedding", k)),
      Tier("int8 SQ8 (codes + scale)", "64 + 8", 0.95,
        () => Similarity.int8TopK(q, c, "vec_id", "embedding", k, normalize = true)),
      Tier("PQ 8x16 ADC (codes only)", "4", 0.75,
        () => Similarity.pqTopKADC(q, c, "vec_id", "embedding", cb, k)),
      Tier("PQ 8x16 ADC+R (rerank 50)", "4 (+512 for shortlist)", 0.80,
        () => Similarity.pqTopKADCRerank(q, c, "vec_id", "embedding", cb, k, shortlist = 50)),
      Tier("IVFADC 16c/4p (codes only)", "4", 0.70,
        () => Similarity.ivfPqTopKWithModel(q, c, "vec_id", "embedding", oneHot, cb,
          nprobe = 4, k = k)),
      Tier("IVFADC residual 16c/4p (codes only)", "4", 0.70,
        () => Similarity.ivfPqTopKResidualWithModel(q, c, "vec_id", "embedding",
          resMeans, resCb, nprobe = 4, k = k)),
      Tier("binary sign-code (1 bit/dim)", "8", 0.70,
        () => Similarity.binaryTopK(q, c, "vec_id", "embedding", k)))

    val rows = tiers.map { t =>
      val wall = if (t.name.startsWith("exact")) exactWall else timeIt(t.run())
      val recall =
        if (t.name.startsWith("exact")) 1.0
        else (exact intersect pairs(t.run())).size.toDouble / exact.size
      (t, wall, recall)
    }

    val header =
      s"""<!-- generated by `sbt "runMain graft.sim.QuantLadder"` — do not hand-edit -->
         |Corpus: ${corpusN - nQueries} synthetic 64-dim unit vectors, $nQueries queries,
         |recall@$k vs exact cosine ranking, local[$cpus], wall = min of 2 noop-sink runs.
         |Walls INCLUDE each tier's one-time index build (encode/train); in the
         |serving regime only the scan recurs. The measured build/scan split lives
         |in Bench (`ann_pq_encode_1m` vs `ann_pq_1m`/`ann_ivfpq_1m`): at equal
         |query counts the IVFADC SCAN is ~nlist/nprobe (≈4×) cheaper than plain
         |ADC, exactly the work model — encode dominates these small-corpus walls.
         |
         || tier | bytes/vector | recall@$k | wall (s) | floor |
         ||---|---|---|---|---|""".stripMargin
    val body = rows.map { case (t, wall, recall) =>
      f"| ${t.name} | ${t.bytesPerVec} | $recall%.3f | $wall%.1f | ≥ ${t.recallFloor}%.2f |"
    }.mkString("\n")
    // stamp the generating code state (same MD5-over-src/main identity as
    // SrcStamp / PLANCHECK.json) so tools/claims_check.py can verify
    // the committed ladder was generated at HEAD — recall floors are
    // enforced at generation, so a current stamp IS the regression gate
    val table = header + "\n" + body + "\n\nsrc_stamp: " + srcStamp() + "\n"
    println(table)
    java.nio.file.Files.writeString(java.nio.file.Paths.get("QUANT_LADDER.md"), table)

    val violations = rows.filter { case (t, _, r) => r < t.recallFloor }
    violations.foreach { case (t, _, r) =>
      System.err.println(f"[ladder] ${t.name}: recall $r%.3f below floor ${t.recallFloor}")
    }
    spark.stop()
    if (violations.nonEmpty) sys.exit(1)
  }
}
