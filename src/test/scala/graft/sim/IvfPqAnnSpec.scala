package graft.sim

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** IVFADC (coarse quantizer × PQ/ADC): completeness at nprobe = nlist,
  * probed-cell candidate restriction, trained end-to-end recall, and the
  * ADC+R composition.
  */
class IvfPqAnnSpec extends SparkSpec {

  import spark.implicits._

  private val cb = Similarity.pqFixedCodebooks(dim = 64, numSub = 8, ksub = 4)
  private val oneHot = Similarity.oneHotCentroids(8, 64)

  private val dir = "/root/testdata/sf0.001"
  private def q = spark.read.parquet(s"$dir/embeddings.parquet").where(col("vec_id") < 10)
  private def c = spark.read.parquet(s"$dir/embeddings.parquet").where(col("vec_id") >= 10)

  test("nprobe = nlist probes every cell: IVFADC ranking equals plain ADC") {
    val full = Similarity.pqTopKADC(q, c, "vec_id", "embedding", cb, k = 5)
      .select("query_id", "rank", "neighbor_id", "code_key")
      .as[(Long, Int, Long, Long)].collect().toSet
    val ivf = Similarity.ivfPqTopKWithModel(q, c, "vec_id", "embedding",
      oneHot, cb, nprobe = 8, k = 5)
      .select("query_id", "rank", "neighbor_id", "code_key")
      .as[(Long, Int, Long, Long)].collect().toSet
    assert(ivf == full, "full-probe IVFADC must reproduce the whole-corpus ADC scan")
  }

  test("candidates are restricted to probed cells, ~nprobe/nlist of the corpus") {
    val nprobe = 3
    // re-derive assignment (argmax of the first 8 coords, first-of-max
    // ties) and the probe sets from first principles, independently of
    // the library's nearestCell expression
    val assigned = c.select(col("vec_id").as("neighbor_id"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("head", slice(col("v"), 1, 8))
      .withColumn("cell", (array_position(col("head"), array_max(col("head"))) - 1).cast("int"))
    val cellSizes = assigned.groupBy("cell").count()
      .as[(Int, Long)].collect().toMap
    val probes = q.select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("v"))
      .select(col("query_id"), posexplode(slice(col("v"), 1, 8)).as(Seq("cell", "coord")))
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("coord").desc, col("cell").asc)))
      .where(col("rk") <= nprobe)
      .select("query_id", "cell").as[(Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

    val out = Similarity.ivfPqTopKWithModel(q, c, "vec_id", "embedding",
      oneHot, cb, nprobe = nprobe, k = 5)
      .select("query_id", "neighbor_id", "cell").as[(Long, Long, Int)].collect()
    assert(out.nonEmpty)
    // every returned neighbor sits in one of its query's probed cells,
    // and its cell matches the independent assignment
    val cellOf = assigned.select("neighbor_id", "cell").as[(Long, Int)].collect().toMap
    out.foreach { case (qid, nid, cell) =>
      assert(cellOf(nid) == cell, s"assignment mismatch for $nid")
      assert(probes(qid).contains(cell), s"query $qid returned unprobed cell $cell")
    }
    // the scanned-candidate total is the probed cell sizes — strictly less
    // work than the full scan (the point of the coarse stage)
    val corpusN = cellOf.size.toLong
    val scanned = probes.toSeq.map { case (_, cells) =>
      cells.toSeq.map(cl => cellSizes.getOrElse(cl, 0L)).sum
    }.sum
    info(s"scanned $scanned of ${probes.size * corpusN} full-scan pairs " +
      f"(${scanned.toDouble / (probes.size * corpusN)}%.2f of corpus per query)")
    assert(scanned < probes.size * corpusN,
      "probed-cell scan must be a strict subset of the full scan")
  }

  test("trained IVFADC end-to-end: deterministic models, recall at full probe") {
    val out1 = Similarity.ivfPqTopK(q, c, "vec_id", "embedding",
      nlist = 8, nprobe = 8, numSub = 8, ksub = 16, k = 3, iters = 2)
      .select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)].collect().toSet
    val out2 = Similarity.ivfPqTopK(q, c, "vec_id", "embedding",
      nlist = 8, nprobe = 8, numSub = 8, ksub = 16, k = 3, iters = 2)
      .select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)].collect().toSet
    assert(out1 == out2, "training is deterministic — two runs must agree")
    // at nprobe = nlist the coarse stage is complete, so recall equals the
    // trained plain-ADC recall (PqAnnSpec pins its floor on this corpus)
    val trained = Similarity.pqTrainCodebooks(c, "vec_id", "embedding",
      numSub = 8, ksub = 16, iters = 2)
    val adc = Similarity.pqTopKADC(q, c, "vec_id", "embedding", trained, k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = out1.map { case (qid, _, nid) => (qid, nid) }
    assert(ivf == adc, "full-probe trained IVFADC must equal trained ADC")
  }

  test("residual IVFADC: zero centroid reduces it to the non-residual form exactly") {
    // one all-zero centroid: residual = v − 0 = v and the score seed
    // sim = dot(q, 0) = 0, so every output column (codes, code_key, score)
    // must be bit-identical to the raw-vector composition
    val zero: Array[(Int, Seq[Double])] = Array(0 -> Seq.fill(64)(0.0))
    val res = Similarity.ivfPqTopKResidualWithModel(q, c, "vec_id", "embedding",
      zero, cb, nprobe = 1, k = 5)
      .select("query_id", "rank", "neighbor_id", "code_key", "score")
      .as[(Long, Int, Long, Long, Double)].collect().toSet
    val plain = Similarity.ivfPqTopKWithModel(q, c, "vec_id", "embedding",
      zero, cb, nprobe = 1, k = 5)
      .select("query_id", "rank", "neighbor_id", "code_key", "score")
      .as[(Long, Int, Long, Long, Double)].collect().toSet
    assert(res == plain, "zero-centroid residual IVFADC must equal the raw form")
  }

  test("residual IVFADC: recall beats raw-vector codes on a clustered corpus") {
    // 8 well-separated centers (5·e_j) + small deterministic noise: the
    // regime residual encoding exists for — raw-vector PQ must spend its
    // tiny ksub=4 budget spanning the BETWEEN-center spread, while
    // residuals only model the noise ball around the origin
    def noise(i: Long, d: Int): Double =
      (((i * 2654435761L + d * 40503L) % 1000L) / 1000.0 - 0.5) * 0.6
    def vec(i: Long): Seq[Double] =
      Seq.tabulate(64)(d => (if (d == (i % 8).toInt) 5.0 else 0.0) + noise(i, d))
    val corpus = (100L until 500L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val queries = (0L until 10L).map(i => (i, vec(i * 41 + 7))).toDF("vec_id", "embedding")
    val w = Window.partitionBy("query_id").orderBy(col("dot").desc, col("neighbor_id").asc)
    val exact = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .crossJoin(corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv")))
      .withColumn("dot", graft.expr.VectorExprs.dot(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val plain = Similarity.ivfPqTopK(queries, corpus, "vec_id", "embedding",
      nlist = 8, nprobe = 8, numSub = 8, ksub = 4, k = 5, iters = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val res = Similarity.ivfPqTopKResidual(queries, corpus, "vec_id", "embedding",
      nlist = 8, nprobe = 8, numSub = 8, ksub = 4, k = 5, iters = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val plainRecall = (exact intersect plain).size.toDouble / exact.size
    val resRecall = (exact intersect res).size.toDouble / exact.size
    info(s"raw-code recall@5=$plainRecall, residual recall@5=$resRecall")
    assert(resRecall >= plainRecall,
      s"residual encoding lost to raw codes: $resRecall < $plainRecall")
    assert(resRecall >= 0.6, s"residual recall $resRecall below floor")
  }

  test("IVFADC+R: exact re-ranking within probed cells beats raw ADC order") {
    val w = Window.partitionBy("query_id").orderBy(col("dot").desc, col("neighbor_id").asc)
    val exact = q.select(col("vec_id").as("query_id"), col("embedding").cast("array<double>").as("qv"))
      .crossJoin(c.select(col("vec_id").as("neighbor_id"), col("embedding").cast("array<double>").as("cv")))
      .withColumn("dot", graft.expr.VectorExprs.dot(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // trained ksub=16 books (the PqAnnSpec recall corpus): the fixed
    // quarter codebooks are deliberately weak — they exist for the oracle,
    // not for recall floors
    val trained = Similarity.pqTrainCodebooks(c, "vec_id", "embedding",
      numSub = 8, ksub = 16, iters = 3)
    val plain = Similarity.ivfPqTopKWithModel(q, c, "vec_id", "embedding",
      oneHot, trained, nprobe = 8, k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val rr = Similarity.ivfPqTopKRerank(q, c, "vec_id", "embedding",
      oneHot, trained, nprobe = 8, k = 3, shortlist = 20)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val plainRecall = (exact intersect plain).size.toDouble / exact.size
    val rrRecall = (exact intersect rr).size.toDouble / exact.size
    info(s"plain IVFADC recall@3=$plainRecall, +R recall@3=$rrRecall")
    assert(rrRecall >= plainRecall,
      "exact re-ranking of the shortlist can never do worse than raw ADC order")
    assert(rrRecall >= 0.5, s"IVFADC+R recall $rrRecall")
  }
}
