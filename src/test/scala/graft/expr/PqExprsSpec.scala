package graft.expr

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sim.Similarity

/** Bit-identity pins for the native PQ expressions (round-17
  * optimization): `pq_encode` and `pq_adc_score` replaced the staged
  * higher-order-function forms in the ANN hot path, so
  *
  *  1. native ≡ staged on realistic vectors AND the edge windows (short
  *     vector, null vector, null element, NaN, exact distance ties);
  *  2. interpreted ≡ codegen for the native expressions (the
  *     ExprParitySpec discipline — `eval` and the generated Java are two
  *     implementations of the same semantics).
  *
  * The s06/s08/s09 oracles hash-match the values end-to-end in DuckDB;
  * these arms pin the equivalence at the expression grain where the edge
  * inputs live.
  */
class PqExprsSpec extends SparkSpec {

  private val cb = Similarity.pqFixedCodebooks(dim = 8, numSub = 2, ksub = 4)
  private val cb64 = Similarity.pqFixedCodebooks(dim = 64, numSub = 8, ksub = 4)

  private def runBoth(build: => DataFrame): (Seq[String], Seq[String]) = {
    def collectWith(mode: String, wholeStage: String): Seq[String] = {
      val conf = spark.conf
      val prevMode = conf.getOption("spark.sql.codegen.factoryMode")
      val prevWs = conf.getOption("spark.sql.codegen.wholeStage")
      try {
        conf.set("spark.sql.codegen.factoryMode", mode)
        conf.set("spark.sql.codegen.wholeStage", wholeStage)
        build.collect().map(_.toString).toSeq
      } finally {
        prevMode.fold(conf.unset("spark.sql.codegen.factoryMode"))(
          conf.set("spark.sql.codegen.factoryMode", _))
        prevWs.fold(conf.unset("spark.sql.codegen.wholeStage"))(
          conf.set("spark.sql.codegen.wholeStage", _))
      }
    }
    (collectWith("NO_CODEGEN", "false"), collectWith("CODEGEN_ONLY", "true"))
  }

  private def assertParity(build: => DataFrame): Unit = {
    val (interpreted, codegen) = runBoth(build)
    assert(interpreted == codegen,
      s"interpreted/codegen divergence:\n  interp=$interpreted\n  cgen =$codegen")
  }

  /** The bench's synthetic embedding family at a spread of ids. */
  private def vecs64: DataFrame = {
    import spark.implicits._
    spark.range(200).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), d => sin(col("id") * (d + 1))).as("v"))
  }

  test("pq_encode: native == staged on 200 synthetic 64-dim vectors") {
    val native = vecs64.select(col("vec_id"),
      Similarity.pqEncode(col("v"), cb64).as("codes")).collect().map(_.toString)
    val staged = vecs64.select(col("vec_id"),
      graft.sim.PqStaged.pqEncodeStaged(col("v"), cb64).as("codes")).collect().map(_.toString)
    assert(native.sameElements(staged))
  }

  test("pq_encode: native == staged on edge windows (short, null, null element, NaN, ties)") {
    def frame: DataFrame = spark.sql(
      """SELECT id, v FROM VALUES
        |  (0, array(0.1D, -0.2D, 0.74D, 0.3D, -0.75D, 0.25D, 0.5D, -0.5D)),
        |  (1, array(0.1D, -0.2D)),
        |  (2, CAST(NULL AS ARRAY<DOUBLE>)),
        |  (3, array(0.1D, CAST(NULL AS DOUBLE), 0.3D, 0.4D, 0.5D, 0.6D, 0.7D, 0.8D)),
        |  (4, array(CAST('NaN' AS DOUBLE), 0.2D, 0.3D, 0.4D, 0.5D, 0.6D, 0.7D, 0.8D)),
        |  (5, array(0.0D, 0.0D, 0.0D, 0.0D, 0.0D, 0.0D, 0.0D, 0.0D)),
        |  (6, array(0.25D, 0.25D, 0.25D, 0.25D, -0.25D, -0.25D, -0.25D, -0.25D)),
        |  (7, array(0.1D, -0.2D, 0.74D, 0.3D, -0.75D, 0.25D, 0.5D, -0.5D, 9.9D))
        |  AS t(id, v)""".stripMargin)
      // repartition: a bare VALUES relation is folded whole by
      // ConvertToLocalRelation (the expressions would never reach codegen);
      // behind an exchange the projection executes for real
      .repartition(2)
    val native = frame.select(col("id"),
      Similarity.pqEncode(col("v"), cb).as("codes")).orderBy("id")
      .collect().map(_.toString)
    val staged = frame.select(col("id"),
      graft.sim.PqStaged.pqEncodeStaged(col("v"), cb).as("codes")).orderBy("id")
      .collect().map(_.toString)
    assert(native.sameElements(staged),
      s"native=${native.toSeq} staged=${staged.toSeq}")
    // row 5 sits equidistant between codewords on the quarter grid in at
    // least one subspace: the tie must break to the LOWEST index in both
    // forms (already asserted equal above; pin the rule itself here)
    val tie = frame.where(col("id") === 5).select(
      Similarity.pqEncode(col("v"), cb).as("codes")).head().getSeq[Int](0)
    val dists = (0 until cb.ksub).map { j =>
      (0 until cb.ds).map { d =>
        val c = cb.cb(0)(j)(d); (0.0 - c) * (0.0 - c)
      }.sum
    }
    assert(tie.head == dists.indexOf(dists.min), "tie must break to the lowest index")
  }

  test("pq_encode: interpreted == codegen on the edge windows") {
    assertParity {
      spark.sql(
        """SELECT id, v FROM VALUES
          |  (0, array(0.1D, -0.2D, 0.74D, 0.3D, -0.75D, 0.25D, 0.5D, -0.5D)),
          |  (1, array(0.1D, -0.2D)),
          |  (2, CAST(NULL AS ARRAY<DOUBLE>)),
          |  (3, array(0.1D, CAST(NULL AS DOUBLE), 0.3D, 0.4D, 0.5D, 0.6D, 0.7D, 0.8D)),
          |  (4, array(CAST('NaN' AS DOUBLE), 0.2D, 0.3D, 0.4D, 0.5D, 0.6D, 0.7D, 0.8D)),
          |  (5, array(0.0D, 0.0D, 0.0D, 0.0D, 0.0D, 0.0D, 0.0D, 0.0D))
          |  AS t(id, v)""".stripMargin)
        .repartition(2) // defeat ConvertToLocalRelation so codegen runs
        .select(col("id"), Similarity.pqEncode(col("v"), cb).as("codes"))
        .orderBy("id")
    }
  }

  test("pq_adc_score: native == staged fold, 0.0- and sim-seeded") {
    import spark.implicits._
    val qv = vecs64.where(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("v"))
      .select(col("qid"), Similarity.pqAdcLut(col("v"), cb64).as("lut"))
    val cv = vecs64.where(col("vec_id") >= 3)
      .select(col("vec_id").as("nid"),
        Similarity.pqEncode(col("v"), cb64).as("codes"),
        (col("vec_id") % 7).cast("double").as("sim"))
    val pairs = qv.crossJoin(cv)
    def strs(df: DataFrame): Seq[String] =
      df.orderBy("qid", "nid").collect().map(_.toString).toSeq
    val nativeZero = strs(pairs.select(col("qid"), col("nid"),
      PqExprs.adcScore(col("codes"), col("lut"), lit(0.0), cb64.numSub, cb64.ksub).as("s")))
    val stagedZero = strs(pairs.select(col("qid"), col("nid"),
      graft.sim.PqStaged.adcScoreStaged(col("codes"), col("lut"), lit(0.0), cb64).as("s")))
    assert(nativeZero == stagedZero)
    val nativeSim = strs(pairs.select(col("qid"), col("nid"),
      PqExprs.adcScore(col("codes"), col("lut"), col("sim"), cb64.numSub, cb64.ksub).as("s")))
    val stagedSim = strs(pairs.select(col("qid"), col("nid"),
      graft.sim.PqStaged.adcScoreStaged(col("codes"), col("lut"), col("sim"), cb64).as("s")))
    assert(nativeSim == stagedSim)
  }

  test("pq_adc_score: null codes / null lut / null code element / null seed → null, both engines") {
    def frame: DataFrame = spark.sql(
      """SELECT id, codes, lut, seed FROM VALUES
        |  (0, array(1, 3), array(0.1D, 0.2D, 0.3D, 0.4D, 0.5D, 0.6D, 0.7D, 0.8D), 1.0D),
        |  (1, CAST(NULL AS ARRAY<INT>), array(0.1D, 0.2D, 0.3D, 0.4D, 0.5D, 0.6D, 0.7D, 0.8D), 1.0D),
        |  (2, array(1, 3), CAST(NULL AS ARRAY<DOUBLE>), 1.0D),
        |  (3, array(1, CAST(NULL AS INT)), array(0.1D, 0.2D, 0.3D, 0.4D, 0.5D, 0.6D, 0.7D, 0.8D), 1.0D),
        |  (4, array(1, 3), array(0.1D, 0.2D, 0.3D, 0.4D, 0.5D, 0.6D, 0.7D, CAST(NULL AS DOUBLE)), 1.0D),
        |  (5, array(1, 3), array(0.1D, 0.2D, 0.3D, 0.4D, 0.5D, 0.6D, 0.7D, 0.8D), CAST(NULL AS DOUBLE))
        |  AS t(id, codes, lut, seed)""".stripMargin)
      .repartition(2) // defeat ConvertToLocalRelation so codegen runs
    def nat(df: DataFrame): DataFrame = df.select(col("id"),
      PqExprs.adcScore(col("codes"), col("lut"), col("seed"), 2, 4).as("s")).orderBy("id")
    val native = nat(frame).collect().map(_.toString)
    val staged = frame.select(col("id"),
      graft.sim.PqStaged.adcScoreStaged(col("codes"), col("lut"), col("seed"), cb).as("s"))
      .orderBy("id").collect().map(_.toString)
    assert(native.sameElements(staged),
      s"native=${native.toSeq} staged=${staged.toSeq}")
    assertParity(nat(frame))
  }

  test("pq_adc_score: short codes array fails loudly, both engines") {
    // a truncated codes column is an input pq_encode cannot produce —
    // it must fail the job (like the staged ANSI element_at did), never
    // silently null the score (round-18 advisor fix)
    def frame: DataFrame = spark.sql(
      """SELECT id, codes, lut FROM VALUES
        |  (0, array(1), array(0.1D, 0.2D, 0.3D, 0.4D, 0.5D, 0.6D, 0.7D, 0.8D))
        |  AS t(id, codes, lut)""".stripMargin)
      .repartition(2) // defeat ConvertToLocalRelation so codegen runs
    val conf = spark.conf
    val prevWs = conf.getOption("spark.sql.codegen.wholeStage")
    Seq("true", "false").foreach { codegen =>
      try {
        conf.set("spark.sql.codegen.wholeStage", codegen)
        val e = intercept[Exception] {
          frame.select(
            PqExprs.adcScore(col("codes"), col("lut"), lit(0.0), 2, 4).as("s"))
            .collect()
        }
        def chain(t: Throwable): Seq[Throwable] =
          Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
        assert(chain(e).exists(c => c.isInstanceOf[IllegalStateException] &&
          c.getMessage.contains("expected 2")),
          s"codegen=$codegen threw ${e.getClass}: ${e.getMessage}")
      } finally prevWs.fold(conf.unset("spark.sql.codegen.wholeStage"))(
        conf.set("spark.sql.codegen.wholeStage", _))
    }
  }

  test("pq_adc_score: an out-of-LUT code fails with the same message in both engines") {
    def frame: DataFrame = spark.sql(
      """SELECT id, codes, lut FROM VALUES
        |  (0, array(1, 7), array(0.1D, 0.2D, 0.3D, 0.4D, 0.5D, 0.6D, 0.7D, 0.8D))
        |  AS t(id, codes, lut)""".stripMargin)
      .repartition(2) // defeat ConvertToLocalRelation so codegen runs
    def message(mode: String, wholeStage: String): String = {
      val conf = spark.conf
      val prev = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage")
        .map(k => k -> conf.getOption(k))
      try {
        conf.set("spark.sql.codegen.factoryMode", mode)
        conf.set("spark.sql.codegen.wholeStage", wholeStage)
        val e = intercept[Exception] {
          frame.select(PqExprs.adcScore(col("codes"), col("lut"), lit(0.0), 2, 4)).collect()
        }
        Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).take(10)
          .collectFirst { case c: IllegalStateException => c.getMessage }
          .getOrElse(fail(s"$mode/$wholeStage threw ${e.getClass}: ${e.getMessage}"))
      } finally prev.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
    }
    val interpreted = message("NO_CODEGEN", "false")
    val codegen = message("CODEGEN_ONLY", "true")
    assert(interpreted == "pq_adc_score: code 7 of subspace 1 indexes outside the LUT")
    assert(codegen == interpreted)
  }
}
