package graft.expr

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Interpreted-vs-codegen parity for the custom codegen'd expressions.
  *
  * Every expression with a hand-written `doGenCode` has TWO executable
  * semantics — `eval` (interpreted, used in constant folding and codegen
  * fallback paths) and the generated Java. They can silently diverge on
  * edge inputs (nulls, empty arrays, poles, NaN), and only the codegen
  * path is exercised by the oracle gate. This spec runs the same frame
  * through both engines (`spark.sql.codegen.factoryMode=NO_CODEGEN` +
  * whole-stage off vs CODEGEN_ONLY) and asserts identical results.
  */
class ExprParitySpec extends SparkSpec {

  override def beforeAll(): Unit = {
    super.beforeAll()
    graft.sql.GraftFunctions.register(spark)
  }

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

  test("geo_within_km: parity on poles, antimeridian, NaN, zero/negative radius, nulls") {
    assertParity {
      spark.sql(
        """SELECT id, geo_within_km(lat, lon, clat, clon, r) AS within FROM VALUES
          |  (0,  40.0D,  -105.0D, 40.1D, -105.1D, 50.0D),
          |  (1,  40.0D,  -105.0D, 40.1D, -105.1D, 0.0D),
          |  (2,  40.0D,  -105.0D, 40.0D, -105.0D, 0.0D),
          |  (3,  89.9D,   10.0D,  89.9D, -170.0D, 50.0D),
          |  (4,  0.0D,    179.9D, 0.0D,   -179.9D, 30.0D),
          |  (5,  -90.0D,  0.0D,   90.0D,  0.0D,   20000.0D),
          |  (6,  40.0D,  -105.0D, 40.1D, -105.1D, -5.0D),
          |  (7,  CAST('NaN' AS DOUBLE), -105.0D, 40.0D, -105.0D, 50.0D),
          |  (8,  CAST(NULL AS DOUBLE), -105.0D, 40.0D, -105.0D, 50.0D),
          |  (9,  40.0D, -105.0D, 40.0D, -105.0D, CAST(NULL AS DOUBLE))
          |  AS t(id, lat, lon, clat, clon, r)
          |ORDER BY id""".stripMargin)
    }
    // and the expected truths hold on the codegen path
    val rows = spark.sql(
      """SELECT geo_within_km(40.0D, -105.0D, 40.0D, -105.0D, 0.0D),
        |       geo_within_km(0.0D, 179.9D, 0.0D, -179.9D, 30.0D),
        |       geo_within_km(40.0D, -105.0D, 40.1D, -105.1D, -5.0D)""".stripMargin).head()
    assert(rows.getBoolean(0))  // identical points within radius 0
    assert(rows.getBoolean(1))  // antimeridian neighbors ARE close (~22 km)
    assert(!rows.getBoolean(2)) // negative radius admits nothing
  }

  test("simhash64: parity on empty array, null element, null array, unicode") {
    assertParity {
      spark.sql(
        """SELECT id, simhash64(toks) AS h FROM VALUES
          |  (0, array('alpha', 'beta', 'gamma')),
          |  (1, array()),
          |  (2, array('alpha', CAST(NULL AS STRING), 'gamma')),
          |  (3, CAST(NULL AS ARRAY<STRING>)),
          |  (4, array('schneeschauer', 'über', '山', '☃')),
          |  (5, array(''))
          |  AS t(id, toks)
          |ORDER BY id""".stripMargin)
    }
  }

  test("minhash_sigs: parity on empty array, short docs, null element, null array, unicode") {
    assertParity {
      spark.sql(
        """SELECT id, minhash_sigs(toks, 4, 3) AS sig FROM VALUES
          |  (0, array('the', 'quick', 'brown', 'fox', 'jumps')),
          |  (1, array()),
          |  (2, array('one')),
          |  (3, array('a', 'b')),
          |  (4, CAST(NULL AS ARRAY<STRING>)),
          |  (5, array('x', CAST(NULL AS STRING), 'y', 'z')),
          |  (6, array('über', '山', '☃', 'über', '山', '☃', 'über')),
          |  (7, array(''))
          |  AS t(id, toks)
          |ORDER BY id""".stripMargin)
    }
  }

  test("minhash_sigs agrees bit-for-bit with the HOF column form on edge texts") {
    import spark.implicits._
    // multi-space text (empty tokens), single token, empty string, unicode,
    // repeated shingles — every edge the shingle windowing has; null text
    // is excluded on both sides (the bulk contract drops null docs)
    val df = Seq((0L, "the quick brown fox jumps over the lazy dog"),
      (1L, ""), (2L, "one"), (3L, "a  b"), (4L, "ü 山 ☃ ü 山 ☃ ü"),
      (5L, "x y"), (6L, null.asInstanceOf[String]))
      .toDF("doc_id", "text").where($"text".isNotNull)
    def rows(frame: org.apache.spark.sql.DataFrame): Seq[String] =
      frame.orderBy("doc_id").collect().toSeq.map(r =>
        s"${r.getLong(0)}:${r.getSeq[Long](1).mkString(",")}")
    val native = df.select($"doc_id", graft.expr.MinHashExpr.minhashSigs(
      graft.text.TextExprs.tokens($"text"), 8, 3).as("sig"))
    val hof = df.select($"doc_id",
      graft.dedup.MinHashStaged.minhashSignature($"text", 8, 3).as("sig"))
    assert(rows(native) == rows(hof))
  }

  test("dot_f64: parity on empty, mismatched-length, negative, null-array inputs") {
    assertParity {
      spark.sql(
        """SELECT id, dot_f64(a, b) AS d FROM VALUES
          |  (0, array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D)),
          |  (1, array(), array(1.0D)),
          |  (2, array(1.0D, 2.0D), array(3.0D)),
          |  (3, array(-1.5D, 2.5D), array(2.0D, -4.0D)),
          |  (4, CAST(NULL AS ARRAY<DOUBLE>), array(1.0D))
          |  AS t(id, a, b)
          |ORDER BY id""".stripMargin)
    }
  }

  test("int8_pack / dot_i8: parity incl. zero vector and null element") {
    assertParity {
      spark.sql(
        """SELECT id, hex(int8_pack(v)) AS codes,
          |       dot_i8(int8_pack(v), int8_pack(w)) AS d
          |FROM VALUES
          |  (0, array(2.0D, -2.0D, 1.0D), array(1.0D, 1.0D, 1.0D)),
          |  (1, array(0.0D, 0.0D), array(1.0D, -1.0D)),
          |  (2, array(CAST(NULL AS DOUBLE), 1.0D), array(1.0D, 1.0D)),
          |  (3, CAST(NULL AS ARRAY<DOUBLE>), array(1.0D))
          |  AS t(id, v, w)
          |ORDER BY id""".stripMargin)
    }
  }

  test("bloom_might_contain_bcast: parity incl. null hash, hits and misses") {
    import spark.implicits._
    val bf = org.apache.spark.util.sketch.BloomFilter.create(100, 0.01)
    Seq(1L, 42L, -7L).foreach(bf.putLong)
    val bcast = spark.sparkContext.broadcast(bf)
    assertParity {
      Seq(Some(1L), Some(42L), Some(-7L), Some(999L), None).toDF("h")
        .select(col("h"), BloomExprs.mightContain(bcast, col("h")).as("hit"))
        .orderBy("h")
    }
    // no false negatives on the codegen path: every inserted key must hit
    val hits = Seq(1L, 42L, -7L).toDF("h")
      .select(BloomExprs.mightContain(bcast, col("h")).as("hit"))
      .collect().map(_.getBoolean(0))
    assert(hits.forall(identity), "bloom filter reported a false negative")
  }

  test("geo_within_km SQL surface coerces decimal and float arguments") {
    // decimal literals (40.0 parses as DECIMAL) and float columns go
    // through ImplicitCastInputTypes — no analysis error, same answer
    val viaDecimals = spark.sql(
      "SELECT geo_within_km(40.0, -105.0, 40.1, -105.1, 50.0)").head().getBoolean(0)
    val viaDoubles = spark.sql(
      "SELECT geo_within_km(40.0D, -105.0D, 40.1D, -105.1D, 50.0D)").head().getBoolean(0)
    assert(viaDecimals == viaDoubles)
    val viaFloats = spark.range(1)
      .select(
        lit(40.0f).as("lat"), lit(-105.0f).as("lon"),
        lit(40.1f).as("clat"), lit(-105.1f).as("clon"), lit(50.0f).as("r"))
      .selectExpr("geo_within_km(lat, lon, clat, clon, r) AS w")
      .head().getBoolean(0)
    assert(viaFloats == viaDoubles)
  }
}
