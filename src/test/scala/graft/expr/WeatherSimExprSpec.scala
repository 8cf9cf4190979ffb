package graft.expr

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.Derived
import graft.weather.{WeatherExprs, WeatherSimStaged}

/** The native WeatherPatternSimilarity and its detail must be BIT-IDENTICAL
  * to the staged Column form (WeatherSimStaged, the test-tree reference):
  * the DuckDB oracles for w04/w10/k14/k16/k18 hash values produced by the
  * native kernel, and exact (==, not ≈) agreement with an independently
  * derived form is what pins its arithmetic.
  */
class WeatherSimExprSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** 200 seeded pattern pairs (i, cur, acc); see the property arm. */
  private def randomPairs(): DataFrame = {
    val rnd = new scala.util.Random(20260812L)
    def series(n: Int, constant: Boolean, base: Double): Seq[Double] =
      if (constant) Seq.fill(n)(base)
      else Seq.fill(n)(base + rnd.nextDouble() * 20 - 10)
    val rows = (0 until 200).map { i =>
      val n1 = 5 + i % 3
      val n2 = 5 + (i / 3) % 3
      def pat(n: Int): (Seq[Double], Seq[Double], Seq[Double], Seq[Double], Seq[Double],
          Seq[(Double, Double, Double)]) = {
        val const = i % 7 == 0
        val t = series(n, const, 10)
        val p = series(n, i % 11 == 0, 2)
        val w = series(n, const, 8)
        val v = series(n, false, 9000)
        val c = series(n, false, 50)
        val dt = t.map(x => (x - 5 - rnd.nextInt(3), x, x + 5 + rnd.nextInt(3)))
        (t, p, w, v, c, dt)
      }
      val a = pat(n1)
      val b = if (i % 13 == 0) a // identical patterns → similarity ≈ 1
        else if (i % 17 == 0) // anti-correlated twin
          (a._1.map(-_), a._2.map(-_), a._3.map(-_), a._4.map(-_), a._5.map(-_), a._6)
        else pat(n2)
      (i.toLong, a, b)
    }
    import spark.implicits._
    val df = rows.toDF("i", "a", "b")
    def toPattern(c: Column) =
      WeatherExprs.pattern(
        c.getField("_1"), c.getField("_2"), c.getField("_3"),
        c.getField("_4"), c.getField("_5"),
        transform(c.getField("_6"), t => struct(
          t.getField("_1").as("min"), t.getField("_2").as("avg"),
          t.getField("_3").as("max"))))
    df.select(col("i"), toPattern(col("a")).as("cur"), toPattern(col("b")).as("acc"))
  }

  private def arr(xs: Double*): Column = array(xs.map(lit): _*)
  private def oneDayTemps: Column =
    array(struct(lit(0.0).as("min"), lit(1.0).as("avg"), lit(2.0).as("max")))

  /** Five days of every factor but `temperature`, which the caller gives. */
  private def fiveDayPat(temperature: Column): Column = WeatherExprs.pattern(temperature,
    arr(0, 0, 0, 0, 0), arr(5, 5, 5, 5, 5), arr(1, 1, 1, 1, 1), arr(50, 50, 50, 50, 50), oneDayTemps)

  /** A 3-day pattern: invalid (< 5 days). */
  private def shortPat: Column = WeatherExprs.pattern(
    arr(1, 2, 3), arr(0, 0, 0), arr(5, 5, 5), arr(1, 1, 1), arr(50, 50, 50), oneDayTemps)

  /** Native detail ≡ staged detail in every column, and its composite ≡
    * `similarity`, bit for bit and NULL for NULL over `pairs`' (cur, acc).
    */
  private def assertDetailParity(pairs: DataFrame): Int = {
    val fields = WeatherPatternSimilarity.DetailType.fieldNames.toSeq
    val rows = WeatherSimStaged.withWeatherSimilarity(
        pairs, col("cur"), col("acc"), "ws_similarity", Some("ws_"))
      .withColumn("nat", WeatherPatternSimilarity.detailed(col("cur"), col("acc")))
      .withColumn("comp", WeatherPatternSimilarity.similarity(col("cur"), col("acc")))
      .collect()
    def bits(v: Any): Any = v match { case d: Double => java.lang.Double.doubleToLongBits(d); case o => o }
    rows.foreach { r =>
      val nat = Option(r.getAs[Row]("nat"))
      val native = fields.map(f => nat.map(_.getAs[Any](f)).orNull).map(bits)
      assert(fields.map(f => bits(r.getAs[Any](s"ws_$f"))) == native, s"in $r")
      assert(native.last == bits(r.getAs[Any]("comp")), s"composite in $r")
    }
    rows.length
  }

  test("native == staged, bit-for-bit, on every derived pattern pair") {
    // all accident patterns vs the shared current pattern — the exact
    // pairing the kernel queries evaluate
    val df = Derived.accidents(spark, sfDir)
      .select(col("accident_id"))
      .withColumn("cur", Derived.weatherPattern(lit(Derived.CurrentKey)))
      .withColumn("acc", Derived.weatherPattern(col("accident_id")))
    val staged = WeatherSimStaged.withWeatherSimilarity(df, col("cur"), col("acc"), "s")
    val both = staged
      .withColumn("nat", WeatherPatternSimilarity.similarity(col("cur"), col("acc")))
    val diff = both.where(col("s") =!= col("nat") ||
      col("s").isNull =!= col("nat").isNull)
    assert(diff.count() == 0, diff.select("accident_id", "s", "nat").head(5).mkString("; "))
    assert(both.count() > 0)
  }

  test("native == staged over ASSEMBLED patterns (defaults, short series)") {
    // the w07 assembly output carries every planted hazard: missing days,
    // 5/6-day boundary patterns, defaulted fields
    val pats = graft.weather.WeatherAssembly.assemblePatterns(
      Derived.weatherRows(spark, sfDir), Derived.accidents(spark, sfDir))
      .withColumn("cur", Derived.weatherPattern(lit(Derived.CurrentKey)))
    val staged = WeatherSimStaged.withWeatherSimilarity(pats, col("cur"), col("pattern"), "s")
    val both = staged
      .withColumn("nat", WeatherPatternSimilarity.similarity(col("cur"), col("pattern")))
    assert(both.where(col("s") =!= col("nat")).count() == 0)
    assert(both.count() > 0)
  }

  test("null accident pattern → NULL (callers coalesce to neutral 0.5)") {
    val df = spark.range(1)
      .withColumn("cur", Derived.weatherPattern(lit(Derived.CurrentKey)))
      .withColumn("acc", when(lit(false), Derived.weatherPattern(lit(1L))))
    val out = df.select(
      WeatherPatternSimilarity.similarity(col("cur"), col("acc")).as("v")).head()
    assert(out.isNullAt(0))
  }

  test("null TEMPERATURE series → NULL from native AND staged alike") {
    // a non-null struct with a null temperature array used to diverge: the
    // native expression returns NULL, while the staged form's 3VL-null
    // validity gate fell through to otherwise(base) and leaked a REAL
    // number (temperature degenerating to score 0, other factors live)
    val nullTempPat = fiveDayPat(lit(null).cast("array<double>"))
    val df = spark.range(1)
      .withColumn("cur", Derived.weatherPattern(lit(Derived.CurrentKey)))
      .withColumn("acc", nullTempPat)
    val native = df.select(
      WeatherPatternSimilarity.similarity(col("cur"), col("acc")).as("v")).head()
    assert(native.isNullAt(0), "native must null on a null temperature array")
    val staged = WeatherSimStaged.withWeatherSimilarity(df, col("cur"), col("acc"), "s")
      .select("s").head()
    assert(staged.isNullAt(0), "staged must match the native NULL, not leak a number")
    // and the reserved staging prefix is guarded loudly
    intercept[IllegalArgumentException] {
      WeatherSimStaged.withWeatherSimilarity(
        df.withColumn("__wsim_n", lit(1)), col("cur"), col("acc"), "s")
    }
  }

  test("a NULL factor array is rejected, naming the factor and the side") {
    // the staged reference scores such a factor 0.5 against a constant
    // series (its NULL std passes the zero-variance test under three-valued
    // logic), so no score could match it; assembled patterns never carry one
    val nullPrecip = WeatherExprs.pattern(arr(1, 2, 3, 4, 5), lit(null).cast("array<double>"),
      arr(5, 5, 5, 5, 5), arr(1, 1, 1, 1, 1), arr(50, 50, 50, 50, 50), oneDayTemps)
    val zeroPrecip = fiveDayPat(arr(1, 2, 3, 4, 5))
    val forms: Seq[(Column, Column) => Column] =
      Seq(WeatherPatternSimilarity.similarity, WeatherPatternSimilarity.detailed)
    Seq("current" -> (nullPrecip, zeroPrecip), "accident" -> (zeroPrecip, nullPrecip)).foreach {
      case (side, (cur, acc)) => forms.foreach { form =>
        // `id` keeps the pair out of constant folding: rows evaluate it
        val pairs = spark.range(1).select(
          when(col("id") === 0, cur).as("cur"), when(col("id") === 0, acc).as("acc"))
        val e = intercept[Exception](pairs.select(form(col("cur"), col("acc"))).collect())
        val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .map(t => String.valueOf(t.getMessage)).toSeq
        assert(msgs.exists(_.contains(s"the $side pattern's precipitation array is NULL")),
          msgs.mkString(" | "))
      }
    }
  }

  test("<5-day side → 0.0, exactly like the staged validity gate") {
    val df = spark.range(1)
      .withColumn("cur", Derived.weatherPattern(lit(Derived.CurrentKey)))
      .withColumn("acc", shortPat)
    val v = df.select(
      WeatherPatternSimilarity.similarity(col("cur"), col("acc")).as("v"))
      .head().getDouble(0)
    assert(v == 0.0)
  }

  test("property: native == staged on random patterns incl. degenerate series") {
    // deterministic pseudo-random pattern pairs: varying lengths (5-7),
    // constant series (zero-variance Pearson edge), equal series
    // (corr exactly 1), negated series (corr -1), freeze-thaw straddles
    val patterns = randomPairs()
    val staged = WeatherSimStaged.withWeatherSimilarity(
      patterns, col("cur"), col("acc"), "s")
    val both = staged.withColumn("nat",
      WeatherPatternSimilarity.similarity(col("cur"), col("acc")))
    val diff = both.where(col("s") =!= col("nat"))
    assert(diff.count() == 0,
      diff.select("i", "s", "nat").head(3).mkString("; "))
    // sanity: identical-pattern rows actually scored ≈ 1
    assert(both.where(col("i") % 13 === 0 && col("s") < 0.999).count() == 0)
  }

  test("mixed-length pair (7-day current vs 5-day accident) agrees exactly") {
    // 5 valid days: slice-to-min-n path and the decay-weight renormalization
    // both depend on n — staged and native must agree on the boundary.
    // sf0.01: sf0.001's 10 accidents yield no surviving 5/6-day pattern.
    val dir01 = "/root/testdata/sf0.01"
    val pats = graft.weather.WeatherAssembly.assemblePatterns(
      Derived.weatherRows(spark, dir01), Derived.accidents(spark, dir01))
      .withColumn("cur", Derived.weatherPattern(lit(Derived.CurrentKey)))
    val staged = WeatherSimStaged.withWeatherSimilarity(pats, col("cur"), col("pattern"), "s")
    val both = staged
      .withColumn("nat", WeatherPatternSimilarity.similarity(col("cur"), col("pattern")))
      .withColumn("n", size(col("pattern.temperature")))
    assert(both.where(col("n") < 7).count() > 0, "no short assembled patterns — fixture drift")
    assert(both.where(col("s") =!= col("nat")).count() == 0)
  }

  test("native detail == staged detail, bit-for-bit, NULL for NULL") {
    assert(assertDetailParity(randomPairs()) == 200)
    // sf0.01: its assembly yields 5- and 6-day patterns (sf0.001's does not)
    val current = Derived.weatherPattern(lit(Derived.CurrentKey))
    val dir01 = "/root/testdata/sf0.01"
    val assembled = graft.weather.WeatherAssembly.assemblePatterns(
        Derived.weatherRows(spark, dir01), Derived.accidents(spark, dir01))
      .select(current.as("cur"), col("pattern").as("acc"))
    Seq(5, 6).foreach(n => assert(
      assembled.where(size(col("acc.temperature")) === n).count() > 0, s"no $n-day pattern"))
    assert(assertDetailParity(assembled) > 0)
    val none = array().cast("array<double>")
    val empty = WeatherExprs.pattern(none, none, none, none, none,
      array().cast("array<struct<min:double,avg:double,max:double>>"))
    Seq(
      "NULL struct" -> (current, when(lit(false), current)),
      "NULL temperature" -> (current, fiveDayPat(lit(null).cast("array<double>"))),
      "<5-day side" -> (shortPat, current),
      "empty pattern" -> (empty, current),
      "7-day vs 5-day" -> (current, fiveDayPat(arr(3, -1, 4, 1.5, 9)))
    ).foreach { case (name, (cur, acc)) => withClue(name) {
      assert(assertDetailParity(spark.range(1).select(cur.as("cur"), acc.as("acc"))) == 1)
    }}
  }
}
