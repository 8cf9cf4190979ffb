package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StructField, StructType}

import graft.expr.StatsExprs.WithinWindowDecay
import graft.weather.WeatherExprs.{FactorWeight, MinWeatherDaysRequired}

/** Native scalar kernel for the 6-factor weather-pattern similarity
  * (SURVEY A3-A5; ref `backend/app/services/weather_similarity.py:88-218`)
  * — the one Catalyst similarity. [[WeatherPatternSimilarity]] (the
  * composite: nightly, predict, memo, k14/k16/k18, w04 and the
  * `weather_similarity` SQL function) and [[WeatherPatternDetail]] (its
  * per-factor breakdown: w10) run the one `compute` body.
  *
  * Why native: the staged Column form (five weighted Pearsons over 7-day
  * arrays via higher-order functions, each a deep `aggregate`/`zip_with`
  * nest) built a ~10k-node expression tree, and every query composing it
  * paid ~10-20 s of fixed driver cost — Catalyst rule iteration plus
  * janino compilation of megabyte-scale generated classes. This is the
  * same arithmetic as ONE tree node, and the per-row loop is a tight
  * primitive pass over the ArrayData buffers (SURVEY §7.3).
  *
  * Bit-exactness: every sum is the same left fold, every multiply the same
  * association order, and every edge rule (zero-variance Pearson cases,
  * [-1,1] clamp, freeze-thaw null → 0.0 similarity, <5-day validity → 0.0)
  * the same branch as the staged form, which the test tree keeps as the
  * independent reference (`graft.weather.WeatherSimStaged`);
  * WeatherSimExprSpec asserts exact equality of the composite and of every
  * detail column against it.
  *
  * Inputs are two pattern structs as built by [[graft.weather.WeatherExprs
  * .pattern]]: five array&lt;double&gt; factor series (non-null elements —
  * the assembly's per-field defaults guarantee this) plus
  * `daily_temps: array&lt;struct&lt;min,avg,max&gt;&gt;`. A null struct or
  * temperature series on either side yields NULL (callers coalesce to the
  * reference's neutral 0.5). A NULL array of any other factor is rejected
  * with an error naming the factor and the side: assembled patterns carry
  * an empty array, never NULL, and no score for it agrees with the staged
  * reference, whose three-valued logic gives 0.5 against a constant series
  * and 0.0 otherwise. A null element yields the degenerate 0.0 score for
  * that factor.
  */
sealed abstract class PatternPairExpression extends BinaryExpression with CodegenFallback {

  import WeatherPatternSimilarity._

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    // compute() reads primitives positionally, so the SHAPE must be fully
    // validated here — a lenient check would turn SQL-surface misuse
    // (int arrays, misnamed temp bounds) into silently-wrong similarities
    def ok(t: DataType): Boolean = t match {
      case st: StructType =>
        val names = st.fieldNames.toSet
        val factorsOk = Factors.forall(f => names.contains(f) &&
          (st(f).dataType match {
            case ArrayType(DoubleType, _) => true
            case _ => false
          }))
        val dtOk = names.contains("daily_temps") && (st("daily_temps").dataType match {
          case ArrayType(et: StructType, _) =>
            Seq("min", "max").forall(b => et.fieldNames.contains(b) &&
              et(b).dataType == DoubleType)
          case _ => false
        })
        factorsOk && dtOk
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two pattern structs with array<double> factors " +
        s"(${Factors.mkString(", ")}) and daily_temps: " +
        "array<struct<min: double, …, max: double>>, " +
        s"got ${left.dataType.simpleString} / ${right.dataType.simpleString}")
  }

  @transient private lazy val curOrd = ordinals(left.dataType)
  @transient private lazy val accOrd = ordinals(right.dataType)
  @transient private lazy val curDt = dtOrdinals(left.dataType)
  @transient private lazy val accDt = dtOrdinals(right.dataType)

  /** The composite of one non-null pair, its parts reported to `parts`. */
  protected def similarityOf(a: Any, b: Any, parts: Parts): Any =
    compute(a.asInstanceOf[InternalRow], curOrd, curDt,
      b.asInstanceOf[InternalRow], accOrd, accDt, parts)
}

/** The composite similarity: one double per pair. */
case class WeatherPatternSimilarity(left: Expression, right: Expression)
  extends PatternPairExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "weather_pattern_similarity"

  override def nullSafeEval(a: Any, b: Any): Any =
    similarityOf(a, b, WeatherPatternSimilarity.NoParts)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WeatherPatternSimilarity =
    copy(left = newLeft, right = newRight)
}

/** The reference's `calculate_weather_similarity_detailed`
  * (`weather_similarity.py:347-483`): one [[WeatherPatternSimilarity.DetailType]]
  * struct per pair, its composite [[WeatherPatternSimilarity]]'s value bit
  * for bit. NULL where the composite is NULL; an invalid pair (< 5 days on
  * either side, an empty pattern included) is all zeros, the relational
  * spelling of the reference's empty-dict-and-zeros return.
  */
case class WeatherPatternDetail(left: Expression, right: Expression)
  extends PatternPairExpression {

  override def dataType: DataType = WeatherPatternSimilarity.DetailType
  override def prettyName: String = "weather_pattern_detail"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val parts = new WeatherPatternSimilarity.Detail
    similarityOf(a, b, parts) match {
      case s: Double => parts.row.update(9, s); parts.row
      case _ => null
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WeatherPatternDetail =
    copy(left = newLeft, right = newRight)
}

object WeatherPatternSimilarity {

  /** Canonical factor order — mirrors the reference dict iteration order,
    * and is the order the composite sums its factor scores in.
    */
  val Factors: Seq[String] =
    Seq("temperature", "precipitation", "wind_speed", "visibility", "cloud_cover")

  private[expr] def ordinals(t: DataType): Array[Int] = {
    val st = t.asInstanceOf[StructType]
    (Factors :+ "daily_temps").map(st.fieldIndex).toArray
  }

  /** (min ordinal, max ordinal, field count) of the daily_temps element
    * struct — resolved by NAME so a caller's field order never matters.
    */
  private[expr] def dtOrdinals(t: DataType): (Int, Int, Int) = {
    val et = t.asInstanceOf[StructType]("daily_temps").dataType
      .asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
    (et.fieldIndex("min"), et.fieldIndex("max"), et.length)
  }

  /** What [[compute]] reports of a valid pair besides the composite: each
    * factor's score (`f` indexes [[Factors]], 5 = freeze-thaw), the
    * freeze-thaw counts (-1 = NULL `daily_temps`) and the days compared.
    * The base class keeps nothing: it is the composite's sink.
    */
  private[expr] class Parts {
    def score(f: Int, s: Double): Unit = ()
    def counts(ftCurrent: Int, ftAccident: Int, days: Int): Unit = ()
  }
  private[expr] val NoParts = new Parts

  /** [[WeatherPatternDetail]]'s struct: `score_<factor>` (the five factors,
    * then `freeze_thaw`), `ft_current` and `ft_accident` (NULL on a NULL
    * `daily_temps` side), `days_compared` and the composite `similarity`.
    */
  val DetailType: StructType = StructType(
    (Factors :+ "freeze_thaw").map(f => StructField(s"score_$f", DoubleType)) ++
      Seq("ft_current", "ft_accident", "days_compared").map(StructField(_, LongType)) :+
      StructField("similarity", DoubleType))

  /** One detail row, zeros until a valid pair reports its parts. */
  private[expr] final class Detail extends Parts {
    val row = new GenericInternalRow(Array[Any](0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0L, 0L, 0L, 0.0))
    override def score(f: Int, s: Double): Unit = row.update(f, s)
    override def counts(ftCurrent: Int, ftAccident: Int, days: Int): Unit = {
      row.update(6, if (ftCurrent < 0) null else ftCurrent.toLong)
      row.update(7, if (ftAccident < 0) null else ftAccident.toLong)
      row.update(8, days.toLong)
    }
  }

  /** Rejects a NULL array among the non-temperature factors of `row`. */
  private def requireFactorArrays(row: InternalRow, ord: Array[Int], side: String): Unit = {
    var f = 1
    while (f < 5) {
      if (row.isNullAt(ord(f))) throw new IllegalArgumentException(
        s"weather pattern similarity: the $side pattern's ${Factors(f)} array is NULL " +
          "(a factor series may be empty, never NULL)")
      f += 1
    }
  }

  // scalastyle:off method.length
  private[expr] def compute(cur: InternalRow, co: Array[Int], cdt: (Int, Int, Int),
                            acc: InternalRow, ao: Array[Int], adt: (Int, Int, Int),
                            parts: Parts): Any = {
    requireFactorArrays(cur, co, "current")
    requireFactorArrays(acc, ao, "accident")
    val curTemp = if (cur.isNullAt(co(0))) null else cur.getArray(co(0))
    val accTemp = if (acc.isNullAt(ao(0))) null else acc.getArray(ao(0))
    if (curTemp == null || accTemp == null) return null
    // validity gate uses the FULL series lengths (staged: size(x.temperature))
    if (curTemp.numElements() < MinWeatherDaysRequired ||
      accTemp.numElements() < MinWeatherDaysRequired) return 0.0

    val n = math.min(curTemp.numElements(), accTemp.numElements())
    // within-window weights, oldest→newest: raw = decay^(n-1-i), then the
    // staged form normalizes TWICE (withinWindowWeights + weightedPearson's
    // internal renormalization) — reproduce both passes for bit-equality
    val wn = new Array[Double](n)
    var wsum1 = 0.0
    var i = 0
    while (i < n) { wn(i) = math.pow(WithinWindowDecay, (n - 1 - i).toDouble); wsum1 += wn(i); i += 1 }
    var wsum2 = 0.0
    i = 0
    while (i < n) { wn(i) = wn(i) / wsum1; wsum2 += wn(i); i += 1 }
    i = 0
    while (i < n) { wn(i) = wn(i) / wsum2; i += 1 }

    // one factor's weighted-Pearson score; a short array or a null
    // element → the staged form's null-poisoned degenerate branch, which
    // lands on score = factorScore(-1) = 0.0
    def score(f: Int): Double = {
      val xs = cur.getArray(co(f))
      val ys = acc.getArray(ao(f))
      if (xs.numElements() < n || ys.numElements() < n) return 0.0
      var j = 0
      while (j < n) {
        if (xs.isNullAt(j) || ys.isNullAt(j)) return 0.0
        j += 1
      }
      var mx = 0.0; var my = 0.0
      j = 0
      while (j < n) {
        mx += xs.getDouble(j) * wn(j)
        my += ys.getDouble(j) * wn(j)
        j += 1
      }
      var vx = 0.0; var vy = 0.0; var cov = 0.0
      j = 0
      while (j < n) {
        val x = xs.getDouble(j); val y = ys.getDouble(j)
        vx += wn(j) * (x - mx) * (x - mx)
        vy += wn(j) * (y - my) * (y - my)
        cov += (x - mx) * (y - my) * wn(j)
        j += 1
      }
      val stdX = math.sqrt(vx)
      val stdY = math.sqrt(vy)
      val pearson =
        if (stdX == 0.0 && stdY == 0.0) 1.0
        else if (stdX == 0.0 || stdY == 0.0) 0.0
        else {
          val corr = cov / (stdX * stdY)
          // staged: least(1, greatest(-1, corr)) — Spark orders NaN largest
          if (corr.isNaN) 1.0 else math.min(1.0, math.max(-1.0, corr))
        }
      (pearson + 1.0) / 2
    }

    // freeze-thaw count: days whose (min, max) straddle 0 °C; null struct /
    // null bound rows are excluded, matching the staged `filter` predicate
    def freezeThaw(row: InternalRow, ord: Int, dtOrd: (Int, Int, Int)): Int = {
      if (row.isNullAt(ord)) return -1 // null count (struct-null daily_temps)
      val (mnI, mxI, nFields) = dtOrd
      val dt = row.getArray(ord)
      var c = 0
      var j = 0
      while (j < dt.numElements()) {
        if (!dt.isNullAt(j)) {
          val s = dt.getStruct(j, nFields)
          if (!s.isNullAt(mnI) && !s.isNullAt(mxI) &&
            s.getDouble(mnI) < 0.0 && s.getDouble(mxI) > 0.0) c += 1
        }
        j += 1
      }
      c
    }

    val fa = freezeThaw(cur, co(5), cdt)
    val fb = freezeThaw(acc, ao(5), adt)
    // staged: null ft on either side null-poisons through to greatest(0.0, …) = 0.0
    val ftSim =
      if (fa < 0 || fb < 0) 0.0
      else {
        val q = math.abs(fa - fb).toDouble / (math.max(math.max(fa, fb), 1) + 7).toDouble
        math.max(0.0, 1.0 - q)
      }

    // base = Σ scoreᵢ·(1/6), same left-assoc order as the staged reduce
    def weighted(f: Int, s: Double): Double = { parts.score(f, s); s * FactorWeight }
    var base = weighted(0, score(0))
    var f = 1
    while (f < 5) { base += weighted(f, score(f)); f += 1 }
    base += weighted(5, ftSim)
    parts.counts(fa, fb, n)
    base
  }
  // scalastyle:on method.length

  /** Column factory: native 6-factor similarity of two pattern structs. */
  def similarity(current: Column, accident: Column): Column =
    ColumnBridge.column(WeatherPatternSimilarity(
      ColumnBridge.expression(current), ColumnBridge.expression(accident)))

  /** Column factory: the [[DetailType]] breakdown of two pattern structs. */
  def detailed(current: Column, accident: Column): Column =
    ColumnBridge.column(WeatherPatternDetail(
      ColumnBridge.expression(current), ColumnBridge.expression(accident)))
}
