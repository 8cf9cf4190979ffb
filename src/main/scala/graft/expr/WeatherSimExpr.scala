package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StructType}

/** Native scalar kernel for the 6-factor weather-pattern similarity
  * (SURVEY A3-A5; ref `backend/app/services/weather_similarity.py:88-218`).
  *
  * The staged Column-form similarity (WeatherExprs.withWeatherSimilarity)
  * is correct but builds a ~10k-node expression
  * tree: five weighted Pearsons over 7-day arrays via higher-order
  * functions, each a deep `aggregate`/`zip_with` nest. Every query that
  * composes it (k14/k16/k18 kernels, interactive predict) paid ~10-20 s of
  * fixed driver cost — Catalyst rule iteration plus janino compilation of
  * megabyte-scale generated classes — to process a few thousand accident
  * rows. This expression is the same arithmetic as ONE tree node: plans
  * shrink back to normal size and the per-row loop is a tight primitive
  * pass over the ArrayData buffers (the SURVEY §7.3 preference order —
  * native Expression for a scalar kernel built-ins can't express
  * efficiently).
  *
  * Bit-exactness: every sum is the same left fold, every multiply the same
  * association order, and every edge rule (zero-variance Pearson cases,
  * [-1,1] clamp, freeze-thaw null → 0.0 similarity, <5-day validity → 0.0)
  * the same branch as the staged Column form, so results are bit-identical
  * (WeatherSimExprSpec asserts exact equality against the staged form; the
  * w04/w07/k14/k16/k18 DuckDB oracles hash the same values).
  *
  * Inputs are two pattern structs as built by [[graft.weather.WeatherExprs
  * .pattern]]: five array&lt;double&gt; factor series (non-null elements —
  * the assembly's per-field defaults guarantee this) plus
  * `daily_temps: array&lt;struct&lt;min,avg,max&gt;&gt;`. A null struct on
  * either side yields NULL (callers coalesce to the reference's neutral
  * 0.5); a malformed side (null factor array / null element) yields the
  * staged form's degenerate 0.0 score for that factor.
  */
case class WeatherPatternSimilarity(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {

  import WeatherPatternSimilarity._

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "weather_pattern_similarity"

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

  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[InternalRow], curOrd, curDt,
      b.asInstanceOf[InternalRow], accOrd, accDt)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WeatherPatternSimilarity =
    copy(left = newLeft, right = newRight)
}

object WeatherPatternSimilarity {

  /** Canonical factor order — mirrors the reference dict iteration order
    * and the staged Column form's score summation order.
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

  private val MinDays = 5      // WeatherExprs.MinWeatherDaysRequired
  private val Decay = 0.85     // StatsExprs.WithinWindowDecay
  private val FactorWeight = 1.0 / 6

  // scalastyle:off method.length
  private def compute(cur: InternalRow, co: Array[Int], cdt: (Int, Int, Int),
                      acc: InternalRow, ao: Array[Int], adt: (Int, Int, Int)): Any = {
    val curTemp = if (cur.isNullAt(co(0))) null else cur.getArray(co(0))
    val accTemp = if (acc.isNullAt(ao(0))) null else acc.getArray(ao(0))
    if (curTemp == null || accTemp == null) return null
    // validity gate uses the FULL series lengths (staged: size(x.temperature))
    if (curTemp.numElements() < MinDays || accTemp.numElements() < MinDays)
      return 0.0

    val n = math.min(curTemp.numElements(), accTemp.numElements())
    // within-window weights, oldest→newest: raw = decay^(n-1-i), then the
    // staged form normalizes TWICE (withinWindowWeights + weightedPearson's
    // internal renormalization) — reproduce both passes for bit-equality
    val wn = new Array[Double](n)
    var wsum1 = 0.0
    var i = 0
    while (i < n) { wn(i) = math.pow(Decay, (n - 1 - i).toDouble); wsum1 += wn(i); i += 1 }
    var wsum2 = 0.0
    i = 0
    while (i < n) { wn(i) = wn(i) / wsum1; wsum2 += wn(i); i += 1 }
    i = 0
    while (i < n) { wn(i) = wn(i) / wsum2; i += 1 }

    // one factor's weighted-Pearson score; any null/short array → the
    // staged form's null-poisoned degenerate branch, which lands on
    // score = factorScore(-1) = 0.0
    def score(f: Int): Double = {
      if (cur.isNullAt(co(f)) || acc.isNullAt(ao(f))) return 0.0
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
    var base = score(0) * FactorWeight
    var f = 1
    while (f < 5) { base += score(f) * FactorWeight; f += 1 }
    base += ftSim * FactorWeight
    base
  }
  // scalastyle:on method.length

  /** Column factory: native 6-factor similarity of two pattern structs. */
  def similarity(current: Column, accident: Column): Column =
    ColumnBridge.column(WeatherPatternSimilarity(
      ColumnBridge.expression(current), ColumnBridge.expression(accident)))
}
