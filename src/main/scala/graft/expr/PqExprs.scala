package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Native codegen'd product-quantization kernels — the ANN hot path.
  *
  * The staged forms (`PqStaged.pqEncodeStaged` and `PqStaged.adcScoreStaged`,
  * the `aggregate(sequence(...))` ADC fold, kept in the test tree as
  * parity twins) are higher-order functions, which
  * are CodegenFallback: every one of the `numSub·ksub·ds` encode terms and
  * every per-candidate LUT lookup runs through an interpreted lambda with
  * boxing. Encoding dominated the 1M-vector ANN bench arms
  * (ann_pq_encode_1m ≈ the whole ann_pq_1m wall), and the score fold runs
  * per CANDIDATE PAIR (|queries| × corpus). These expressions compute the
  * same values in tight primitive loops (the MinHashSigs / DotProductD
  * idiom) — bit-identical by construction: same distance fold order
  * `acc + (x−c)·(x−c)` left-associated in dimension order, same
  * first-position-of-minimum tie rule under Spark's double ordering (NaN
  * largest, ties to the lowest codeword index), same null semantics (a
  * null element inside a subvector nulls that subvector's code; a short
  * vector encodes as NULL; a null code/LUT element nulls the score), and
  * the ADC sum `((seed + t₀) + t₁) + …` in subspace order. Parity with
  * the staged HOF forms and interpreted≡codegen parity are spec-pinned
  * (PqExprsSpec); the s06/s08/s09 full oracles replay the values
  * end-to-end in DuckDB.
  */
object PqExprs {

  /** Codegen'd PQ encode: vec → `numSub` nearest-codeword indices. */
  def pqEncode(vec: Column, numSub: Int, ksub: Int, ds: Int,
               cb: IndexedSeq[IndexedSeq[IndexedSeq[Double]]]): Column =
    ColumnBridge.column(
      PqEncodeCodes(ColumnBridge.expression(vec), numSub, ksub, ds, cb))

  /** Codegen'd ADC sum: seed + Σₘ lut[m·ksub + codes[m]], left-assoc. */
  def adcScore(codes: Column, lut: Column, seed: Column,
               numSub: Int, ksub: Int): Column =
    ColumnBridge.column(PqAdcScore(
      ColumnBridge.expression(codes), ColumnBridge.expression(lut),
      ColumnBridge.expression(seed), numSub, ksub))
}

/** `codes[m] = argmin_j Σ_d (vec[m·ds+d] − cb[m][j][d])²` with ties to the
  * lowest `j` — the exact semantics of the staged
  * `transform(…, array_position(dists, array_min(dists)) − 1)` form:
  *
  *  - distances fold left-associated in dimension order from 0.0;
  *  - the minimum uses Spark's double ordering (NaN greater than any
  *    non-NaN value), and the FIRST index attaining it wins — a strict
  *    `<` scan reproduces both;
  *  - a vector shorter than `numSub·ds` encodes as NULL (the staged
  *    form's top-level size guard);
  *  - a null element anywhere in subvector `m` nulls every one of its
  *    distances (null is absorbing in the fold), so `array_min` → null →
  *    `array_position(…, null)` → null: code m is NULL.
  */
case class PqEncodeCodes(child: Expression, numSub: Int, ksub: Int, ds: Int,
                         cb: IndexedSeq[IndexedSeq[IndexedSeq[Double]]])
    extends UnaryExpression {

  require(numSub >= 1 && ksub >= 1 && ds >= 1, "pq_encode: empty model")
  require(cb.length == numSub && cb.forall(_.length == ksub) &&
    cb.forall(_.forall(_.length == ds)), "pq_encode: codebook shape mismatch")

  // flattened [m][j][d] for primitive indexed access in eval/codegen
  @transient private lazy val flat: Array[Double] =
    cb.flatten.flatten.toArray

  override def dataType: DataType = ArrayType(IntegerType, containsNull = true)

  // the short-vector guard produces NULL even for a non-null input
  override def nullable: Boolean = true

  override def prettyName: String = "pq_encode"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"pq_encode requires array<double>, got $t")
  }

  override def nullSafeEval(input: Any): Any = {
    val vec = input.asInstanceOf[ArrayData]
    if (vec.numElements() < numSub * ds) return null
    val out = new Array[Any](numSub)
    var m = 0
    while (m < numSub) {
      var bestJ = -1
      var best = 0.0
      var anyNull = false
      // null scan first: one null element nulls EVERY dist of subspace m
      var d = 0
      while (d < ds && !anyNull) {
        if (vec.isNullAt(m * ds + d)) anyNull = true
        d += 1
      }
      if (!anyNull) {
        var j = 0
        while (j < ksub) {
          var acc = 0.0
          var dd = 0
          while (dd < ds) {
            val x = vec.getDouble(m * ds + dd)
            val c = flat((m * ksub + j) * ds + dd)
            acc = acc + (x - c) * (x - c)
            dd += 1
          }
          // first-position-of-min under Spark's ordering: strictly-less
          // update, with NaN treated as larger than any non-NaN
          if (bestJ < 0 || acc < best ||
            (java.lang.Double.isNaN(best) && !java.lang.Double.isNaN(acc))) {
            best = acc; bestJ = j
          }
          j += 1
        }
      }
      out(m) = if (anyNull) null else Integer.valueOf(bestJ)
      m += 1
    }
    new GenericArrayData(out)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, vec => {
      val cbRef = ctx.addReferenceObj("pqCodebook", flat, "double[]")
      val out = ctx.freshName("out")
      val m = ctx.freshName("m")
      val j = ctx.freshName("j")
      val d = ctx.freshName("d")
      val dd = ctx.freshName("dd")
      val acc = ctx.freshName("acc")
      val best = ctx.freshName("best")
      val bestJ = ctx.freshName("bestJ")
      val anyNull = ctx.freshName("anyNull")
      val x = ctx.freshName("x")
      val c = ctx.freshName("c")
      val gad = classOf[GenericArrayData].getName
      s"""
         |if ($vec.numElements() < ${numSub * ds}) {
         |  ${ev.isNull} = true;
         |} else {
         |  Object[] $out = new Object[$numSub];
         |  for (int $m = 0; $m < $numSub; $m++) {
         |    boolean $anyNull = false;
         |    for (int $d = 0; $d < $ds && !$anyNull; $d++) {
         |      if ($vec.isNullAt($m * $ds + $d)) $anyNull = true;
         |    }
         |    if ($anyNull) { $out[$m] = null; continue; }
         |    int $bestJ = -1;
         |    double $best = 0.0;
         |    for (int $j = 0; $j < $ksub; $j++) {
         |      double $acc = 0.0;
         |      for (int $dd = 0; $dd < $ds; $dd++) {
         |        double $x = $vec.getDouble($m * $ds + $dd);
         |        double $c = $cbRef[($m * $ksub + $j) * $ds + $dd];
         |        $acc = $acc + ($x - $c) * ($x - $c);
         |      }
         |      if ($bestJ < 0 || $acc < $best ||
         |          (Double.isNaN($best) && !Double.isNaN($acc))) {
         |        $best = $acc; $bestJ = $j;
         |      }
         |    }
         |    $out[$m] = Integer.valueOf($bestJ);
         |  }
         |  ${ev.value} = new $gad($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PqEncodeCodes =
    copy(child = newChild)
}

/** `seed + Σ_{m=0}^{numSub-1} lut[m·ksub + codes[m]]`, left-associated in
  * subspace order — the exact semantics of the staged
  * `aggregate(sequence(0, numSub−1), seed, (acc, m) ⇒ acc +
  * element_at(lut, m·ksub + codes[m] + 1))` fold: a null seed, a null
  * code, or a null LUT entry nulls the whole sum (null is absorbing in
  * the fold). Inputs `pq_encode`/`pqAdcLut` cannot produce FAIL LOUDLY,
  * like the staged form's ANSI `element_at` did: a codes array shorter
  * than `numSub` and a code indexing outside the LUT both throw
  * (round-18 advisor fix — the short-codes case previously nulled
  * silently, so a truncated codes column from a future caller would
  * have scored as NULL instead of failing the job).
  */
case class PqAdcScore(first: Expression, second: Expression, third: Expression,
                      numSub: Int, ksub: Int)
    extends TernaryExpression {

  require(numSub >= 1 && ksub >= 1, "pq_adc_score: empty model")

  def codes: Expression = first
  def lut: Expression = second
  def seed: Expression = third

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "pq_adc_score"

  override def checkInputDataTypes(): TypeCheckResult =
    (codes.dataType, lut.dataType, seed.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(DoubleType, _), DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"pq_adc_score requires (array<int>, array<double>, double), got ($a, $b, $c)")
    }

  override def nullSafeEval(codesAny: Any, lutAny: Any, seedAny: Any): Any = {
    val cs = codesAny.asInstanceOf[ArrayData]
    val lt = lutAny.asInstanceOf[ArrayData]
    var acc = seedAny.asInstanceOf[Double]
    var m = 0
    if (cs.numElements() < numSub)
      throw new IllegalStateException(
        s"pq_adc_score: codes array has ${cs.numElements()} elements, expected $numSub")
    while (m < numSub) {
      if (cs.isNullAt(m)) return null
      val idx = m * ksub + cs.getInt(m)
      if (idx < 0 || idx >= lt.numElements())
        throw new IllegalStateException(
          s"pq_adc_score: code ${cs.getInt(m)} of subspace $m indexes outside the LUT")
      if (lt.isNullAt(idx)) return null
      acc = acc + lt.getDouble(idx)
      m += 1
    }
    acc
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (cs, lt, seed) => {
      val acc = ctx.freshName("acc")
      val m = ctx.freshName("m")
      val idx = ctx.freshName("idx")
      val bad = ctx.freshName("bad")
      s"""
         |if ($cs.numElements() < $numSub) {
         |  throw new IllegalStateException(
         |    "pq_adc_score: codes array has " + $cs.numElements() +
         |    " elements, expected " + $numSub);
         |} else {
         |  double $acc = $seed;
         |  boolean $bad = false;
         |  for (int $m = 0; $m < $numSub && !$bad; $m++) {
         |    if ($cs.isNullAt($m)) { $bad = true; continue; }
         |    int $idx = $m * $ksub + $cs.getInt($m);
         |    if ($idx < 0 || $idx >= $lt.numElements()) {
         |      throw new IllegalStateException(
         |        "pq_adc_score: code " + $cs.getInt($m) + " of subspace " + $m +
         |        " indexes outside the LUT");
         |    }
         |    if ($lt.isNullAt($idx)) { $bad = true; continue; }
         |    $acc = $acc + $lt.getDouble($idx);
         |  }
         |  if ($bad) { ${ev.isNull} = true; } else { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): PqAdcScore =
    copy(first = newFirst, second = newSecond, third = newThird)
}
