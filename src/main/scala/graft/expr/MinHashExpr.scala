package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native single-pass MinHash signature over a token array — all
  * `numHashes` minima computed in one codegen'd scan, no explode, no
  * aggregate, no shuffle.
  *
  * Semantics are bit-identical to the reference forms in the test tree
  * (`MinHashStaged.minhashSignature` / the explode→min-aggregate bulk
  * form it replaced as the hot path), reproducing Spark's own hash pipeline
  * exactly:
  *
  *  - shingle `s` (0-based) covers tokens `[s, min(s+w, n))`; there are
  *    `max(n-(w-1), 1)` shingles, so a doc shorter than `w` tokens gets
  *    one short shingle and an empty array hashes the empty string —
  *    the same windows `sequence(1, greatest(n-(w-1), 1))` +
  *    `slice(toks, i, w)` produce;
  *  - the shingle string is the window joined by a single space with
  *    null tokens skipped (`UTF8String.concatWs` ≡ `concat_ws(" ", …)`);
  *  - the shingle hash is `xxhash64(shingleStr)` =
  *    `XXH64.hashUTF8String(str, 42)`;
  *  - per hash function `k`, the seeded value is `xxhash64(k, shingle)`
  *    — Spark folds multi-input xxhash64 left-to-right, so that is
  *    `XXH64.hashLong(shingleHash, XXH64.hashInt(k, 42))`; the per-k
  *    seeds are precomputed once.
  *
  * Duplicate shingles cannot change a minimum, so the reference form's
  * `array_distinct` needs no mirror here. A null token array (null text
  * upstream) yields NULL via standard unary null propagation — callers
  * drop null docs, matching the explode form where a NULL shingle array
  * emitted no rows.
  *
  * Why native: the HOF column form is CodegenFallback (interpreted
  * lambdas per shingle × hash), and the explode→agg bulk form pays a
  * (doc, shingle) row fan-out plus a doc-keyed hash exchange. This
  * expression is pure map-side scan throughput — the shape that
  * survives 100 TB — and it is what `Dedup.minhashSignatures` and the
  * streaming LSH prelude now run.
  */
case class MinHashSigs(child: Expression, numHashes: Int, shingleWidth: Int)
    extends UnaryExpression {

  require(numHashes >= 1, s"minhash_sigs: numHashes must be >= 1, got $numHashes")
  // w = 0 would give EVERY doc the single shingle xxhash64("") — same
  // guard (and reason) as TextExprs.shingleHashes
  require(shingleWidth >= 1,
    s"minhash_sigs: shingle width must be >= 1, got $shingleWidth")

  private val Seed = 42L // xxhash64's default seed (Spark XxHash64.seed)

  /** seeds(k) = xxhash64's running hash after its first input `lit(k)`:
    * the exact per-function seed `min(xxhash64(lit(k), sh))` used.
    */
  private lazy val seeds: Array[Long] =
    Array.tabulate(numHashes)(k => XXH64.hashInt(k, Seed))

  private lazy val sep: UTF8String = UTF8String.fromString(" ")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "minhash_sigs"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"minhash_sigs requires array<string>, got $t")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val numSh = math.max(n - (shingleWidth - 1), 1)
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var s = 0
    while (s < numSh) {
      val end = math.min(s + shingleWidth, n)
      val parts = new Array[UTF8String](end - s)
      var j = s
      while (j < end) {
        parts(j - s) = if (arr.isNullAt(j)) null else arr.getUTF8String(j)
        j += 1
      }
      val sh = XXH64.hashUTF8String(UTF8String.concatWs(sep, parts: _*), Seed)
      var k = 0
      while (k < numHashes) {
        val v = XXH64.hashLong(sh, seeds(k))
        if (v < mins(k)) mins(k) = v
        k += 1
      }
      s += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val numSh = ctx.freshName("numSh")
      val mins = ctx.freshName("mins")
      val s = ctx.freshName("s")
      val end = ctx.freshName("end")
      val parts = ctx.freshName("parts")
      val j = ctx.freshName("j")
      val sh = ctx.freshName("sh")
      val k = ctx.freshName("k")
      val v = ctx.freshName("v")
      val seedsRef = ctx.addReferenceObj("seeds", seeds, "long[]")
      val sepRef = ctx.addReferenceObj("sep", sep,
        classOf[UTF8String].getName)
      val xxh64 = classOf[XXH64].getName
      val utf8 = classOf[UTF8String].getName
      val unsafeArr = classOf[UnsafeArrayData].getName
      s"""
         |int $n = $a.numElements();
         |int $numSh = Math.max($n - ${shingleWidth - 1}, 1);
         |long[] $mins = new long[$numHashes];
         |java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |for (int $s = 0; $s < $numSh; $s++) {
         |  int $end = Math.min($s + $shingleWidth, $n);
         |  $utf8[] $parts = new $utf8[$end - $s];
         |  for (int $j = $s; $j < $end; $j++) {
         |    $parts[$j - $s] = $a.isNullAt($j) ? null : $a.getUTF8String($j);
         |  }
         |  long $sh = $xxh64.hashUTF8String($utf8.concatWs($sepRef, $parts), ${Seed}L);
         |  for (int $k = 0; $k < $numHashes; $k++) {
         |    long $v = $xxh64.hashLong($sh, $seedsRef[$k]);
         |    if ($v < $mins[$k]) $mins[$k] = $v;
         |  }
         |}
         |${ev.value} = $unsafeArr.fromPrimitiveArray($mins);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashSigs =
    copy(child = newChild)
}

object MinHashExpr {

  /** Codegen'd MinHash signature (array&lt;bigint&gt; of `numHashes`
    * seeded minima) of an array&lt;string&gt; token column.
    */
  def minhashSigs(tokens: Column, numHashes: Int, shingleWidth: Int): Column =
    ColumnBridge.column(
      MinHashSigs(ColumnBridge.expression(tokens), numHashes, shingleWidth))

  /** SQL-surface builder (`minhash_sigs(toks, numHashes, w)`): the two
    * size parameters shape the OUTPUT TYPE's arity and the generated
    * code, so they must be integer literals, not runtime columns.
    */
  def fromSql(exprs: Seq[Expression]): MinHashSigs = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    if (exprs.length != 3)
      throw new IllegalArgumentException(
        s"minhash_sigs(tokens, numHashes, shingleWidth) takes exactly 3 " +
          s"arguments, got ${exprs.length}")
    // any FOLDABLE integral size is safe after folding (BIGINT 4, 2+2, …)
    // — the values only shape the output arity and the generated code
    def intOf(e: Expression, what: String): Int = {
      val folded =
        if (e.foldable && !e.isInstanceOf[Literal]) Literal.create(e.eval(), e.dataType)
        else e
      folded match {
        case Literal(v: Int, IntegerType) => v
        case Literal(v: Long, LongType) if v.isValidInt => v.toInt
        case Literal(v: Short, ShortType) => v.toInt
        case Literal(v: Byte, ByteType) => v.toInt
        case _ => throw new IllegalArgumentException(
          s"minhash_sigs: $what must be an integer literal, got $e")
      }
    }
    MinHashSigs(exprs(0), intOf(exprs(1), "numHashes"),
      intOf(exprs(2), "shingleWidth"))
  }
}
