package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native 63-bit SimHash over a token array — one codegen'd pass.
  *
  * Semantics are bit-identical to `MinHashStaged.simhash63` (the
  * higher-order-function reference form, in the test tree): per token `h = xxhash64(token)` (Spark's default seed
  * 42), each of the 63 low bits votes ±1, the result packs `vote > 0` bits
  * with bit 62 as MSB. A null token hashes to the seed (XxHash64's
  * null-skip behavior); an EMPTY array packs to 0L, a null array yields
  * NULL (standard unary null propagation — same as the staged twin's
  * aggregate-over-null).
  *
  * Why native: the HOF form is CodegenFallback (interpreted lambda per
  * token × 63 bits), and the bulk explode→63-aggregate form pays 63
  * aggregate expressions per (doc, token) row plus a doc-keyed shuffle.
  * This expression runs the whole kernel inside whole-stage codegen with
  * NO explode and NO shuffle — pure map-side scan throughput, the shape
  * that survives 100 TB.
  */
case class SimHash63(child: Expression) extends UnaryExpression {

  private val Seed = 42L // xxhash64's default seed (Spark XxHash64.seed)

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"simhash63 requires array<string>, got $t")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val votes = new Array[Int](63)
    var i = 0
    while (i < n) {
      val h = if (arr.isNullAt(i)) Seed
        else XXH64.hashUTF8String(arr.getUTF8String(i), Seed)
      var j = 0
      while (j < 63) {
        if (((h >>> j) & 1L) != 0L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
      i += 1
    }
    var acc = 0L
    var j = 62
    while (j >= 0) {
      acc = acc * 2L + (if (votes(j) > 0) 1L else 0L)
      j -= 1
    }
    acc
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val votes = ctx.freshName("votes")
      val acc = ctx.freshName("acc")
      val xxh64 = classOf[XXH64].getName
      s"""
         |int $n = $a.numElements();
         |int[] $votes = new int[63];
         |for (int $i = 0; $i < $n; $i++) {
         |  long $h = $a.isNullAt($i) ? ${Seed}L
         |    : $xxh64.hashUTF8String($a.getUTF8String($i), ${Seed}L);
         |  for (int $j = 0; $j < 63; $j++) {
         |    if ((($h >>> $j) & 1L) != 0L) $votes[$j]++; else $votes[$j]--;
         |  }
         |}
         |long $acc = 0L;
         |for (int $j = 62; $j >= 0; $j--) {
         |  $acc = $acc * 2L + ($votes[$j] > 0 ? 1L : 0L);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash63 =
    copy(child = newChild)
}

object SimHashExpr {

  /** Codegen'd 63-bit SimHash of an array&lt;string&gt; token column. */
  def simhash63(tokens: Column): Column =
    ColumnBridge.column(SimHash63(ColumnBridge.expression(tokens)))
}
