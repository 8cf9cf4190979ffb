package graft.expr

import org.apache.spark.sql.catalyst.expressions.{Literal, Lower}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSpec
import graft.kernel.SafetyKernel

/** The kernel's lookups case-fold with [[WeightExprs.asciiLower]] instead
  * of Spark's `lower` (ICU case mappings). The two folds pick the same
  * lookup entry for every input string when (1) the only non-ASCII code
  * point `lower` maps to pure ASCII is U+212A KELVIN SIGN (→ "k") and (2)
  * no lookup key contains "k" or a character outside lowercase ASCII.
  * Both facts are checked here; ScoringPipelineSpec checks whole kernels.
  */
class AsciiFoldSpec extends SparkSpec {

  test("Spark's lower maps exactly one non-ASCII code point to pure ASCII: U+212A") {
    val lower = Lower(Literal(""))
    def lc(cp: Int): String =
      lower.convert(UTF8String.fromString(new String(Character.toChars(cp)))).toString
    val toAscii = (0x80 to Character.MAX_CODE_POINT).iterator
      .filterNot(cp => cp >= Character.MIN_SURROGATE && cp <= Character.MAX_SURROGATE)
      .filter(cp => lc(cp).forall(_ < 0x80))
      .toSeq
    assert(toAscii == Seq(0x212A), toAscii.map(cp => f"U+$cp%04X"))
    assert(lc(0x212A) == "k")
  }

  test("every kernel lookup key is lowercase ASCII without k") {
    val keys = SafetyKernel.CanonicalTypes ++ WeightExprs.SpatialBandwidth.keys ++
      WeightExprs.TemporalLambda.keys ++ WeightExprs.ElevationDecayConstant.keys ++
      WeightExprs.KernelSeverityKeys
    for (k <- keys)
      assert(k.nonEmpty && k.forall(c => c >= 'a' && c <= 'z') && !k.contains('k'), k)
  }

  test("asciiLower folds A-Z only") {
    val in = "AZaz09@[`{ \u00C0\u00C9\u0130\u212A\u00DF"
    assert(evalString(WeightExprs.asciiLower(lit(in))) == "azaz09@[`{ \u00C0\u00C9\u0130\u212A\u00DF")
    assert(spark.range(1).select(WeightExprs.asciiLower(lit(null).cast("string"))).head()
      .isNullAt(0))
  }
}
