package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.text.TextExprs

/** The staged and higher-order-function reference forms of the dedup
  * signatures — the independently derived semantics DedupSpec,
  * ExprParitySpec and KernelPruningSpec pin the native signature
  * expressions ([[graft.expr.MinHashSigs]], [[graft.expr.SimHash63]])
  * against. Test-only: no production path calls them.
  */
object MinHashStaged {

  /** The staged explode → hash-aggregate form [[Dedup.minhashSignatures]]
    * replaced as the hot path: one row per (doc, shingle), then
    * `numHashes` codegen'd `min(xxhash64(i, sh))` aggregates reassembled
    * into a signature array. Kept as the independent derivation the
    * parity spec pins the native expression against (its only shuffle is
    * the `idCol`-keyed aggregation with map-side partial mins — already
    * scale-safe, just strictly more work than the fused scan).
    */
  def minhashSignaturesStaged(df: DataFrame, idCol: String,
      textCol: String, numHashes: Int, shingleWidth: Int): DataFrame = {
    val exploded = graft.Partitioning.balanced(df).select(col(idCol),
      explode(TextExprs.shingleHashes(col(textCol), shingleWidth)).as("sh"))
    val mins = (0 until numHashes).map(i => min(xxhash64(lit(i), col("sh"))).as(s"m$i"))
    exploded.groupBy(idCol)
      .agg(mins.head, mins.tail: _*)
      .select(col(idCol), array((0 until numHashes).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** MinHash signature column: `numHashes` minima over seeded xxhash64 of
    * w-token shingles, as higher-order functions (CodegenFallback —
    * interpreted per element).
    */
  def minhashSignature(text: Column, numHashes: Int, shingleWidth: Int): Column = {
    val shingles = TextExprs.shingleHashes(text, shingleWidth)
    // null text → NULL signature, not [NULL × numHashes] (the outer
    // transform runs over a non-null index sequence): consistent with the
    // bulk forms, which drop null docs
    when(text.isNull, lit(null).cast("array<bigint>"))
      .otherwise(transform(sequence(lit(0), lit(numHashes - 1)),
        i => array_min(transform(shingles, sh => xxhash64(i, sh)))))
  }

  /** 63-bit SimHash over token hashes: bit j of the result is the sign of
    * Σ_tokens (±1 by bit j of xxhash64(token)). 63 bits so the Horner
    * packing never overflows a long (ANSI-safe).
    */
  def simhash63(text: Column): Column = {
    val toks = TextExprs.tokens(text)
    val bitVotes = transform(sequence(lit(0), lit(62)), j =>
      aggregate(toks, lit(0L),
        (acc, t) => acc + when(
          xxhash64(t).bitwiseAND(pow(lit(2.0), j).cast("long")) =!= 0L, 1L)
          .otherwise(-1L)))
    // null text → NULL, as the native [[graft.expr.SimHash63]] (without the
    // guard the outer aggregate packs every NULL vote to a 0-bit: simhash
    // 0L). MSB = bit 62; acc stays < 2^63 throughout.
    when(text.isNull, lit(null).cast("bigint"))
      .otherwise(aggregate(reverse(bitVotes), lit(0L),
        (acc, v) => acc * 2L + when(v > 0, 1L).otherwise(0L)))
  }
}
