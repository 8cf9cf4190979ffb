package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.text.TextExprs

/** The staged MinHash form — the parity twin DedupSpec pins the native
  * signature expression against. Test-only: no production path calls it.
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
}
