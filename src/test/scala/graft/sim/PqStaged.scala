package graft.sim

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.sim.Similarity.{PqCodebooks, cbLit}

/** The staged higher-order-function forms of the PQ kernels — the parity
  * twins PqExprsSpec pins the native expressions (graft.expr.PqExprs)
  * against. Test-only: no production path calls them.
  */
object PqStaged {

  /** The staged higher-order-function form of [[Similarity.pqEncode]] — the original
    * hot path, kept as the parity twin PqExprsSpec pins the native
    * expression against (the MinHashSigs discipline: replacing an
    * operator's internals keeps the replaced form as a bit-identity
    * witness). One top-level size() guard so short vectors rank last
    * instead of throwing INVALID_ARRAY_INDEX under ANSI mode; a
    * per-element try_element_at guard measured 3× slower across the whole
    * 256-term tree, so the guard sits OUTSIDE the hot fold.
    */
  def pqEncodeStaged(vec: Column, cb: PqCodebooks): Column = {
    val cmat = cbLit(cb)
    val enc = transform(sequence(lit(0), lit(cb.numSub - 1)), m => {
      val dists = transform(sequence(lit(0), lit(cb.ksub - 1)), j =>
        aggregate(sequence(lit(0), lit(cb.ds - 1)), lit(0.0), (acc, d) => {
          val x = element_at(vec, m * cb.ds + d + 1)
          val c = element_at(element_at(element_at(cmat, m + 1), j + 1), d + 1)
          acc + (x - c) * (x - c)
        }))
      (array_position(dists, array_min(dists)) - 1).cast("int")
    })
    when(size(vec) >= cb.numSub * cb.ds, enc).otherwise(lit(null).cast("array<int>"))
  }

  /** Staged higher-order-function form of the ADC sum — the parity twin
    * PqExprsSpec pins the native `pq_adc_score` against (seed variants
    * cover both the plain 0.0-seeded and the residual sim-seeded folds).
    */
  def adcScoreStaged(codes: Column, lut: Column, seed: Column, cb: PqCodebooks): Column =
    aggregate(sequence(lit(0), lit(cb.numSub - 1)), seed, (acc, m) =>
      acc + element_at(lut, m.cast("int") * cb.ksub + element_at(codes, m + 1) + 1))
}
