package graft.kernel

import org.scalatest.funsuite.AnyFunSuite

/** The scalar facts the multi-date fold's exactness rests on
  * ([[PairMath]]): `x * x` is `StrictMath.pow(x, 2)` bit for bit, exp
  * underflows to exactly 0.0 below the skip threshold's constant, and the
  * trig-free skip tests only fire on pairs whose spatial factor is 0.0 or
  * that lie beyond a prune gate.
  */
class PairMathSpec extends AnyFunSuite {

  private val rnd = new scala.util.Random(42)

  test("x * x == StrictMath.pow(x, 2) bitwise, specials included") {
    val specials = Seq(0.0, -0.0, 1.0, -1.0, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, Double.MinPositiveValue, -Double.MinPositiveValue,
      java.lang.Double.MIN_NORMAL, Double.MaxValue, -Double.MaxValue, 1.3407807929942596e154)
    val randomBits = Iterator.fill(2000000)(java.lang.Double.longBitsToDouble(rnd.nextLong()))
    val randomUnit = Iterator.fill(2000000)(rnd.nextDouble() * 4000 - 2000)
    for (x <- specials.iterator ++ randomBits ++ randomUnit) {
      val want = java.lang.Double.doubleToLongBits(StrictMath.pow(x, 2))
      assert(java.lang.Double.doubleToLongBits(x * x) == want, s"x = $x")
    }
  }

  test("StrictMath.exp is exactly 0.0 below -745.1332191019411") {
    val u = -745.1332191019411
    for (y <- Seq(Math.nextDown(u), u - 1e-9, -746.0, -1e4, Double.NegativeInfinity))
      assert(StrictMath.exp(y) == 0.0 && 1.0 / StrictMath.exp(y) > 0, y)
    assert(StrictMath.exp(-708.5) > 0.0)
  }

  test("spatialVanishes fires only on pairs whose spatial factor is exactly 0.0") {
    val twoH2s = Seq(20.0, 25.0, 40.0, 50.0, 75.0).map(h => 2.0 * StrictMath.pow(h, 2))
    var fired, zeroMissed = 0L
    for (_ <- 0 until 400000) {
      val lat1 = rnd.nextDouble() * 180 - 90
      val lon1 = rnd.nextDouble() * 360 - 180
      // half the partners near the skip radius (~772–2895 km), half anywhere
      val (lat2, lon2) =
        if (rnd.nextBoolean()) (lat1 + (rnd.nextDouble() * 60 - 30), lon1 + (rnd.nextDouble() * 80 - 40))
        else (rnd.nextDouble() * 180 - 90, rnd.nextDouble() * 720 - 360)
      // most partners on the globe; some past the poles, where cos(lat)
      // may be negative
      val lat2c = if (rnd.nextInt(8) == 0) lat2 * 4 else math.max(-90.0, math.min(90.0, lat2))
      val c1 = Math.cos(Math.toRadians(lat1))
      val c2 = Math.cos(Math.toRadians(lat2c))
      for (twoH2 <- twoH2s) {
        val zeroA = PairMath.zeroSpatialA(twoH2)
        val spatial = PairMath.spatial(PairMath.haversineKm(c1, lat1, lon1, c2, lat2c, lon2), twoH2)
        if (PairMath.spatialVanishes(c1, lat1, lon1, c2, lat2c, lon2, zeroA)) {
          fired += 1
          assert(java.lang.Double.doubleToLongBits(spatial) == 0L,
            s"($lat1, $lon1) – ($lat2c, $lon2), 2h² = $twoH2: spatial $spatial")
        } else if (spatial == 0.0) zeroMissed += 1
      }
    }
    assert(fired > 400000, fired) // the bound is useful, not just sound
    assert(zeroMissed < fired, s"missed $zeroMissed of ${fired + zeroMissed} zero pairs")
  }

  test("beyondGate fires only on pairs beyond the gate or at a NaN distance") {
    val gates = Seq(20.0, 25.0, 40.0, 50.0, 75.0).map(_ * KernelPruning.SignificanceRadiusFactor)
    var fired, beyondMissed = 0L // the latter on the sphere only
    for (_ <- 0 until 400000) {
      val lat1 = rnd.nextDouble() * 180 - 90
      val lon1 = rnd.nextDouble() * 360 - 180
      // half the partners near the gates (~107–401 km), half anywhere
      val (lat2, lon2) =
        if (rnd.nextBoolean()) (lat1 + (rnd.nextDouble() * 8 - 4), lon1 + (rnd.nextDouble() * 10 - 5))
        else (rnd.nextDouble() * 180 - 90, rnd.nextDouble() * 720 - 360)
      val lat2c = if (rnd.nextInt(8) == 0) lat2 * 4 else math.max(-90.0, math.min(90.0, lat2))
      val c1 = Math.cos(Math.toRadians(lat1))
      val c2 = Math.cos(Math.toRadians(lat2c))
      val dist = PairMath.haversineKm(c1, lat1, lon1, c2, lat2c, lon2)
      for (gate <- gates) {
        if (PairMath.beyondGate(c1, lat1, lon1, c2, lat2c, lon2, PairMath.gateA(gate))) {
          fired += 1
          assert(!(dist <= gate), s"($lat1, $lon1) – ($lat2c, $lon2), gate $gate km: $dist km")
        } else if (!(dist <= gate) && math.abs(lat2c) <= 90) beyondMissed += 1
      }
    }
    // useful on far pairs too, where the haversine term passes 1/2
    assert(beyondMissed * 100 < fired, s"missed $beyondMissed, fired $fired")
  }

  test("zeroSpatialA never fires for a negative, NaN or unbounded 2h²") {
    for (t <- Seq(-1.0, Double.NaN, Double.PositiveInfinity, 1e12))
      assert(PairMath.zeroSpatialA(t) == Double.PositiveInfinity, t)
  }
}
