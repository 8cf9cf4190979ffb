package graft.expr

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Exact-value fidelity tests against the reference implementation —
  * expected constants were produced by executing the reference's own pure
  * weighting functions (backend/app/services, the `_weighting.py` modules)
  * on the same inputs its test-suite fixtures use
  * (backend/tests/test_temporal_weighting.py, test_safety_algorithm.py:30-120).
  */
class WeightExprsSpec extends SparkSpec {

  private def d(s: String) = to_date(lit(s))

  test("temporal weight matches reference exact values") {
    // (current, accident, type) → reference calculate_temporal_weight
    val cases = Seq(
      ("2024-07-15", "2023-07-15", "alpine", 1.011781279104803), // same season, boosted
      ("2024-07-15", "2023-01-15", "alpine", 0.9470251283002136), // winter accident
      ("2024-07-15", "2004-07-15", "alpine", 0.7235587570438403), // 20 years, boosted
      ("2024-07-15", "2023-07-15", "unknown_type", 0.9775306906226406)) // default λ
    for ((cur, acc, rt, expected) <- cases) {
      val got = evalDouble(WeightExprs.temporalWeight(d(cur), d(acc), lit(rt)))
      assert(approx(got, expected, 1e-12), s"($cur,$acc,$rt): $got vs $expected")
    }
  }

  test("temporal weight: same date is pure seasonal boost; alpine decays slower than sport") {
    val same = evalDouble(WeightExprs.temporalWeight(d("2024-07-15"), d("2024-07-15"), lit("alpine")))
    assert(approx(same, 1.05, 1e-12)) // 1.0 × (1 + 0.5·0.10)
    val alpine = evalDouble(WeightExprs.temporalWeight(d("2024-07-15"), d("2023-07-15"), lit("alpine")))
    val sport = evalDouble(WeightExprs.temporalWeight(d("2024-07-15"), d("2023-07-15"), lit("sport")))
    assert(alpine > sport)
  }

  test("spatial weight: gaussian decay with per-type bandwidth") {
    // exp(-d²/(2h²)) exact math
    assert(approx(evalDouble(WeightExprs.spatialWeight(lit(0.0), lit("alpine"))), 1.0))
    assert(approx(evalDouble(WeightExprs.spatialWeight(lit(50.0), lit("alpine"))),
      math.exp(-2500.0 / (2 * 75.0 * 75.0)), 1e-12))
    assert(approx(evalDouble(WeightExprs.spatialWeight(lit(50.0), lit("sport"))),
      math.exp(-2500.0 / (2 * 25.0 * 25.0)), 1e-12))
    // unknown type → default bandwidth 50
    assert(approx(evalDouble(WeightExprs.spatialWeight(lit(30.0), lit("weird"))),
      math.exp(-900.0 / (2 * 50.0 * 50.0)), 1e-12))
  }

  test("elevation weight matches reference exact values") {
    val cases = Seq(
      (4346.0, 4200.0, "alpine", 1.1487562010958665),
      (4346.0, 3500.0, "alpine", 1.11341557545986),
      (1000.0, 1000.0, "sport", 1.15))
    for ((re, ae, rt, expected) <- cases) {
      val got = evalDouble(WeightExprs.elevationWeight(lit(re), lit(ae), lit(rt)))
      assert(approx(got, expected, 1e-12), s"($re,$ae,$rt): $got vs $expected")
    }
    // null elevation → neutral 1.0
    assert(approx(evalDouble(WeightExprs.elevationWeight(
      lit(null).cast("double"), lit(4200.0), lit("alpine"))), 1.0))
  }

  test("grade weight matches reference exact values") {
    assert(approx(evalDouble(WeightExprs.gradeWeight(lit(10.0), lit(10.0))), 1.0))
    assert(approx(evalDouble(WeightExprs.gradeWeight(lit(10.0), lit(13.0))),
      0.4984759178374661, 1e-12)) // 3-grade gap ≈ half weight
    assert(approx(evalDouble(WeightExprs.gradeWeight(lit(10.0), lit(5.0))), 0.25)) // floor
    assert(approx(evalDouble(WeightExprs.gradeWeight(lit(null).cast("double"), lit(10.0))), 1.0))
  }

  test("route-type weight: canary asymmetry and default") {
    assert(evalDouble(WeightExprs.routeTypeWeight(lit("alpine"), lit("sport"))) == 0.9)
    assert(evalDouble(WeightExprs.routeTypeWeight(lit("sport"), lit("alpine"))) == 0.3)
    assert(evalDouble(WeightExprs.routeTypeWeight(lit("trad"), lit("trad"))) == 1.0)
    assert(evalDouble(WeightExprs.routeTypeWeight(lit("foo"), lit("bar"))) == 0.5)
  }

  test("severity: kernel raw lookup vs data-prep normalization") {
    // kernel path — exact lowercase lookup, default 1.0
    assert(evalDouble(WeightExprs.severityWeight(lit("Fatal"))) == 1.3)
    assert(evalDouble(WeightExprs.severityWeight(lit("serious"))) == 1.1)
    assert(evalDouble(WeightExprs.severityWeight(lit("Serious Injury"))) == 1.0)
    assert(evalDouble(WeightExprs.severityWeight(lit(null).cast("string"))) == 1.0)
    // normalization path — term containment, fatal → serious → minor priority
    val cases = Seq(
      ("Fatal fall from height", "fatal", 1.3),
      ("climber seriously injured", "serious", 1.1),
      ("minor scrapes and bruises", "minor", 1.0),
      ("", "unknown", 1.0),
      ("unclear outcome", "unknown", 1.0),
      ("Death reported", "fatal", 1.3),
      ("hospitalized", "serious", 1.1),
      // reference quirk reproduced: "no injury" contains "injury" → serious
      ("no injury at all", "serious", 1.1))
    for ((raw, level, weight) <- cases) {
      assert(evalString(WeightExprs.normalizeSeverity(lit(raw))) == level, raw)
      assert(evalDouble(WeightExprs.severityWeight(
        WeightExprs.normalizeSeverity(lit(raw)))) == weight, raw)
    }
  }

  test("risk normalization: exact reference values and clamps") {
    // reference test_safety_algorithm.py:135-186
    assert(evalDouble(WeightExprs.normalizeRiskScore(lit(0.0))) == 0.0)
    assert(evalDouble(WeightExprs.normalizeRiskScore(lit(0.5))) == 3.5)
    assert(evalDouble(WeightExprs.normalizeRiskScore(lit(2.0))) == 14.0)
    assert(evalDouble(WeightExprs.normalizeRiskScore(lit(5.0))) == 35.0)
    assert(evalDouble(WeightExprs.normalizeRiskScore(lit(50.0))) == 100.0)
    assert(evalDouble(WeightExprs.normalizeRiskScore(lit(-1.0))) == 0.0)
    assert(evalDouble(WeightExprs.normalizeRiskScore(lit(20.0 / 1.4))) == 100.0)
  }

  test("color codes: API thresholds 30/50/70 and batch 25/50/75") {
    assert(evalString(WeightExprs.colorCode(lit(10.0))) == "green")
    assert(evalString(WeightExprs.colorCode(lit(35.0))) == "yellow")
    assert(evalString(WeightExprs.colorCode(lit(60.0))) == "orange")
    assert(evalString(WeightExprs.colorCode(lit(85.0))) == "red")
    assert(evalString(WeightExprs.colorCode(lit(27.0), batchThresholds = true)) == "yellow")
    assert(evalString(WeightExprs.colorCode(lit(27.0))) == "green")
  }

  test("weather factor: threshold + cube") {
    assert(evalDouble(WeightExprs.weatherFactor(lit(0.2))) == 0.0)
    assert(approx(evalDouble(WeightExprs.weatherFactor(lit(0.5))), 0.125))
    assert(approx(evalDouble(WeightExprs.weatherFactor(lit(1.0))), 1.0))
  }

  test("half-life: alpine ≈ 9.5y, sport ≈ 1.9y (reference docstring)") {
    assert(approx(WeightExprs.halfLifeYears(0.9998), 9.49, 0.01))
    assert(approx(WeightExprs.halfLifeYears(0.999), 1.896, 0.01))
  }
}
