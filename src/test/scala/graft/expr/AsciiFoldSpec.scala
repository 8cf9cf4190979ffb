package graft.expr

import org.apache.spark.sql.catalyst.expressions.{Literal, Lower}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSpec
import graft.kernel.SafetyKernel

/** The kernel's lookups case-fold with [[WeightExprs.asciiLower]] instead
  * of Spark's `lower` (ICU case mappings). The two folds pick the same
  * lookup entry for every input string when (1) the only non-ASCII code
  * point `lower` maps to pure ASCII is U+212A KELVIN SIGN (→ "k") and (2)
  * no lookup key contains "k" or a character outside lowercase ASCII.
  * Both facts are checked here, with the route-type matrix lookup,
  * `severityWeight` and the location kernel scoring mixed-case and
  * non-ASCII inputs exactly as under `lower`; ScoringPipelineSpec checks
  * the multi-date kernel.
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
    // severityWeight matches the same keys; routeTypeWeight probes its map
    // with "planning|accident"
    for ((p, a) <- WeightExprs.RouteTypeWeights.keys; k = s"$p|$a")
      assert(p.nonEmpty && a.nonEmpty && k.forall(c => c == '|' || (c >= 'a' && c <= 'z')) &&
        !k.contains('k'), k)
  }

  /** Mixed-case, U+0130 and U+212A spellings next to the canonical ones. */
  private val spellings = Seq("alpine", "Alpine", "SPORT", "mIxEd", "\u0130CE", "\u0130ce",
    "TRAD\u212A", "\u212Aice", "Fatal", "SERIOUS", "fatal\u212A", "\u212Anown", "boulder")

  test("routeTypeWeight and severityWeight score as under Spark's lower") {
    import spark.implicits._
    val pairs = (for (p <- spellings; a <- spellings) yield (p, a)).toDF("p", "a")
      .union(Seq(("sport", null: String), (null: String, "sport")).toDF("p", "a"))
    val got = pairs.select(
      WeightExprs.routeTypeWeight(col("p"), col("a")),
      WeightExprs.routeTypeWeight(lower(col("p")), lower(col("a"))),
      WeightExprs.severityWeight(col("p")),
      WeightExprs.severityWeight(lower(col("p"))))
      .collect()
    for (r <- got) {
      assert(r.getDouble(0) == r.getDouble(1), r)
      assert(r.getDouble(2) == r.getDouble(3), r)
    }
    // the fold does match: ("Alpine", "SPORT") reads the (alpine, sport) entry
    assert(got.exists(r => r.getDouble(0) == 0.9) && got.exists(r => r.getDouble(2) == 1.3))
  }

  test("the location kernel's type lookups score as under Spark's lower") {
    import spark.implicits._
    val locations = spellings.zipWithIndex.map { case (t, i) =>
      (i.toLong, 40.0 + i * 0.01, -105.0, Some(2000.0 + 100 * i), t)
    }.toDF("location_id", "loc_lat", "loc_lon", "loc_elev", "loc_type")
    val routes = spellings.zipWithIndex.map { case (t, i) =>
      (i.toLong, i.toLong, spellings((i + 3) % spellings.size), Some(7.0))
    }.toDF("route_id", "location_id", "route_type", "difficulty")
    val accidents = Seq(
      (1, 40.02, -105.01, Some(2500.0), "ALPINE", "FATAL", "2023-07-15", Some(7.0)),
      (2, 40.08, -105.02, Some(1500.0), "\u212Aice", "Serious", "2024-01-20", Some(9.0)),
      (3, 40.05, -104.98, Some(2900.0), "Sport", "minor", "2022-10-01", Some(8.0)))
      .toDF("accident_id", "a_lat", "a_lon", "a_elev", "acc_type", "severity_raw", "d",
        "a_difficulty")
      .withColumn("a_date", to_date(col("d"))).drop("d")
    def scores(lc: Column => Column): Seq[String] =
      graft.kernel.LocationKernel.scoreRoutesViaLocations(
        routes.withColumn("route_type", lc(col("route_type"))),
        locations.withColumn("loc_type", lc(col("loc_type"))),
        accidents.withColumn("acc_type", lc(col("acc_type"))),
        to_date(lit("2024-07-15")))
        .orderBy("route_id").collect().map(_.toString).toSeq
    val folded = scores(identity)
    assert(folded == scores(lower))
    assert(folded.size == spellings.size)
  }

  test("asciiLower folds A-Z only") {
    val in = "AZaz09@[`{ \u00C0\u00C9\u0130\u212A\u00DF"
    assert(evalString(WeightExprs.asciiLower(lit(in))) == "azaz09@[`{ \u00C0\u00C9\u0130\u212A\u00DF")
    assert(spark.range(1).select(WeightExprs.asciiLower(lit(null).cast("string"))).head()
      .isNullAt(0))
  }
}
