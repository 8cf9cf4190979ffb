package graft
import org.apache.spark.sql.SparkSession
/** Robustness guard: every registered query must run under ANSI mode +
  * AQE (the defaults of a session we don't control — e.g. the driver's own
  * smoke-check session). Run ad hoc: `sbt 'runMain graft.AnsiCheck'`.
  */
object AnsiCheck {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.shuffle.partitions", "8")
      // same UTC pin as Verify/Bench: Tables.events' NTZ→LTZ cast keeps
      // DuckDB's wall-clock instants only under a UTC session zone
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    println("[ansi] entry rows = " + SparkEntry.entry(spark).count())
    // every query under ANSI at sf0.001
    val failedNames = scala.collection.mutable.ArrayBuffer[String]()
    val n = SparkEntry.queries.size
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try fn(spark, "/root/testdata/sf0.001").write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        failedNames += name
        println(s"[ansi] FAIL $name: ${e.getMessage.take(150)}")
      }
    }
    println(s"[ansi] failures: ${failedNames.size}")
    // persist the result as a round artifact — an ad-hoc guard whose output
    // lives only in a scrollback can't be audited later
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("ANSICHECK.json"),
      s"""{"queries":$n,"failures":${failedNames.size},"failed":[${
        failedNames.map("\"" + _ + "\"").mkString(",")}],"conf":"ansi=true,aqe=true"}""" + "\n")
    spark.stop()
    // a guard that always exits 0 can't gate anything: scripts see the
    // failure in the exit code, not just in a FAIL line of the log
    if (failedNames.nonEmpty) sys.exit(1)
  }
}
