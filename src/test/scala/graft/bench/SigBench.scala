package graft.bench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dev-only A/B timer for the MinHash signature implementations (native
  * fused expression vs the staged explode→aggregate twin) over the sf0.1
  * documents table — the measurement behind round 16's d05 optimization.
  * Test-tree main: running it never moves the src/main stamp.
  *
  *   sbt 'Test/runMain graft.bench.SigBench'
  */
object SigBench {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val docs = graft.Tables.documents(spark, dir).select("doc_id", "text")
    docs.count()
    def time(fn: => DataFrame): Double = {
      val t0 = System.nanoTime()
      fn.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def min3(fn: => DataFrame): Double = Seq(time(fn), time(fn), time(fn)).min
    val native = min3(graft.dedup.Dedup.minhashSignatures(docs, "doc_id", "text", 16, 3))
    val staged = min3(graft.dedup.MinHashStaged.minhashSignaturesStaged(docs, "doc_id", "text", 16, 3))
    val fullNative = min3(graft.dedup.Dedup.lshCandidatePairs(
      graft.dedup.Dedup.minhashSignatures(docs, "doc_id", "text", 16, 3),
      "doc_id", 16, 4))
    val fullStaged = min3(graft.dedup.Dedup.lshCandidatePairs(
      graft.dedup.MinHashStaged.minhashSignaturesStaged(docs, "doc_id", "text", 16, 3),
      "doc_id", 16, 4))
    println(f"[sigbench] sigs_native=$native%.3f sigs_staged=$staged%.3f " +
      f"lsh_native=$fullNative%.3f lsh_staged=$fullStaged%.3f sf=$dir%s")
    spark.stop()
  }
}
