package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench keeps every entry name the committed BENCH_LOCAL.json carries:
  * `tools/claims_check.py` checks README and comment claims against that
  * file by key, so a renamed or dropped entry would orphan its claims.
  * Reads the file and runs nothing.
  */
class BenchSpec extends AnyFunSuite {

  test("Bench's entry names are the committed BENCH_LOCAL.json keys plus the opt-in entries") {
    import scala.jdk.CollectionConverters._
    val committed = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readString(java.nio.file.Paths.get("BENCH_LOCAL.json")))
      .path("queries").fieldNames().asScala.toSet
    assert(committed.size == 160, "BENCH_LOCAL.json changed shape")
    val optIn = Set("kernel_batch_100x", "streaming_10m", "streaming_10m_sketch_rows",
      "streaming_10m_state_mb")
    val expected = committed ++ optIn
    assert(Bench.EntryNames == expected,
      s"missing from Bench: ${expected -- Bench.EntryNames}; " +
        s"unknown to BENCH_LOCAL.json: ${Bench.EntryNames -- expected}")
  }
}
