package graft

/** Content hash of src/main/scala — the identity of the CODE an artifact
  * was generated from, independent of git HEAD (committing an artifact
  * moves HEAD, so a commit hash could never match across the
  * write-then-commit cycle). The SINGLE Scala implementation shared by
  * every stamp-carrying generator (PLANCHECK.json, QUANT_LADDER.md, the
  * `src_stamp` of Bench's line); `tools/claims_check.py` keeps the one
  * unavoidable Python mirror — any change here must be mirrored there
  * byte-for-byte (same walk set: every regular `*.scala` file under
  * src/main/scala, sorted by path string; same digest input: path-string
  * UTF-8 bytes then file bytes).
  */
object SrcStamp {
  def srcStamp(): String = stampOf("src/main/scala")

  /** The same walk + digest over an arbitrary root — the generalization
    * exists for the MIRROR-DRIFT self-test: `tools/stamp_fixture/` is a
    * tiny committed tree both implementations hash (SrcStampSpec pins
    * this side, `tools/claims_check.py` pins the Python mirror against
    * the committed `tools/stamp_fixture.expected`), so a divergence in
    * walk order / filtering / digest input surfaces as a named
    * mirror-drift failure instead of a confusing stale-artifact error.
    */
  def stampOf(rootDir: String): String = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get(rootDir)
    if (!Files.isDirectory(root)) return "nosrc"
    val md = java.security.MessageDigest.getInstance("MD5")
    val walk = Files.walk(root)
    try {
      walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && Files.isRegularFile(p))
        .toSeq.sortBy(_.toString)
        .foreach { p =>
          md.update(p.toString.getBytes("UTF-8"))
          md.update(Files.readAllBytes(p))
        }
    } finally walk.close()
    md.digest().map(b => f"$b%02x").mkString
  }
}
