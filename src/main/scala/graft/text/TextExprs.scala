package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines: token
  * counting, quality scoring, language-ID heuristic, document
  * fingerprinting. All pure column arithmetic / higher-order functions —
  * codegen-friendly, no UDFs, no shuffle; at 100 TB these run map-side at
  * full scan throughput.
  */
object TextExprs {

  /** Whitespace token count via space arithmetic (identical semantics in any
    * SQL engine: `len(t) - len(replace(t,' ','')) + 1`).
    */
  def tokenCount(text: Column): Column =
    (length(text) - length(regexp_replace(text, " ", "")) + 1).cast("long")

  /** BPE-style pre-tokenizer pattern (simplified GPT-2 shape): letter runs,
    * digit runs, and single non-alphanumeric marks each become one piece.
    * Kept RE2-compatible so any engine's regex library splits identically
    * (CJK and other non-Latin scripts fall to the one-mark-per-char arm,
    * matching byte-pair tokenizers' character fallback). The whitespace
    * class is spelled out because `\s` itself is NOT engine-identical:
    * Java includes vertical tab (\x0B), RE2 does not — a VT in a document
    * would tokenize differently per engine under `\s`.
    */
  val BpePattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]"

  /** BPE-ish pre-token pieces — the unit a byte-pair tokenizer would merge
    * within. Pure regexp scan: map-side, codegen'd, no shuffle.
    */
  def bpePieces(text: Column): Column =
    regexp_extract_all(text, lit(BpePattern), lit(0))

  /** Token array (single-space separated corpus). */
  def tokens(text: Column): Column = split(text, " ")

  /** Mean token length (separator-stripped chars / tokens). */
  def avgTokenLength(text: Column): Column =
    length(regexp_replace(text, " ", "")).cast("double") / tokenCount(text)

  /** Fraction of chars that are punctuation. greatest(…, 1): an empty
    * document is 0/1 = 0.0 — a bare length(text) denominator is a
    * DIVIDE_BY_ZERO under ANSI mode (every registered query must pass
    * AnsiCheck) and a silent NULL otherwise.
    */
  def punctRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[\\.,;:!\\?'\"]", "")))
      .cast("double") / greatest(length(text), lit(1))

  /** Fraction of tokens found in a stopword set. */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val sw = array(stopwords.map(lit): _*)
    size(filter(tokens(text), t => array_contains(sw, t))).cast("double") / tokenCount(text)
  }

  /** Composite quality score in [0,1]: length sweet-spot × low punctuation ×
    * healthy stopword ratio — the usual cheap pre-filter shape for corpus
    * curation (cf. C4/Gopher-style heuristics, arXiv:2112.11446 §A1.1).
    */
  def qualityScore(text: Column, stopwords: Seq[String]): Column = {
    val nTok = tokenCount(text).cast("double")
    val lengthScore = least(nTok / 20.0, lit(1.0)) * when(nTok > 1000, 0.5).otherwise(1.0)
    val punctScore = lit(1.0) - least(punctRatio(text) * 5.0, lit(1.0))
    val swScore = least(stopwordRatio(text, stopwords) * 4.0, lit(1.0))
    round(lengthScore * punctScore * (lit(0.5) + swScore * 0.5), 6)
  }

  /** Character-n-gram language scores: FRACTION of a language's marker
    * n-grams present in the text (hit count / marker-list size, so lists of
    * different lengths compete fairly — a raw count would bias the argmax
    * toward whichever language someone gave the longest list). Deterministic
    * heuristic; the winning language is the guess; null text → null guess.
    */
  def langIdGuess(text: Column, markers: Map[String, Seq[String]]): Column = {
    require(markers.nonEmpty, "langIdGuess needs at least one language")
    // an empty marker list would crash plan construction (empty.reduce) and
    // its fraction would divide by zero — refuse with a clear message
    markers.foreach { case (lang, ms) =>
      require(ms.nonEmpty, s"langIdGuess: language '$lang' has no marker n-grams")
    }
    val scored = markers.toSeq.sortBy(_._1).map { case (lang, ms) =>
      val hits = ms.map(m => when(text.contains(m), 1).otherwise(0))
        .reduce(_ + _)
      struct((hits.cast("double") / ms.size).as("score"), lit(lang).as("lang"))
    }
    // argmax over the per-language scores via array_max's struct ordering
    // (score first); ties break to the lexicographically LAST language —
    // the same order a sort-descending-take-first would give, without the
    // per-row sort + reverse passes.
    when(text.isNull, lit(null).cast("string"))
      .otherwise(array_max(array(scored: _*)).getField("lang"))
  }

  /** 64-bit rolling document fingerprint: order-sensitive hash chaining
    * (fp ← xxhash64(fp, token)) — two docs share a fingerprint iff token
    * sequences match (mod collisions). Hash chaining instead of a ×31
    * polynomial keeps it ANSI-safe (no long overflow).
    */
  def fingerprint(text: Column): Column =
    aggregate(tokens(text), lit(0L), (acc, t) => xxhash64(acc, t))

  /** Shingle fingerprints for near-dup overlap detection: distinct w-token
    * shingle hashes. NULL text → NULL (consistent with [[fingerprint]] and
    * simhash: an absent document is unhashable, not an alias of the empty
    * document — the un-guarded form collapsed null and "" to the same
    * single-shingle set, making every null doc a jaccard-1.0 "near-dup" of
    * every empty doc and flooding LSH buckets with phantom pairs).
    */
  def shingleHashes(text: Column, w: Int): Column = {
    // w = 0 would silently give EVERY document the single shingle
    // xxhash64("") (slice of width 0 → empty → constant hash → all docs
    // jaccard-1.0 "near-dups"); negative w throws an opaque slice error
    require(w >= 1, s"shingleHashes: shingle width must be >= 1, got $w")
    val toks = tokens(text)
    val n = size(toks)
    when(text.isNull, lit(null).cast("array<bigint>"))
      .otherwise(array_distinct(transform(sequence(lit(1), greatest(n - (w - 1), lit(1))),
        i => xxhash64(concat_ws(" ", slice(toks, i, lit(w)))))))
  }
}
