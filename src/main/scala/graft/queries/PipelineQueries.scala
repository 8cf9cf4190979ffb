package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.dedup.Dedup
import graft.sim.Similarity
import graft.text.TextExprs

/** Training-data pipeline operators (dedup / text analysis / similarity
  * search) over the `documents` and `embeddings` tables. Oracle-checked
  * where DuckDB can express the same math; MinHash/SimHash/LSH (xxhash64-
  * based) are registered as rows-only checks and validated against exact
  * Jaccard/cosine in ScalaTest instead.
  */
object PipelineQueries {

  /** Language-marker tokens shared by the d08 query and its oracle. */
  private val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq(" der ", " und ", " die "),
    "en" -> Seq(" the ", " a ", " of "),
    "es" -> Seq(" el ", " y ", " los "),
    "fr" -> Seq(" le ", " et ", " les "),
    "zh" -> Seq("\u7684", "\u662f", "\u4e86"))

  private val Stopwords = Seq("the", "a", "of", "and")

  /** Shared PQ model for s06: query and oracle derive from the SAME
    * codebooks (exact-binary quarters), so they cannot drift.
    */
  private val PqOracleBooks = Similarity.pqFixedCodebooks(dim = 64, numSub = 8, ksub = 4)

  /** Attach a measured quality gauge (recall / agreement vs the exact
    * twin) to every row of a rows-only query, FLOOR-ENFORCED AT
    * EMISSION: below the floor the gauge column raise_error's, so the
    * driver's rows-only artifact row turns into a hard failure instead
    * of silently shipping a degraded approximate operator. Until round
    * 12 these floors lived only in ScalaTest; now the artifact the
    * driver reads carries the measured number itself (a `spark_rows > 0`
    * rows-only row PROVES gauge ≥ floor, because emission enforces it).
    * `gauge` is a 1-row/1-double-column frame; the crossJoin broadcasts
    * it, costing nothing at any scale.
    */
  private[queries] def withFloorGauge(result: DataFrame, gauge: DataFrame,
                                      name: String, floor: Double): DataFrame = {
    val g = gauge.select(col(gauge.columns.head).cast("double").as("__gauge"))
    result.crossJoin(broadcast(g))
      .withColumn(name,
        // an undefined gauge (empty plant/reference population → null avg,
        // NaN or ±Inf ratio) is NOT a degraded operator — raise a distinct
        // error so a vacuous plant can't masquerade as an LSH regression
        when(col("__gauge").isNull || isnan(col("__gauge"))
            || abs(col("__gauge")) === lit(Double.PositiveInfinity),
          raise_error(lit(s"$name undefined — gauge population empty " +
            "(plant/reference produced no rows at this scale factor); " +
            "fix the plant, the operator itself was not measured")))
        .when(col("__gauge") >= floor, round(col("__gauge"), 4))
          .otherwise(raise_error(concat(
            lit(s"$name="), col("__gauge").cast("string"),
            lit(s" below floor $floor — approximate operator degraded")))))
      .drop("__gauge")
  }

  /** num/den as a 1-row gauge frame from two row-count frames. An empty
    * denominator yields NULL (not NaN/Inf, and no ANSI DIVIDE_BY_ZERO),
    * so withFloorGauge can report it as the distinct "population empty"
    * error under BOTH the default and the ansi+aqe verify gates.
    */
  private[queries] def ratioGauge(num: DataFrame, den: DataFrame): DataFrame =
    num.agg(count(lit(1)).cast("double").as("__num"))
      .crossJoin(den.agg(count(lit(1)).cast("double").as("__den")))
      .select(when(col("__den") === 0.0, lit(null).cast("double"))
        .otherwise(col("__num") / col("__den")).as("gauge"))

  /** Per-language md5-gate thresholds for d13's reproducible training-mix
    * sample: 4 hex digits ⇒ admitted fraction = parse(gate)/65536
    * (en downsampled hard, the rest kept near-whole — the usual
    * rebalance-against-English shape).
    */
  private val SampleGates: Seq[(String, String)] = Seq(
    "de" -> "e000", "en" -> "4000", "es" -> "e000", "fr" -> "e000", "zh" -> "c000")

  /** The d13 md5 sample gate, built ONCE for both its consumers (d13 and
    * d23's `5_sample` stage) and both engines — the funnel's "same d13
    * gates" contract must not be maintainable by hand in four places.
    */
  private def sampleGateCol: Column =
    SampleGates.map { case (lang, hexGate) =>
      (col("lang") === lang) &&
        (substring(md5(col("doc_id").cast("string")), 1, 4) < hexGate)
    }.reduce(_ || _)

  private def sampleGateSql(joiner: String): String =
    SampleGates.map { case (lang, hexGate) =>
      s"(lang = '$lang' AND substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '$hexGate')"
    }.mkString(joiner)

  /** Word trigrams as (doc_id, gram) rows — shared by d14 (repetition) and
    * d15 (decontamination). posexplode + lead over a doc-keyed window
    * rather than per-element HOF slices: the HOF form re-evaluates the
    * token array inside every lambda element AND inlines the whole tree
    * once per consumer — the generated class ran uncompiled for 112 s cold
    * at sf0.1. This form shuffles only (doc_id, pos, tok) rows, partitioned
    * BY DOC — embarrassingly parallel at any corpus size — and keeps every
    * projection's codegen small. Docs with <3 tokens yield no rows.
    */
  private def docTrigrams(s: SparkSession, dir: String): DataFrame =
    trigramsOf(Tables.documents(s, dir))

  /** Trigram assembly over an arbitrary (doc_id, text) frame, so callers
    * splitting the corpus (d15's eval/train sides) can filter BEFORE the
    * explode+window instead of trigramming the full corpus per branch.
    */
  private def trigramsOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("pos")
    docs
      .select(col("doc_id"), posexplode(TextExprs.tokens(col("text"))).as(Seq("pos", "tok")))
      .withColumn("t1", lead("tok", 1).over(w))
      .withColumn("t2", lead("tok", 2).over(w))
      .where(col("t2").isNotNull) // concat_ws would silently skip nulls
      .select(col("doc_id"), concat_ws(" ", col("tok"), col("t1"), col("t2")).as("gram"))
  }

  /** PII-redaction surface shared by the d20 query and its spec: the corpus
    * has no real PII, so emails/phones are PLANTED deterministically (same
    * construction in both engines) and then redacted — the regex machinery
    * under test is real. Patterns stay inside the RE2 ∩ Java-regex dialect
    * (no backrefs/lookaround) so Spark and DuckDB match identically.
    */
  private[queries] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[queries] val PhoneRe = "\\+1-555-[0-9]{4}"

  // planted-text pieces, shared by the Column form and the oracle SQL so
  // they cannot drift (the queries-package shared-constants convention)
  private val PiiContact = " contact user"
  private val PiiDomainPre = "@mail"
  private val PiiDomainSuf = ".example.com"
  private val PiiCall = " call +1-555-"
  private val PiiMailMod = 7
  private val PiiPhoneSkipMod = 3 // doc_id % this == 0 → no phone planted
  private val PiiPhoneDigitsMod = 10000

  private[queries] def plantedPii(text: org.apache.spark.sql.Column,
      docId: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(
      text,
      lit(PiiContact), docId.cast("string"),
      lit(PiiDomainPre), (docId % PiiMailMod).cast("string"), lit(PiiDomainSuf),
      when(docId % PiiPhoneSkipMod =!= 0,
        concat(lit(PiiCall), lpad((docId % PiiPhoneDigitsMod).cast("string"), 4, "0")))
        .otherwise(lit("")))

  /** SQL-mirrorable token hash for the d05b/d06b oracle twins: a plain
    * arithmetic fold over the first three characters and the length,
    * derivable identically in Spark Column code and DuckDB SQL (unlike
    * xxhash64). Deliberately weak — its job is to make the DOWNSTREAM
    * stages (banding, bucket join, hamming, est-Jaccard) oracle-checkable,
    * not to be a good hash; hash-quality-independent structure is exactly
    * what those stages must preserve. Everything is cast to long up front:
    * CJK codepoints (≤ 0xFFFF) times 131³ overflow a 32-bit int, which
    * ANSI Spark and DuckDB both refuse rather than wrap.
    */
  private def mirrorTokenHash(tok: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val t = concat(tok, lit("abc")) // ≥3 chars so substr never comes up empty
    ((ascii(substring(t, 1, 1)).cast("long") * MirrorHashMul +
      ascii(substring(t, 2, 1)).cast("long")) * MirrorHashMul +
      ascii(substring(t, 3, 1)).cast("long")) * MirrorHashMul +
      length(tok).cast("long")
  }
  private[queries] val MirrorHashMul = 131L
  private[queries] val MirrorHashMod = 2147483647L
  private[queries] val MirrorSigLen = 16
  private[queries] val MirrorBands = 4
  /** The SQL spelling of [[mirrorTokenHash]], interpolated into oracles so
    * the two derivations share their constants.
    */
  private[queries] val MirrorTokenHashSql: String =
    s"((CAST(ascii(substr(tok || 'abc', 1, 1)) AS BIGINT) * $MirrorHashMul + " +
      s"CAST(ascii(substr(tok || 'abc', 2, 1)) AS BIGINT)) * $MirrorHashMul + " +
      s"CAST(ascii(substr(tok || 'abc', 3, 1)) AS BIGINT)) * $MirrorHashMul + " +
      "CAST(length(tok) AS BIGINT)"

  /** (doc_id, h) token-hash rows for the doc_id < 40 subset — shared by the
    * d05b and d06b oracle twins.
    */
  private def mirrorTokenHashes(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).where(col("doc_id") < 40)
      .select(col("doc_id"), explode(TextExprs.tokens(col("text"))).as("tok"))
      .select(col("doc_id"), mirrorTokenHash(col("tok")).as("h"))

  /** MinHash signatures from mirror-hash token rows (doc_id, h): the
    * affine family m_i = (2i+3)·h + 5i+7 mod [[MirrorHashMod]], minimum
    * per doc — the SQL-derivable signature scheme the d05b/d25 oracle
    * twins feed through the REAL banding/bucket-join code paths.
    */
  private def mirrorMinhashSigs(tok: DataFrame): DataFrame = {
    val mins = (0 until MirrorSigLen).map(i =>
      min((lit(2L * i + 3) * col("h") + lit(5L * i + 7)) % MirrorHashMod).as(s"m$i"))
    tok.groupBy("doc_id").agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until MirrorSigLen).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** d28/d29 sketch twin parameters. Width 32 is DELIBERATELY smaller than
    * the sf0.01 vocabulary (31 distinct tokens × 4 rows over 32 cells) so
    * counter collisions actually occur and the min-over-rows estimate is
    * load-bearing — a `least`→`greatest` mutation or an off-by-one in the
    * position family flips hashes. Accuracy at realistic width/cardinality
    * is pinned in SketchAggsSpec with xxhash64; the registered queries pin
    * ENGINE EQUALITY of every counter/register.
    */
  private[queries] val CmsDepth = 4
  private[queries] val CmsWidth = 32
  private[queries] val HllM = 64

  /** Scala-side twin of [[mirrorTokenHash]] for literal probe tokens (d30
    * probes the merged Count-Min at a FIXED token) — same fold, same
    * constants, so the Column form, this value, and the SQL spelling agree.
    */
  private[queries] def mirrorTokenHashValue(tok: String): Long = {
    val t = tok + "abc"
    ((t.charAt(0).toLong * MirrorHashMul + t.charAt(1).toLong) * MirrorHashMul +
      t.charAt(2).toLong) * MirrorHashMul + tok.length.toLong
  }
  private[queries] val SketchProbeTok = "data"

  /** d32 histogram model: [lo, hi) covers every doc length in the testdata
    * (48–558 chars at sf0.01) so the quantile path is live in-range; the
    * bounds and bin count are interpolated into the oracle SQL from these
    * same constants. (hi−lo)/bins = 40.0 exactly, so the bin width literal
    * round-trips through SQL text without FP drift.
    */
  private[queries] val HistLo = 0.0
  private[queries] val HistHi = 640.0
  private[queries] val HistBins = 16

  /** d33's SQL-mirrorable uniform: Knuth multiplicative hash of doc_id,
    * reduced mod 2^32 (odd multiplier ⇒ a permutation of the residues, so
    * sequential ids scatter across the gate). Shared constants — the
    * oracle interpolates exactly these.
    */
  private[queries] val SampleHashMul = 2654435761L
  private[queries] val SampleHashAdd = 104729L

  /** d25's derived "tonight's crawl": docs 0–9 re-surface with new ids
    * (+[[IncrementalIdOffset]]) and one appended token — near-dups of their
    * corpus originals, mirrored exactly in the oracle SQL.
    */
  private[queries] val IncrementalIdOffset = 1000L
  private[queries] val IncrementalTok = "freshcrawl"

  /** d24's planted boilerplate + df cap — shared constants so the Spark
    * query and the DuckDB oracle can't drift. The boilerplate is appended to
    * EVERY doc of the subset, so its tokens' df (40) exceeds the cap and the
    * capped Jaccard must ignore them on both engines.
    */
  private[queries] val JaccardBoiler = " all rights reserved subscribe to our newsletter"
  private[queries] val JaccardDfCap = 30

  /** Exact token-set Jaccard for every (id_a < id_b) pair of the doc_id<40
    * subset — shared by d04 (pair dump) and d10 (clustering input).
    */
  /** d12's TF-IDF top-3 terms per doc over an arbitrary documents frame —
    * shared by the oracle query and the 10× scale gate (`tfidf_10x` in
    * the test tree's `graft.Bench`).
    * One token explode, map-side-combinable (doc, term) counts, broadcast
    * corpus size, per-doc window for the rank cut.
    */
  def tfidfTopTerms(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nDocs = docs.select(count(lit(1)).as("n_docs"))
    val tf = docs
      .select(col("doc_id"), explode(TextExprs.tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tfidf").desc, col("term").asc)
    tf.join(df, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        round(col("tf").cast("double") *
          log(col("n_docs").cast("double") / col("df").cast("double")), 6))
      .withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("term"), col("tfidf"))
  }


  /** d23's five-stage corpus funnel over an arbitrary documents frame —
    * shared by the oracle query and the 10× scale gate (`funnel_10x` in
    * the test tree's `graft.Bench`).
    */
  def corpusFunnel(s: SparkSession, docs: DataFrame): DataFrame = {
    // ONE trigram assembly: the explode+window pass is the funnel's
    // dominant cost, and three consumers need the relation (eval-gram
    // set, per-gram df, per-doc stats) — persisted, it computes once;
    // unpersisted it would re-assemble per subtree (no exchange to reuse)
    val grams = trigramsOf(docs).distinct().persist()
    val keepers = docs.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), lit(1).as("__keep"))
    val evalGrams = broadcast(grams.where(col("doc_id") % 23 === 0)
      .select("gram").distinct().withColumn("__hit", lit(1)))
    val gramDf = grams.groupBy("gram").agg(count(lit(1)).as("d"))
    // contamination (share of grams hitting the doc_id % 23 == 0 eval
    // slice) and cross-corpus boilerplate (dup-span ratio on the ORIGINAL
    // corpus — df stats don't shift as the funnel narrows) in ONE pass
    // over the gram relation: both are per-(doc, gram) attributes, so a
    // single gram-keyed join + doc-keyed aggregation replaces two
    // full-relation subtrees. c is computed for eval docs too — harmless,
    // the stage tagging below checks doc_id % 23 first.
    val gramStats = grams
      .join(evalGrams, Seq("gram"), "left")
      .join(gramDf, "gram")
      .groupBy("doc_id")
      .agg((count(col("__hit")).cast("double") / count(lit(1))).as("c"),
        (sum(when(col("d") >= 2, 1).otherwise(0)).cast("double") /
          count(lit(1))).as("r"))
      .select(col("doc_id"),
        when(col("doc_id") % 23 =!= 0 && col("c") > 0.2, 1).as("__contam"),
        when(col("r") > 0.6, 1).as("__boiler"))
    val gate = sampleGateCol
    val tagged = docs
      .join(keepers, Seq("doc_id"), "left")
      .join(gramStats, Seq("doc_id"), "left")
    // quota rank among stage-3 survivors: running count of survivors in
    // quota order — for surviving rows this IS their row_number over the
    // filtered set, computed without materializing the filter
    val surv3 = col("__keep").isNotNull && col("doc_id") % 23 =!= 0 &&
      col("__contam").isNull && col("__boiler").isNull
    val w = org.apache.spark.sql.expressions.Window.partitionBy("source")
      .orderBy(col("n_chars").desc, col("doc_id").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val reached = tagged
      .withColumn("rk", sum(when(surv3, 1).otherwise(0)).over(w))
      .withColumn("reached",
        when(col("__keep").isNull, 0)
          .when(col("doc_id") % 23 === 0 || col("__contam").isNotNull, 1)
          .when(col("__boiler").isNotNull, 2)
          .when(col("rk") > 10, 3)
          .when(!gate, 4)
          .otherwise(5))
    val stageName = Seq("0_all", "1_dedup", "2_decontam", "3_boilerplate",
      "4_quota", "5_sample")
    val stagesDim = s.range(6).select(col("id").cast("int").as("k"))
    val funnel = stagesDim
      .join(reached.select("doc_id", "n_chars", "reached"),
        col("reached") >= col("k"), "left")
      .groupBy("k")
      .agg(count(col("doc_id")).as("n_docs"),
        coalesce(sum("n_chars"), lit(0L)).as("n_chars"))
      .select(
        stageName.zipWithIndex.foldLeft(when(lit(false), lit(""))) {
          case (acc, (n, i)) => acc.when(col("k") === i, n)
        }.otherwise("?").as("stage"),
        col("n_docs"), col("n_chars"))
      .orderBy("stage")
    // the funnel report is 6 rows: materialize it NOW so the persisted
    // gram relation can be released before this entry returns — without
    // this the cache outlives the query and squats in the block manager
    // through every later bench entry (including the scale-stress runs)
    val rows = funnel.collect().toSeq
    grams.unpersist(blocking = false)
    s.createDataFrame(s.sparkContext.parallelize(rows, 1), funnel.schema)
  }

  private def tokenJaccardPairs(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).where(col("doc_id") < 40)
    val tok = docs.select(col("doc_id"),
      explode(TextExprs.tokens(col("text"))).as("tok")).distinct()
    val sizes = tok.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val common = tok.as("a").join(tok.as("b"),
      col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(sizes.select(col("doc_id").as("id_a"), col("n").as("n_a")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("n").as("n_b")), "id_b")
      .select(col("id_a"), col("id_b"), col("n_common"),
        (col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double")).as("jaccard"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // --- exact dedup inventory (hash-groupBy; md5 matches DuckDB's) -------
    "d01_exact_dedup" -> ((s, dir) => {
      Dedup.exactGroups(Tables.documents(s, dir), "text", "doc_id")
        .orderBy("text_hash")
    }),

    // --- token counting + quality stats (pure map-side arithmetic) -------
    "d02_token_stats" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          TextExprs.tokenCount(col("text")).as("n_tokens"),
          TextExprs.avgTokenLength(col("text")).as("avg_token_len"),
          ((length(col("text")) - length(regexp_replace(col("text"), " the ", ""))) / 5)
            .cast("long").as("n_the"))
        .orderBy("doc_id")
    }),

    // --- per-language corpus profile --------------------------------------
    "d03_lang_profile" -> ((s, dir) => {
      Tables.documents(s, dir)
        .groupBy("lang", "source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("n_chars").as("total_chars"),
          (sum("n_chars").cast("double") / count(lit(1))).as("avg_chars"),
          sum(TextExprs.tokenCount(col("text"))).as("total_tokens"))
        .orderBy("lang", "source")
    }),

    // --- exact token-set Jaccard pairs (doc_id < 40) ----------------------
    "d04_jaccard_pairs" -> ((s, dir) => {
      tokenJaccardPairs(s, dir).orderBy("id_a", "id_b")
    }),

    // --- near-dup CLUSTERS: thresholded Jaccard pairs → connected ---------
    // components (iterative min-label propagation) → (doc, cluster) with
    // singleton docs keeping their own id. The DuckDB oracle re-derives the
    // components with a recursive transitive-closure CTE — two entirely
    // different algorithms agreeing on the same partition of the corpus.
    "d10_neardup_clusters" -> ((s, dir) => {
      val pairs = tokenJaccardPairs(s, dir)
        .where(col("jaccard") >= 0.8).select("id_a", "id_b")
      val comp = Dedup.connectedComponents(pairs, "id_a", "id_b")
      Tables.documents(s, dir).where(col("doc_id") < 40)
        .select(col("doc_id"))
        .join(comp.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("cluster_id"))
        .orderBy("doc_id")
    }),

    // (oracle for d10 lives in `oracles` — recursive transitive closure)

    // --- the whole dedup lifecycle as ONE staged funnel: exact dedup →
    // near-dup pairs among survivors → components → keeper policy → kept
    // corpus, a counted row per stage (the d23 funnel idiom applied to
    // dedup). Every stage is individually oracle'd elsewhere (d01, d04,
    // d10, d35); this pins their COMPOSITION — survivors of one stage
    // really are the input of the next ---------------------------------
    "d36_dedup_funnel" -> ((s, dir) => {
      val base = Tables.documents(s, dir).where(col("doc_id") < 40)
        .select(col("doc_id"), col("text"), col("n_chars"))
      // the corpus has no byte-identical texts, so the exact stage would
      // be inert — plant three re-crawled copies (higher ids, same text;
      // the d25 derived-crawl idiom, mirrored in the oracle) so stage 2
      // demonstrably drops them and keeps the min-id originals
      val docs = base.unionAll(base.where(col("doc_id") < 3)
        .select((col("doc_id") + 1000).as("doc_id"), col("text"), col("n_chars")))
      val exact = Dedup.dropExactDuplicates(docs, "text", "doc_id")
      val tok = exact.select(col("doc_id"),
        explode(TextExprs.tokens(col("text"))).as("tok")).distinct()
      val sizes = tok.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val pairs = tok.as("a").join(tok.as("b"),
          col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .agg(count(lit(1)).as("n_common"))
        .join(sizes.select(col("doc_id").as("id_a"), col("n").as("n_a")), "id_a")
        .join(sizes.select(col("doc_id").as("id_b"), col("n").as("n_b")), "id_b")
        .where(col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double") >= 0.8)
        .select("id_a", "id_b")
      val comp = Dedup.connectedComponents(pairs, "id_a", "id_b")
      val clustered = exact
        .join(comp.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("component"), col("doc_id")))
      val kept = Dedup.keeperSelection(clustered, "doc_id", "cluster_id",
          Seq(col("n_chars").desc, col("doc_id").asc))
        .where(col("is_keeper"))
      def stage(name: String, df: DataFrame, checksum: Column): DataFrame =
        df.agg(count(lit(1)).as("n"),
          coalesce(checksum, lit(0L)).cast("long").as("checksum"))
          .select(lit(name).as("stage"), col("n"), col("checksum"))
      stage("1_input", docs, sum("doc_id"))
        .unionAll(stage("2_exact", exact, sum("doc_id")))
        .unionAll(stage("3_pairs", pairs, sum(col("id_a") + col("id_b"))))
        .unionAll(stage("4_kept", kept, sum("doc_id")))
        .orderBy("stage")
    }),

    // --- keeper policy over near-dup clusters: WHICH duplicate survives
    // is a quality decision (longest text, id tiebreak), not an id
    // accident — one window over d10's cluster assignment ------------------
    "d35_cluster_keepers" -> ((s, dir) => {
      val pairs = tokenJaccardPairs(s, dir)
        .where(col("jaccard") >= 0.8).select("id_a", "id_b")
      val comp = Dedup.connectedComponents(pairs, "id_a", "id_b")
      val docs = Tables.documents(s, dir).where(col("doc_id") < 40)
        .select(col("doc_id"), col("n_chars"))
        .join(comp.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("component"), col("doc_id")))
      Dedup.keeperSelection(docs, "doc_id", "cluster_id",
          Seq(col("n_chars").desc, col("doc_id").asc))
        .select(col("doc_id"), col("cluster_id"), col("keeper_id"), col("is_keeper"))
        .orderBy("doc_id")
    }),

    // --- MinHash + LSH near-dup candidates (rows-only; spec-validated; ----
    // since round 12 the DedupSpec recall floor is also MEASURED AND
    // EMITTED: the same plant as the spec — one appended token on
    // ≥62-token docs keeps shingle-Jaccard ≥ ~0.95, where 16 hashes /
    // 4 bands give ≥99.8% per-pair catch probability — runs through the
    // REAL signature+banding path, and recall_planted rides every output
    // row, raise_error'ing below 0.9 so a degraded LSH cannot ship as a
    // green rows-only row.
    "d05_minhash_lsh" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      // localCheckpoint: the signature frame feeds BOTH plan branches
      // (result pairs + the recall gauge below); without it Catalyst
      // evaluates the explode+agg signature computation once per branch —
      // at suite scale (5K docs) signing dominates the entry's wall, so
      // the double-eval was the remaining ~2× after round 14 removed the
      // gauge's self-join. Materializing once keeps values bit-identical
      // (signatures are deterministic) and the checkpoint blocks are
      // per-doc-sized, released on GC like connectedComponents' rounds.
      val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", 16, 3)
        .localCheckpoint()
      val result = Dedup.lshCandidatePairs(sigs, "doc_id", 16, 4)
      val offset = 10000000L
      val longDocs = docs
        .where(size(split(col("text"), " ")) >= 62 && col("doc_id") < 300)
      val planted = longDocs.select((col("doc_id") + offset).as("doc_id"),
        concat(col("text"), lit(" zzzplantedzzz")).as("text"))
      // signatures are per-doc, so sigs(docs ∪ planted) ≡ sigs(docs) ∪
      // sigs(planted) — reuse the result's corpus signatures and sign only
      // the ≤300 planted rows (round-12 advisor: the gauge doubled the
      // query's cost). Round-13 still re-ran the corpus×corpus banding
      // SELF-join inside the gauge; a plant is caught iff it shares ≥1
      // band bucket with its original, which is exactly the asymmetric
      // corpus×new banding join (the REAL incremental path d25 oracles) —
      // so probe the ≤300 planted signatures against the corpus postings
      // and the quadratic self-join never runs a second time. Same catch
      // set, same gauge value; measured cut at sf0.1 suite scale was ~20%
      // era-adjusted (signing dominates there — hence the checkpoint
      // above), approaching the asymptotic ~2× only at corpus scale where
      // candidate pairs outgrow signature computation.
      val caught = Dedup.lshCandidatePairsAgainst(
          sigs, Dedup.minhashSignatures(planted, "doc_id", "text", 16, 3),
          "doc_id", 16, 4)
        .where(col("new_id") === col("corpus_id") + offset)
        .join(longDocs.select(col("doc_id").as("corpus_id")),
          Seq("corpus_id"), "left_semi")
      withFloorGauge(result, ratioGauge(caught, longDocs), "recall_planted", 0.9)
        .orderBy("id_a", "id_b")
    }),

    // --- ORACLE TWIN of d05's downstream: the xxhash64 minhash signature
    // itself has no SQL mirror, but everything AFTER a signature is
    // deterministic relational algebra. Feed lshCandidatePairs — the REAL
    // banding / bucket-join / est-Jaccard code path — signatures built from
    // the mirrorable arithmetic hash, and DuckDB re-derives the exact pair
    // set + estimates from first principles. A banding off-by-one (wrong
    // slice bounds, band indexing, agreement count) now mismatches.
    "d05b_lsh_banding" -> ((s, dir) => {
      val sigs = mirrorMinhashSigs(mirrorTokenHashes(s, dir))
      Dedup.lshCandidatePairs(sigs, "doc_id", MirrorSigLen, MirrorBands)
        .orderBy("id_a", "id_b")
    }),

    // --- INCREMENTAL LSH: tonight's batch vs the corpus signature store.
    // The corpus is the doc_id<40 mirror-sig subset; the "new batch" is
    // docs 0-9 re-crawled under fresh ids with one appended token (planted
    // near-dups of their originals). lshCandidatePairsAgainst — the REAL
    // asymmetric banding/bucket-join path — must surface each new doc's
    // corpus original WITHOUT emitting any corpus×corpus or new×new pair;
    // DuckDB re-derives the full posting-list join from first principles.
    "d25_incremental_lsh" -> ((s, dir) => {
      val corpusSigs = mirrorMinhashSigs(mirrorTokenHashes(s, dir))
      val newTok = Tables.documents(s, dir).where(col("doc_id") < 10)
        .select((col("doc_id") + IncrementalIdOffset).as("doc_id"),
          explode(concat(TextExprs.tokens(col("text")),
            array(lit(IncrementalTok)))).as("tok"))
        .select(col("doc_id"), mirrorTokenHash(col("tok")).as("h"))
      val newSigs = mirrorMinhashSigs(newTok)
      Dedup.lshCandidatePairsAgainst(
        corpusSigs, newSigs, "doc_id", MirrorSigLen, MirrorBands)
        .orderBy("corpus_id", "new_id")
    }),

    // --- ORACLE TWIN of d06's downstream: sign-vote simhash over the
    // mirrorable hash's low 16 bits, then the library's hamming64
    // (bit_count of xor) over every pair — DuckDB recomputes both the
    // signatures and the distances relationally.
    "d06b_hamming_pairs" -> ((s, dir) => {
      val tok = mirrorTokenHashes(s, dir)
      val votes = (0 until 16).map(j =>
        sum(when(shiftright(col("h"), j).bitwiseAND(1L) === 1L, 1L).otherwise(-1L))
          .as(s"v$j"))
      val sigs = tok.groupBy("doc_id").agg(votes.head, votes.tail: _*)
        .select(col("doc_id"),
          (0 until 16).map(j => when(col(s"v$j") > 0, lit(1L << j)).otherwise(0L))
            .reduce(_ + _).as("simhash"))
      val a = sigs.select(col("doc_id").as("id_a"), col("simhash").as("s_a"))
      val b = sigs.select(col("doc_id").as("id_b"), col("simhash").as("s_b"))
      a.join(b, col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          Dedup.hamming64(col("s_a"), col("s_b")).cast("long").as("hamming"))
        .orderBy("id_a", "id_b")
    }),

    // --- SimHash fingerprints + fingerprint dedup (rows-only; since -------
    // round 12 the spec's separation property is measured and emitted:
    // planted near-dups (same one-token plant as d05) must stay within
    // hamming ≤ 8 of their originals in the 63-bit signature space —
    // neardup_close_frac rides every row, raise_error'ing below 0.9)
    "d06_simhash" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // localCheckpoint for the same reason as d05's signature frame: the
      // simhash signatures feed the result branch AND the gauge's h_orig
      // side, and the per-token sign-vote aggregation is the entry's
      // dominant cost — evaluate it once, not once per plan branch
      val allSigs = Dedup.simhashSignatures(docs, "doc_id", "text")
        .localCheckpoint()
      val result = allSigs
        .join(docs.select(col("doc_id"),
          TextExprs.fingerprint(col("text")).as("fingerprint")), "doc_id")
      val offset = 10000000L
      val base = docs.select("doc_id", "text")
      val longDocs = base
        .where(size(split(col("text"), " ")) >= 62 && col("doc_id") < 300)
      val planted = longDocs.select((col("doc_id") + offset).as("doc_id"),
        concat(col("text"), lit(" zzzplantedzzz")).as("text"))
      // the corpus side's signatures already exist in allSigs — semi-gate
      // them to the plant population instead of re-running simhash over
      // longDocs (round-12 advisor: the gauge signed longDocs twice)
      val ham = allSigs
        .join(longDocs.select("doc_id"), Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("simhash").as("h_orig"))
        .join(Dedup.simhashSignatures(planted, "doc_id", "text")
          .select((col("doc_id") - offset).as("doc_id"),
            col("simhash").as("h_plant")), Seq("doc_id"))
        .select(Dedup.hamming64(col("h_orig"), col("h_plant")).as("ham"))
      withFloorGauge(result,
        ham.agg(avg(when(col("ham") <= 8, 1.0).otherwise(0.0)).as("gauge")),
        "neardup_close_frac", 0.9)
        .orderBy("doc_id")
    }),

    // --- embedding near-dup pairs above cosine threshold ------------------
    "d07_embedding_neardup" -> ((s, dir) => {
      val a = Similarity.withNorm(graft.Partitioning.balanced(Tables.embeddings(s, dir)),
        "vec_id", "embedding", "id_a", "v_a", "n_a")
      val b = Similarity.withNorm(Tables.embeddings(s, dir), "vec_id", "embedding",
        "id_b", "v_b", "n_b")
      a.join(b, col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          round(graft.expr.VectorExprs.dot(col("v_a"), col("v_b")) /
            (col("n_a") * col("n_b")), 4).as("cosine"))
        .where(col("cosine") >= 0.30)
        .orderBy("id_a", "id_b")
    }),

    // --- embedding near-dup at SCALE: LSH bucket join, exact verify -------
    // (the 100 TB twin of d07's exact all-pairs contract; rows-only —
    // hyperplane buckets aren't SQL-mirrorable — recall floor in DedupSpec).
    // The raw corpus has no cosine≥0.95 pairs, so near-dups are PLANTED:
    // each vector gets a deterministically jittered copy (±0.01/dim →
    // cosine ≈ 0.998 against its source).
    "d09_embedding_lsh_neardup" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir).select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
      val planted = e.select(
        (col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"),
          (x, i) => x + ((col("vec_id") + i.cast("long")) % 3 - 1).cast("double") * 0.01)
          .as("embedding"))
      val result = Similarity.nearDupPairsLsh(e.union(planted), "vec_id", "embedding",
        dim = 64, bits = 8, threshold = 0.95)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
      // every corpus vector has exactly one planted near-dup (id + 1e6,
      // cosine ≈ 0.998): the fraction the bucket join surfaces IS the
      // recall the DedupSpec floor asserts — measured and emitted since
      // round 12, raise_error below 0.8
      val caught = result.where(col("id_b") === col("id_a") + 1000000L)
      withFloorGauge(result, ratioGauge(caught, e), "recall_planted", 0.8)
        .orderBy("id_a", "id_b")
    }),

    // --- ORACLE TWIN of d09's downstream: the planted near-dups, bucket
    // gating (incl. the maxBucketSize cap), 1-bit multi-probe candidate
    // relation, and exact-cosine verification — all with the SQL-derivable
    // axis-sign signature family. The plant here is index-free (+0.01 per
    // dim) so DuckDB mirrors it with a plain list_transform.
    "d09b_embedding_lsh_capped" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir).select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
      val planted = e.select(
        (col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), x => x + lit(0.01)).as("embedding"))
      Similarity.nearDupPairsLsh(e.union(planted), "vec_id", "embedding",
        dim = 64, bits = 6, threshold = 0.95, maxBucketSize = Some(400),
        signature = Some(Similarity.axisSignSignature(_, 6)))
        .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
        .orderBy("id_a", "id_b")
    }),

    // --- multimodal column plumbing: binary payloads, typed metadata, ----
    // frame sampling, resize math — everything EXCEPT the codec decode is
    // real and oracle-checked (byte lengths, sampled frame bytes, aspect-
    // preserving resize); the decode itself is the documented stub.
    "m01_media_meta" -> ((s, dir) => {
      val media = graft.multimodal.Multimodal.deriveMedia(Tables.documents(s, dir))
      val frames = graft.multimodal.Multimodal.frameSample(media, 4)
      val resized = graft.multimodal.Multimodal.resizeMeta(media, 512)
      media
        .select(col("media_id"), col("kind"),
          length(col("payload")).cast("long").as("payload_bytes"),
          col("meta.width").as("width"), col("meta.height").as("height"))
        .join(resized, Seq("media_id"))
        .join(frames.select(col("media_id"),
          hex(element_at(col("sampled_frames"), 1)).as("frame0_hex"),
          hex(element_at(col("sampled_frames"), 3)).as("frame2_hex")), Seq("media_id"))
        .orderBy("media_id")
    }),

    // --- REAL container decode (the codec-free slice of multimodal): -----
    // metadata → spec-conformant PNG/WAV/AVI header bytes (column-space
    // serializer) → ByteBuffer parser in mapPartitions. The oracle predicts
    // every parsed field from first-principles integer arithmetic on
    // media_id, so a wrong offset/endianness in either half mismatches.
    "m02_media_decode" -> ((s, dir) => {
      val media = graft.multimodal.MediaCodecs.plantHeaders(
        graft.multimodal.Multimodal.deriveMedia(Tables.documents(s, dir)))
      graft.multimodal.MediaCodecs.parseHeaders(media)
        .orderBy("media_id")
    }),

    // --- REAL pixel/sample decode (codec-free formats): column-space ------
    // serializer plants 24-bit BMPs / 16-bit PCM WAVs whose every byte
    // derives from id arithmetic; the ByteBuffer decoder reads them back
    // (bottom-up rows, stride padding, two's-complement LE samples); the
    // oracle predicts count, sum, and the position-weighted sum of the
    // DECODED units from first principles — geometry and endianness bugs
    // in either half mismatch.
    "m03_media_pixels" -> ((s, dir) => {
      val media = graft.multimodal.Multimodal.deriveMedia(Tables.documents(s, dir))
        .where(col("kind").isin("image", "audio"))
      graft.multimodal.MediaCodecs.decodeContent(
        graft.multimodal.MediaCodecs.plantContent(media))
        .orderBy("media_id")
    }),

    // --- REAL PPM decode (P6 raw + P3 ASCII, id-parity split): a third ---
    // codec-free format through the same decodeContent surface. PPM rows
    // are top-down with no stride padding (opposite of BMP), P3 exercises
    // ASCII tokenization + comment skipping the binary paths never touch;
    // the oracle predicts the aggregates from the serializer's arithmetic.
    "m04_ppm_pixels" -> ((s, dir) => {
      val media = graft.multimodal.Multimodal.deriveMedia(Tables.documents(s, dir))
        .where(col("kind") === "image")
      graft.multimodal.MediaCodecs.decodeContent(
        graft.multimodal.MediaCodecs.plantPpm(media))
        .orderBy("media_id")
    }),

    // --- REAL PNG decode via the JDK's built-in ImageIO (no vendored -----
    // codec): deterministic pixels (the m04 formula, row-major R,G,B)
    // encoded through the JDK PNG writer, decoded back with ImageIO.read;
    // PNG is lossless, so the oracle predicts the decoded aggregates from
    // the same arithmetic — the whole encode→PNG→decode round trip must
    // reproduce it exactly. Decoder channel order/row orientation is
    // additionally grounded against a hand-crafted golden PNG (built from
    // the PNG spec, independent of ImageIO) in ImageIoCodecSpec.
    "m05_png_pixels" -> ((s, dir) => {
      val media = graft.multimodal.Multimodal.deriveMedia(Tables.documents(s, dir))
        .where(col("kind") === "image")
      graft.multimodal.ImageIoCodec.decodeImageContent(
        graft.multimodal.ImageIoCodec.plantPng(media))
        .orderBy("media_id")
    }),

    // --- REAL JPEG decode through the same ImageIO surface: lossy, so ----
    // only the STRUCTURAL outputs are exactly predictable — format
    // detection and n_units = w·h·3 (dimensions survive quantization) —
    // and that is what this oracle pins. Pixel-level reconstruction error
    // is bounded in ImageIoCodecSpec.
    "m06_jpeg_decode" -> ((s, dir) => {
      val media = graft.multimodal.Multimodal.deriveMedia(Tables.documents(s, dir))
        .where(col("kind") === "image")
      graft.multimodal.ImageIoCodec.decodeImageContent(
        graft.multimodal.ImageIoCodec.plantJpeg(media))
        .select(col("media_id"), col("format"), col("n_units"))
        .orderBy("media_id")
    }),

    // --- EXACT JPEG decode: quality-1.0 per-block-uniform grayscale ------
    // fixtures are bit-exact through the real ImageIO encode→decode round
    // trip (DC-only blocks × all-ones quantization tables, no chroma), so
    // unlike m06 the FULL aggregates — sum and the geometry-sensitive
    // position-weighted sum — are oracle'd from first principles, at
    // multi-block dimensions with partial edge blocks on the path.
    "m06b_jpeg_exact" -> ((s, dir) => {
      val media = graft.multimodal.Multimodal.deriveMedia(Tables.documents(s, dir))
        .where(col("kind") === "image")
      graft.multimodal.ImageIoCodec.decodeImageContent(
        graft.multimodal.ImageIoCodec.plantJpegQ100(media))
        .orderBy("media_id")
    }),

    // --- brute-force cosine top-k (exact ANN baseline) --------------------
    "s01_cosine_topk" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(
        e.where(col("vec_id") < 10), e.where(col("vec_id") >= 10),
        "vec_id", "embedding", 3)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("cosine"), 4).as("cosine"))
        .orderBy("query_id", "rank")
    }),

    // --- LSH-bucketed approximate top-k (rows-only; recall vs the exact
    // brute-force top-k measured and emitted since round 12 — the
    // SimilaritySpec floor, enforced at emission) ---------------------------
    "s02_ann_lsh" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.where(col("vec_id") < 10)
      val c = e.where(col("vec_id") >= 10)
      // bits = 5: measured recall ladder on this corpus (the gauge is
      // what surfaced it) — 8 bits: 0.10–0.20, 6 bits: 0.17–0.20,
      // 5 bits: 0.33–0.43 across sf0.001/0.01/0.1 — so 5 bits is the
      // cheapest configuration that clears the 0.25 floor with headroom
      // (multi-probe touches ~6/32 of the corpus per query)
      val result = Similarity.lshTopK(
        q, c, "vec_id", "embedding", dim = 64, bits = 5, k = 3)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("cosine"), 4).as("cosine"))
      val exact = Similarity.bruteForceTopK(q, c, "vec_id", "embedding", 3)
        .select("query_id", "neighbor_id")
      val hit = result.select("query_id", "neighbor_id")
        .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
      withFloorGauge(result, ratioGauge(hit, exact), "recall_vs_exact", 0.25)
        .orderBy("query_id", "rank")
    }),

    // --- ORACLE TWIN of s02's downstream: the seeded random hyperplanes
    // aren't SQL-derivable, but the bucket equi-join, 1-bit multi-probe
    // fan-out, exact-cosine ranking, and top-k cut are — run lshTopK with
    // the axis-sign signature family (bit j = v[j] > 0, mirrorable in SQL)
    // and DuckDB re-derives buckets, probes, candidates, and ranks.
    "s02b_bucket_probe" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.lshTopK(
        e.where(col("vec_id") < 10), e.where(col("vec_id") >= 10),
        "vec_id", "embedding", dim = 64, bits = 6, k = 3,
        signature = Some(Similarity.axisSignSignature(_, 6)))
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("cosine"), 4).as("cosine"))
        .orderBy("query_id", "rank")
    }),

    // --- ORACLE TWIN of s03's downstream: trained centroids aren't
    // SQL-derivable, but the assignment/probe/rank machinery is — feed
    // ivfTopKWithCentroids 8 one-hot unit centroids (dot = a coordinate
    // read) and DuckDB re-derives cell assignment (argmax, ties to the
    // lowest cell), the nprobe cut, and the exact-cosine top-k.
    "s03b_ivf_probe" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.ivfTopKWithCentroids(
        e.where(col("vec_id") < 10), e.where(col("vec_id") >= 10),
        "vec_id", "embedding", Similarity.oneHotCentroids(8, 64), nprobe = 3, k = 3)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("cosine"), 4).as("cosine"))
        .orderBy("query_id", "rank")
    }),

    // --- IVF coarse-quantized top-k (rows-only; recall in spec) -----------
    // The second classic ANN scale path: deterministic spherical k-means
    // cells, nprobe-cell probing — each query touches ~nprobe/nlist of the
    // corpus instead of all of it.
    // (recall vs exact measured and emitted since round 12, floor 0.4 —
    // the SimilaritySpec IVF floor, enforced at emission)
    "s03_ann_ivf" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.where(col("vec_id") < 10)
      val c = e.where(col("vec_id") >= 10)
      val result = Similarity.ivfTopK(
        q, c, "vec_id", "embedding", nlist = 16, nprobe = 4, k = 3)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("cosine"), 4).as("cosine"))
      val exact = Similarity.bruteForceTopK(q, c, "vec_id", "embedding", 3)
        .select("query_id", "neighbor_id")
      val hit = result.select("query_id", "neighbor_id")
        .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
      withFloorGauge(result, ratioGauge(hit, exact), "recall_vs_exact", 0.4)
        .orderBy("query_id", "rank")
    }),

    // --- semantic dedup (SemDeDup): cluster-then-prune ---------------------
    // Production path: deterministic sampled-kmeans cells (rows-only; the
    // keep rule itself is oracle'd via s04b's one-hot twin below).
    // (prune agreement vs the EXACT global keep rule measured and
    // emitted since round 12: kept_exact(i) = no j < i ANYWHERE with
    // cosine ≥ τ — SemDeDup's cluster-then-prune can only differ by
    // missing cross-cell dups, and the emitted agreement bounds how much
    // of that it does on this corpus; computed on a fixed vec_id < 500
    // slice so the gauge stays O(1) as the corpus scales)
    "s04_semantic_dedup" -> ((s, dir) => {
      val result = Similarity.semanticDedup(
        Tables.embeddings(s, dir), "vec_id", "embedding",
        nlist = 8, tau = SemDedupTau)
        .select(col("id").as("vec_id"), col("cell"), col("cell_capped"),
          round(col("max_prior_sim"), 4).as("max_prior_sim"), col("kept"))
      val slice = Tables.embeddings(s, dir).where(col("vec_id") < 500)
      val x = Similarity.withNorm(slice, "vec_id", "embedding", "id_a", "v_a", "n_a")
      val y = Similarity.withNorm(slice, "vec_id", "embedding", "id_b", "v_b", "n_b")
      val droppedExact = x.join(y, col("id_b") < col("id_a"))
        .where(graft.expr.VectorExprs.dot(col("v_a"), col("v_b")) /
          (col("n_a") * col("n_b")) >= SemDedupTau)
        .select(col("id_a").as("vec_id")).distinct()
        .withColumn("kept_exact", lit(false))
      val agreement = result.where(col("vec_id") < 500)
        .select(col("vec_id"), col("kept"))
        .join(droppedExact, Seq("vec_id"), "left")
        .withColumn("kept_exact", coalesce(col("kept_exact"), lit(true)))
        .agg(avg(when(col("kept") === col("kept_exact"), 1.0).otherwise(0.0))
          .as("gauge"))
      withFloorGauge(result, agreement, "prune_agreement", 0.85)
        .orderBy("vec_id")
    }),

    // --- ORACLE TWIN of s04: one-hot centroids make the cell assignment
    // an argmax over the first 8 coordinates, so DuckDB re-derives the
    // whole keep rule — cell, max cosine to any lower-id cellmate, and the
    // τ cut — from first principles. τ sits ≥1.5e-4 from every max_prior_sim
    // in the data (both SFs, measured), so the kept flag cannot flip on a
    // last-ulp dot-product difference between engines.
    "s04b_semantic_dedup_cells" -> ((s, dir) => {
      Similarity.semanticDedupWithCentroids(
        Tables.embeddings(s, dir), "vec_id", "embedding",
        Similarity.oneHotCentroids(8, 64), tau = SemDedupTau)
        .select(col("id").as("vec_id"), col("cell"), col("cell_capped"),
          round(col("max_prior_sim"), 4).as("max_prior_sim"), col("kept"))
        .orderBy("vec_id")
    }),

    // --- int8 scalar-quantized ANN (SQ8): the memory-bound scale path ----
    // codes are signed bytes in a flat binary column (8× smaller than the
    // array<double> they replace), ranking runs on an exact integer dot;
    // FULL oracle — max-abs, floor(x*127/m + .5) codes, integer dot, and
    // the two-scale reconstruction are all exactly-rounded IEEE steps
    // DuckDB replays bit-for-bit (qdot is hash-matched as a BIGINT).
    "s05_ann_int8" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.int8TopK(
        e.where(col("vec_id") < 10), e.where(col("vec_id") >= 10),
        "vec_id", "embedding", k = 3)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          col("qdot"), round(col("score"), 4).as("score"))
        .orderBy("query_id", "rank")
    }),

    // --- PQ/ADC ANN (Jégou 2011): codes-only corpus + per-query LUT ------
    // 8 subvectors × 4 codewords over the 64-dim embeddings; corpus rows
    // carry 8 small ints (→ 2 B/vector at scale vs 512 B of doubles), each
    // pair costs 8 LUT lookups. FULL oracle: fixed exact-binary quarter
    // codebooks, so DuckDB replays encoding (first-of-min argmin), the
    // packed code_key (hash-matched as BIGINT — one flipped assignment
    // anywhere fails), and the ADC sum bit-for-bit from generated SQL.
    "s06_ann_pq" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.pqTopKADC(
        e.where(col("vec_id") < 10), e.where(col("vec_id") >= 10),
        "vec_id", "embedding", PqOracleBooks, k = 3)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          col("code_key"), round(col("score"), 4).as("score"))
        .orderBy("query_id", "rank")
    }),

    // --- Bloom-filter corpus-snapshot dedup (two-phase) -------------------
    // new batch = doc_id % 3 == 0, corpus = the rest; the bloom stage is
    // hash-internal but has NO false negatives, so after exact md5
    // confirmation the output is precisely "text exists in corpus" — which
    // a plain EXISTS re-derives (bloom_hit itself stays out of the
    // projection; BloomDedupSpec pins it).
    "d27_bloom_dedup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.dedup.Dedup.bloomDedupAgainst(
        docs.where(col("doc_id") % 3 === 0),
        docs.where(col("doc_id") % 3 =!= 0),
        "doc_id", "text")
        .select(col("doc_id"), col("is_dup"))
        .orderBy("doc_id")
    }),

    // --- Count-Min heavy hitters (mergeable frequency sketch) ------------
    // The sketch twin of d22's exact heavy hitters: ONE map-side pass
    // builds a depth×width counter array (fixed 1 KB state per partition
    // regardless of token volume — at 100 TB the shuffle carries 32
    // partial arrays, not the vocabulary), the distinct terms then probe
    // the broadcast sketch with pure Column arithmetic. est ≥ exact for
    // every term by construction; both the counters and the min-over-rows
    // probe are integer arithmetic DuckDB replays identically.
    "d28_cms_heavy_hitters" -> ((s, dir) => {
      val tok = Tables.documents(s, dir)
        .select(explode(TextExprs.tokens(col("text"))).as("tok"))
        .select(col("tok"), mirrorTokenHash(col("tok")).as("h"))
      val sketch = tok.agg(
        graft.expr.SketchAggs.cmsSketch(col("h"), CmsDepth, CmsWidth).as("cms"))
      tok.groupBy("tok", "h").agg(count(lit(1)).as("n_exact"))
        .crossJoin(broadcast(sketch))
        .select(col("tok").as("term"), col("n_exact"),
          graft.expr.SketchAggs.cmsEstimate(
            col("cms"), col("h"), CmsDepth, CmsWidth).as("n_est"))
        .orderBy("term")
    }),

    // --- register-sketch distinct estimate (mergeable cardinality) -------
    // HLL-style max-rank registers per source: m bytes of state per group
    // vs count(DISTINCT …)'s full value re-shuffle. The raw harmonic
    // estimator is derived RELATIONALLY from the returned registers with
    // an exact DECIMAL(38,0) denominator (every term 2^(62-rank) is an
    // integer), so the estimate — not just the registers — hash-matches
    // DuckDB despite being a double.
    "d29_hll_distinct" -> ((s, dir) => {
      val tok = Tables.documents(s, dir)
        .select(col("source"), explode(TextExprs.tokens(col("text"))).as("tok"))
        .select(col("source"), col("tok"), mirrorTokenHash(col("tok")).as("h"))
      val sk = tok.groupBy("source").agg(
        graft.expr.SketchAggs.registerSketch(col("h"), HllM).as("regs"),
        countDistinct(col("tok")).as("n_exact"))
      sk.select(col("source"), col("n_exact"),
          posexplode(col("regs")).as(Seq("i", "r")))
        .groupBy("source", "n_exact")
        .agg(sum(when(col("r") > 0, 1L).otherwise(0L)).as("n_regs_hit"),
          sum(pow(lit(2.0), lit(graft.expr.SketchAggs.MaxRank) - col("r"))
            .cast("decimal(38,0)")).as("ssum"))
        .select(col("source"), col("n_exact"), col("n_regs_hit"),
          round(lit(graft.expr.SketchAggs.hllNumerator(HllM)) /
            col("ssum").cast("double"), 4).as("n_est"))
        .orderBy("source")
    }),

    // --- sketch re-aggregation (the datacube / stored-sketch pattern) ----
    // Daily (source, day) sketches merged per source must equal the direct
    // per-source sketch EXACTLY (counts add, rank maxima commute with
    // grouping) — the identity that lets a 100 TB deployment persist tiny
    // per-partition sketch rows and answer any coarser rollup without
    // re-scanning raw data. Spark runs BOTH paths (two-level merge via
    // cms_merge/register_merge vs direct aggregate); DuckDB computes the
    // mathematical answer once and emits it for both columns — so a merge
    // bug shows up as a hash mismatch on the *_merged columns.
    "d30_sketch_merge" -> ((s, dir) => {
      import graft.expr.SketchAggs
      val tok = Tables.documents(s, dir)
        .select(col("source"), expr("(doc_id DIV 20) % 5").as("day"),
          explode(TextExprs.tokens(col("text"))).as("tok"))
        .select(col("source"), col("day"), mirrorTokenHash(col("tok")).as("h"))
      val daily = tok.groupBy("source", "day").agg(
        SketchAggs.cmsSketch(col("h"), CmsDepth, CmsWidth).as("cms"),
        SketchAggs.registerSketch(col("h"), HllM).as("regs"))
      val merged = daily.groupBy("source").agg(
        SketchAggs.cmsMerge(col("cms")).as("cms_m"),
        SketchAggs.registerMerge(col("regs")).as("regs_m"))
      val direct = tok.groupBy("source").agg(
        SketchAggs.cmsSketch(col("h"), CmsDepth, CmsWidth).as("cms_d"),
        SketchAggs.registerSketch(col("h"), HllM).as("regs_d"))
      val probeH = lit(mirrorTokenHashValue(SketchProbeTok))
      merged.join(direct, "source")
        .select(col("source"),
          SketchAggs.cmsEstimate(col("cms_m"), probeH, CmsDepth, CmsWidth)
            .as("cms_probe_merged"),
          SketchAggs.cmsEstimate(col("cms_d"), probeH, CmsDepth, CmsWidth)
            .as("cms_probe_direct"),
          posexplode(arrays_zip(col("regs_m"), col("regs_d"))).as(Seq("i", "z")))
        .groupBy("source", "cms_probe_merged", "cms_probe_direct")
        .agg(
          sum(when(col("z.regs_m") > 0, 1L).otherwise(0L)).as("n_regs_hit_merged"),
          sum(when(col("z.regs_d") > 0, 1L).otherwise(0L)).as("n_regs_hit_direct"),
          sum(pow(lit(2.0), lit(SketchAggs.MaxRank) - col("z.regs_m"))
            .cast("decimal(38,0)")).as("sm"),
          sum(pow(lit(2.0), lit(SketchAggs.MaxRank) - col("z.regs_d"))
            .cast("decimal(38,0)")).as("sd"))
        .select(col("source"),
          col("n_regs_hit_merged"), col("n_regs_hit_direct"),
          round(lit(SketchAggs.hllNumerator(HllM)) / col("sm").cast("double"), 4)
            .as("hll_est_merged"),
          round(lit(SketchAggs.hllNumerator(HllM)) / col("sd").cast("double"), 4)
            .as("hll_est_direct"),
          col("cms_probe_merged"), col("cms_probe_direct"))
        .orderBy("source")
    }),

    // --- sketch-driven quality gate: the per-source P25 length threshold
    // comes from the MERGED daily histogram sketches (never the raw data),
    // then gates the raw docs — the sketch-as-decision pattern a rolling
    // pipeline runs nightly ------------------------------------------------
    "d37_quality_gate" -> ((s, dir) => {
      import graft.expr.SketchAggs
      val lens = Tables.documents(s, dir).where(col("text").isNotNull)
        .select(col("source"), expr("(doc_id DIV 20) % 5").as("day"),
          length(col("text")).cast("double").as("len"))
      val thr = lens.groupBy("source", "day")
        .agg(SketchAggs.histSketch(col("len"), HistLo, HistHi, HistBins).as("hist"))
        .groupBy("source").agg(SketchAggs.cmsMerge(col("hist")).as("hm"))
        .select(col("source"),
          SketchAggs.histQuantile(col("hm"), 0.25, HistLo, HistHi, HistBins).as("thr"))
      Tables.documents(s, dir).where(col("text").isNotNull)
        .join(broadcast(thr), "source")
        .groupBy("source")
        .agg(count(lit(1)).as("n_total"),
          sum(when(length(col("text")).cast("double") >= col("thr"), 1L)
            .otherwise(0L)).as("n_kept"),
          coalesce(sum(when(length(col("text")).cast("double") >= col("thr"),
            col("n_chars"))), lit(0L)).as("kept_chars"),
          first(col("thr")).as("thr"))
        .orderBy("source")
    }),

    // --- corpus drift from stored sketches (monitoring) ------------------
    // day-0 histogram vs the cms_merge of days 1–4: total-variation
    // distance with an exact integer cross-multiplied core (one double
    // division at the end), plus the argmax drift bin — all from sketch
    // rows, never the raw lengths. DuckDB re-derives from raw data.
    "d34_hist_drift" -> ((s, dir) => {
      import graft.expr.SketchAggs
      val lens = Tables.documents(s, dir).where(col("text").isNotNull)
        .select(col("source"), expr("(doc_id DIV 20) % 5").as("day"),
          length(col("text")).cast("double").as("len"))
      val daily = lens.groupBy("source", "day")
        .agg(SketchAggs.histSketch(col("len"), HistLo, HistHi, HistBins).as("hist"))
      val h0 = daily.where(col("day") === 0)
        .select(col("source"), col("hist").as("h0"))
      val hr = daily.where(col("day") =!= 0).groupBy("source")
        .agg(SketchAggs.cmsMerge(col("hist")).as("hr"))
      h0.join(hr, "source")
        .select(col("source"),
          SketchAggs.histDrift(col("h0"), col("hr"), HistBins).as("d"))
        .where(col("d").isNotNull) // a side with zero in-range mass: no distance
        // Output contract keeps the VALUE representation boring for the
        // cross-engine hasher: the exact L1 numerator rides as BIGINT (the
        // decimal(38,0) stays internal to the sum only — cross-products at
        // any test SF are ≪ 2^63). tv stays a RAW double: one IEEE
        // division of exact integers is correctly rounded, hence
        // bit-identical across engines — round()ing it would reintroduce
        // the Spark-vs-DuckDB half-way disagreement (see the verify-skill
        // gotcha). n0/n1/l1_num are the exact integer triple; tv is
        // redundant evidence derived from them.
        .select(col("source"), col("d.n0").as("n0"), col("d.n1").as("n1"),
          col("d.l1_num").cast("long").as("l1_num"),
          col("d.tv").as("tv"),
          col("d.drift_bin").as("drift_bin"))
        .orderBy("source")
    }),

    // --- weighted Bernoulli sample (training-mix, ∝-weight inclusion) ----
    // inclusion prob min(1, k·w/W) via an exact integer cross-multiplied
    // gate — no division, no transcendentals, so DuckDB replays the gate
    // bit-for-bit in HUGEINT. The uniform is the SQL-mirrorable Knuth
    // multiplicative hash (production callers pass xxhash64 instead).
    "d33_weighted_sample" -> ((s, dir) => {
      import graft.pipeline.Sampling
      val h = (col("doc_id") * SampleHashMul + SampleHashAdd) % Sampling.U32Mod
      Sampling.weightedBernoulli(
          Tables.documents(s, dir), "source", h, "n_chars", k = 8)
        .groupBy("source")
        .agg(count(lit(1)).as("n_sampled"),
          sum("n_chars").as("chars_sampled"),
          min("doc_id").as("first_doc"))
        .orderBy("source")
    }),

    // --- histogram sketch quantiles (the distributional sketch) ----------
    // daily (source, day) histograms re-aggregate through cms_merge (any
    // additive counter array does) and answer P50/P95/P99 by in-bin
    // interpolation — pure Column arithmetic the oracle replays term for
    // term from the raw lengths; merged and direct twins must agree.
    "d32_hist_quantiles" -> ((s, dir) => {
      import graft.expr.SketchAggs
      val lens = Tables.documents(s, dir).where(col("text").isNotNull)
        .select(col("source"), expr("(doc_id DIV 20) % 5").as("day"),
          length(col("text")).cast("double").as("len"))
      val daily = lens.groupBy("source", "day")
        .agg(SketchAggs.histSketch(col("len"), HistLo, HistHi, HistBins).as("hist"))
      val merged = daily.groupBy("source")
        .agg(SketchAggs.cmsMerge(col("hist")).as("hm"))
      val direct = lens.groupBy("source")
        .agg(SketchAggs.histSketch(col("len"), HistLo, HistHi, HistBins).as("hd"))
      merged.join(direct, "source")
        .select(col("source"),
          SketchAggs.histTotal(col("hm"), HistBins).as("n"),
          element_at(col("hm"), 1).as("n_under"),
          element_at(col("hm"), HistBins + 2).as("n_over"),
          SketchAggs.histQuantile(col("hm"), 0.5, HistLo, HistHi, HistBins).as("p50_merged"),
          SketchAggs.histQuantile(col("hm"), 0.95, HistLo, HistHi, HistBins).as("p95_merged"),
          SketchAggs.histQuantile(col("hm"), 0.99, HistLo, HistHi, HistBins).as("p99_merged"),
          SketchAggs.histQuantile(col("hd"), 0.5, HistLo, HistHi, HistBins).as("p50_direct"),
          SketchAggs.histQuantile(col("hd"), 0.95, HistLo, HistHi, HistBins).as("p95_direct"),
          SketchAggs.histQuantile(col("hd"), 0.99, HistLo, HistHi, HistBins).as("p99_direct"))
        .orderBy("source")
    }),

    // --- bloom-pruned shuffle join (runtime-filter pattern, explicit) ----
    // the dim's key set rides a broadcast Bloom filter; the fact probes it
    // MAP-SIDE below its exchange, so only the possibly-matching sliver
    // shuffles. No false negatives + inner join erasing fpp noise ⇒ the
    // output is EXACTLY the plain join, which DuckDB replays directly.
    "d31_bloom_join" -> ((s, dir) => {
      graft.pipeline.ScaleLayout.bloomPrunedJoin(
          Tables.lineitem(s, dir),
          Tables.orders(s, dir).where(col("o_orderpriority") === "1-URGENT"),
          "l_orderkey", "o_orderkey")
        .groupBy("l_returnflag", "o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum("l_quantity").as("sum_qty"),
          (coalesce(sum(round(col("l_extendedprice") *
              (lit(1.0) - col("l_discount")) * 10000).cast("long")), lit(0L))
            .cast("double") / 10000.0).as("revenue"))
        .orderBy("l_returnflag", "o_orderstatus")
    }),

    // --- binary (1-bit) ANN: the far end of the quantization ladder ------
    // one BIGINT per vector (8 B vs 512 B), candidates cost XOR+popcount;
    // FULL oracle — sign bits, the Horner pack, and the Hamming ranking
    // are exact integer arithmetic both engines replay identically.
    "s07_ann_binary" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.binaryTopK(
        e.where(col("vec_id") < 10), e.where(col("vec_id") >= 10),
        "vec_id", "embedding", k = 3)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          col("hamming").cast("int").as("hamming"))
        .orderBy("query_id", "rank")
    }),

    // --- IVFADC (Jégou 2011 §V): coarse cells × PQ codes ------------------
    // The composition the quantization ladder exists to enable: each query
    // ADC-scans only its nprobe probed cells' codes (~nprobe/nlist of the
    // corpus), the corpus side still carrying 8 small ints per vector.
    // FULL oracle via the proven s03b × s06 idiom — one-hot centroids make
    // assignment/probing coordinate reads, fixed quarter codebooks make
    // encoding and the ADC chain replayable, and the output pins all three
    // (cell, code_key hash-matched as INT/BIGINT, ADC score).
    "s08_ann_ivfpq" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.ivfPqTopKWithModel(
        e.where(col("vec_id") < 10), e.where(col("vec_id") >= 10),
        "vec_id", "embedding", Similarity.oneHotCentroids(8, 64), PqOracleBooks,
        nprobe = 3, k = 3)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          col("cell"), col("code_key"), round(col("score"), 4).as("score"))
        .orderBy("query_id", "rank")
    }),

    // --- residual IVFADC (Jégou §V.A): codes quantize v − centroid; the
    // score chain seeds with the exact probe similarity then adds the
    // raw-query ADC sum — assignment, residual encoding, code_key, and the
    // seeded score replay term-for-term under one-hot cells ----------------
    "s09_ann_ivfpq_res" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.ivfPqTopKResidualWithModel(
        e.where(col("vec_id") < 10), e.where(col("vec_id") >= 10),
        "vec_id", "embedding", Similarity.oneHotCentroids(8, 64), PqOracleBooks,
        nprobe = 3, k = 3)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          col("cell"), col("code_key"), round(col("score"), 4).as("score"))
        .orderBy("query_id", "rank")
    }),

    // --- language-ID heuristic + quality scoring (oracle-checked: the
    // argmax tie-break is mirrored via packed score*8+langIdx encoding) ----
    "d08_lang_quality" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(
          col("doc_id"), col("lang"),
          TextExprs.langIdGuess(col("text"), LangMarkers.toMap).as("lang_guess"),
          TextExprs.qualityScore(col("text"), Stopwords).as("quality"))
        .orderBy("doc_id")
    }),

    // --- BPE-ish pre-tokenizer counts (token-budget estimation) -----------
    // Letter runs / digit runs / single marks via one regexp scan — the
    // standard cheap proxy for BPE token counts when sizing a training mix.
    // Pure map-side projection: at 100 TB this runs at scan throughput.
    "d11_bpe_tokens" -> ((s, dir) => {
      val pieces = TextExprs.bpePieces(col("text"))
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          size(pieces).cast("long").as("n_pieces"),
          size(array_distinct(pieces)).cast("long").as("n_distinct_pieces"),
          size(filter(pieces, p => p.rlike("^[A-Za-z]"))).cast("long").as("n_word_pieces"),
          size(filter(pieces, p => p.rlike("^[0-9]"))).cast("long").as("n_digit_pieces"))
        .orderBy("doc_id")
    }),

    // --- stratified reproducible sampling (training-mix construction) -----
    // Keep a per-language fraction of the corpus, chosen by an md5 gate on
    // the document id: `substr(md5(id), 1, 4) < threshold` admits a
    // uniform-pseudo-random, SEED-STABLE subset (re-runs, engines, and
    // cluster sizes all agree — unlike Bernoulli `sample()`, whose RNG is
    // partition-dependent). Pure map-side filter at scan throughput; the
    // hex-string compare is monotone in the hash value, so the admitted
    // fraction is threshold/16^4 exactly in expectation.
    "d13_stratified_sample" -> ((s, dir) => {
      Tables.documents(s, dir)
        .where(sampleGateCol)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_sampled"),
          sum("n_chars").as("sampled_chars"),
          min("doc_id").as("first_doc"))
        .orderBy("lang")
    }),

    // --- within-document repetition ratio (Gopher-style quality signal) ---
    // 1 − distinct/total word trigrams: near-1 means the doc is mostly
    // repeated boilerplate (arXiv:2112.11446 §A1.1 repetition filters).
    // Map-side HOF arithmetic — no explode, no shuffle.
    "d14_repetition" -> ((s, dir) => {
      docTrigrams(s, dir)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_trigrams"),
          countDistinct("gram").as("n_distinct_trigrams"))
        .select(col("doc_id"), col("n_trigrams"), col("n_distinct_trigrams"),
          // unrounded: an IEEE ratio of exact ints is bit-identical in any
          // engine, while round() can disagree on exact halves
          (lit(1.0) - col("n_distinct_trigrams").cast("double") /
            col("n_trigrams").cast("double")).as("repetition_ratio"))
        .orderBy("doc_id")
    }),

    // --- TF-IDF top terms per document -------------------------------------
    // tf from an explode+groupBy (map-side partial agg), document frequency
    // from a second agg over the tf table (already one row per (doc, term) —
    // no re-scan of the corpus), idf joined back ON TERM (a key-partitioned
    // shuffle join: vocabulary can be huge at 100 TB, so the df side is NOT
    // broadcast), rank-before-collect top-3. Ties rank deterministically on
    // (rounded score desc, term asc) in both engines.
    "d12_tfidf_terms" -> ((s, dir) =>
      tfidfTopTerms(Tables.documents(s, dir)).orderBy("doc_id", "rank")),

    // --- eval-set decontamination (overlap removal) ------------------------
    // The standard pretraining hygiene step: drop/flag training documents
    // sharing n-grams with the evaluation set (GPT-3 §C / PaLM §7-style,
    // here 3-grams so the synthetic corpus actually collides). Shape for
    // 100 TB: the eval side is SMALL (benchmark suites) → distinct-gram set
    // is broadcast; the training side is one map-side explode + broadcast
    // semi-shape join + partial-agg count. No shuffle of the corpus.
    "d15_decontaminate" -> ((s, dir) => {
      // the doc-id split lands BEFORE trigram assembly: each side explodes
      // and windows only its own documents (eval is 1/23 of the corpus),
      // instead of both branches independently trigramming ALL documents
      // and filtering after — which doubled the expensive subtree and made
      // this the slowest pipeline entry (5.7 s isolated at sf0.1)
      val docs = Tables.documents(s, dir)
      val evalGrams = trigramsOf(docs.where(col("doc_id") % 23 === 0))
        .select("gram").distinct()
      // one pass over the corpus grams: a LEFT broadcast join tags eval
      // hits, a single agg counts both totals — no second aggregation, no
      // doc_id re-join; the per-doc distinct reuses the window's doc_id
      // partitioning (no extra exchange)
      trigramsOf(docs.where(col("doc_id") % 23 =!= 0))
        .distinct() // per-doc DISTINCT grams, like an array_distinct form
        .join(broadcast(evalGrams.withColumn("__hit", lit(1))), Seq("gram"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_distinct_grams"),
          count(col("__hit")).as("n_eval_grams")) // count(col) skips nulls
        .where(col("n_eval_grams") > 0)
        // IEEE ratio of exact ints — bit-identical across engines unrounded
        .select(col("doc_id"), col("n_distinct_grams"), col("n_eval_grams"),
          (col("n_eval_grams").cast("double") /
            col("n_distinct_grams").cast("double")).as("contamination"))
        .orderBy("doc_id")
    }),

    // --- seed-stable epoch ordering (training shuffle) ---------------------
    // A training "shuffle" must be reproducible across engines, re-runs and
    // cluster sizes — so it's a SORT by a keyed hash, not an RNG. Here:
    // the first 200 docs of epoch 0. orderBy+limit compiles to
    // TakeOrderedAndProject (per-partition top-N, driver merge — no global
    // sort); materializing the FULL epoch order at scale is the same sort
    // key through a range-partitioned write instead of the limit.
    "d16_epoch_order" -> ((s, dir) => {
      val key = md5(concat(lit("epoch0:"), col("doc_id").cast("string")))
      Tables.documents(s, dir)
        .select(col("doc_id"), key.as("shuffle_key"))
        .orderBy("shuffle_key")
        .limit(200)
    }),

    // --- weighted domain mixing (fractional upsampling) --------------------
    // Training-mix construction: each language gets a repeat factor
    // (de 2.5, en 0.5, es 1.0, fr 3.25, zh 1.75); integer part = explode of
    // a sequence, fractional part = an md5 gate on the doc id (seed-stable,
    // like d13). Map-side explode with bounded fan-out — no shuffle until
    // the final small agg.
    "d17_domain_mix" -> ((s, dir) => {
      val full = Seq("de" -> 2, "en" -> 0, "es" -> 1, "fr" -> 3, "zh" -> 1)
        .foldLeft(when(lit(false), lit(0))) { case (acc, (l, c)) =>
          acc.when(col("lang") === l, c)
        }.otherwise(0)
      val gateHex = Seq("de" -> "8000", "en" -> "8000", "fr" -> "4000", "zh" -> "c000")
        .foldLeft(when(lit(false), lit(""))) { case (acc, (l, g)) =>
          acc.when(col("lang") === l, g)
        }.otherwise("0000") // es: integer factor, the gate never admits
      val extra = when(
        substring(md5(concat(lit("mix:"), col("doc_id").cast("string"))), 1, 4) < gateHex, 1)
        .otherwise(0)
      val nCopies = (full + extra).cast("int")
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          // sequence(1, 0) would step BACKWARD; null → explode drops the doc
          explode(when(nCopies >= 1, sequence(lit(1), nCopies))).as("copy"))
        .groupBy("lang")
        .agg(countDistinct("doc_id").as("n_source_docs"),
          count(lit(1)).as("n_mixed_docs"),
          sum("n_chars").as("mixed_chars"))
        .orderBy("lang")
    }),

    // --- duplicate-span fraction (Dolma/Gopher-style dup signal) -----------
    // Per document: the fraction of its DISTINCT word n-gram spans that
    // also occur in at least one OTHER document — the cross-document twin
    // of d14's within-document repetition (d14 asks "does this doc repeat
    // itself", d19 asks "is this doc made of corpus boilerplate"). Span
    // length is a pipeline parameter; 3 here so the synthetic vocabulary
    // actually collides. Scale shape: span df is a key-partitioned agg on
    // the gram (vocabulary scales — never broadcast, exactly like d12's
    // df side); the per-doc ratio re-aggregates by doc. Self-counting is
    // avoided by counting DOCS per gram, not occurrences.
    "d19_dup_spans" -> ((s, dir) => {
      val grams = docTrigrams(s, dir).distinct() // per-doc distinct spans
      val df = grams.groupBy("gram").agg(count(lit(1)).as("n_docs_with"))
      grams.join(df, "gram")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_spans"),
          sum(when(col("n_docs_with") >= 2, 1).otherwise(0)).as("n_dup_spans"))
        // IEEE ratio of exact ints — bit-identical across engines unrounded
        .select(col("doc_id"), col("n_spans"), col("n_dup_spans"),
          (col("n_dup_spans").cast("double") / col("n_spans").cast("double"))
            .as("dup_span_ratio"))
        .orderBy("doc_id")
    }),

    // --- PII detection + redaction (planted, then scrubbed) ----------------
    // The standard pre-training scrub: regex email/phone detection and
    // replacement. Pure map-side projection — at 100 TB this runs at scan
    // throughput with zero shuffle (the orderBy is only for the oracle
    // dump). The md5 of the redacted text makes the oracle sensitive to
    // every byte of the replacement semantics, not just the counts.
    "d20_pii_redact" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), plantedPii(col("text"), col("doc_id")).as("txt"))
        .select(col("doc_id"),
          regexp_count(col("txt"), lit(EmailRe)).cast("long").as("n_emails"),
          regexp_count(col("txt"), lit(PhoneRe)).cast("long").as("n_phones"),
          md5(regexp_replace(regexp_replace(col("txt"), EmailRe, "<EMAIL>"),
            PhoneRe, "<PHONE>")).as("redacted_md5"))
        .orderBy("doc_id")
    }),

    // --- per-domain quota cap (training-mix governance) --------------------
    // Keep at most 10 docs per source, preferring the longest — the "no
    // single domain dominates the mix" cap applied after quality filtering.
    // Rank-filter BEFORE any collect; the window shuffles by source only,
    // so parallelism is the domain count and a skewed mega-domain costs
    // one partition, not a global sort (cap-per-key never needs one).
    "d21_domain_quota" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("source")
        .orderBy(col("n_chars").desc, col("doc_id").asc)
      Tables.documents(s, dir)
        .select(col("source"), col("doc_id"), col("n_chars"))
        .withColumn("rank", row_number().over(w).cast("int"))
        .where(col("rank") <= 10)
        .orderBy("source", "rank")
    }),

    // --- corpus heavy hitters (exact top-k frequent terms) -----------------
    // The exact form of the frequent-items problem: one explode + hash agg
    // keyed on the term (vocabulary-scalable, never broadcast) and a
    // TakeOrderedAndProject top-25 — no global sort. The sketch scale path
    // is Spark's built-in `stat.freqItems` (Karp/Misra-Gries); its
    // superset guarantee vs this exact answer is pinned in
    // PipelineOpsSpec. Ties rank deterministically (count desc, term asc).
    "d22_heavy_hitters" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(explode(TextExprs.tokens(col("text"))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("term").asc)
        .limit(25)
    }),

    // --- the full corpus-construction funnel (ops COMPOSED end-to-end) -----
    // What a real pretraining data pipeline runs as one job: exact dedup →
    // eval-set removal + decontamination → cross-doc boilerplate filter →
    // per-domain quota → seed-stable sampling, reporting the survivor count
    // after every stage. Each stage is the documented scale shape of its
    // standalone op (d01/d15/d19/d21/d13); the funnel proves they compose.
    // Quota ranks are computed on the SURVIVORS of the preceding stages,
    // like a real pipeline (not on the raw corpus).
    // SINGLE-PASS shape: instead of re-deriving every funnel prefix (which
    // executes stage k's lineage 6-k times), each doc is tagged with the
    // FURTHEST stage it survives — every heavy set (dedup keepers,
    // contaminated ids, boilerplate ids) computes once, the quota rank
    // among prior-stage survivors is a conditional running count (a
    // row_number over a filtered set, without filtering), and the funnel
    // counts come from one tiny stage-dim fan-out over the tagged docs.
    "d23_corpus_funnel" -> ((s, dir) => corpusFunnel(s, Tables.documents(s, dir))),

    // --- df-capped Jaccard (the ngramJaccardPairs skew guard, oracle-d) ---
    // Every doc gets the same planted boilerplate suffix; with the df cap
    // engaged those tokens (df 40 > 30) drop out of the vocabulary BEFORE
    // the shingle self-join, so the result is exact Jaccard over the
    // df ≤ cap tokens — DuckDB re-derives it relationally from strings
    // while Spark runs the hashed-shingle library operator (w = 1).
    "d24_jaccard_capped" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).where(col("doc_id") < 40)
        .select(col("doc_id"), concat(col("text"), lit(JaccardBoiler)).as("text"))
      graft.dedup.Dedup.ngramJaccardPairs(docs, "doc_id", "text", w = 1,
        maxShingleDf = Some(JaccardDfCap))
        .orderBy("id_a", "id_b")
    }),

    // --- sequence packing (concat-and-chunk) -------------------------------
    // Pretraining batch construction: each shard's token stream is
    // concatenated in deterministic doc order and chunked into 512-token
    // training sequences; a doc's chunk is floor(startOffset/512) of the
    // shard-local running total. The window partitions by SHARD — per-shard
    // independent streams, never a global window — so at 100 TB parallelism
    // is the shard count, and packing an exabyte stream is embarrassingly
    // parallel across shards.
    "d18_seq_packing" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.documents(s, dir)
        .select(col("doc_id"), (col("doc_id") % 8).as("shard"),
          size(TextExprs.tokens(col("text"))).cast("long").as("n_tok"))
        .withColumn("start_off", coalesce(sum("n_tok").over(w), lit(0L)))
        .withColumn("seq_id", floor(col("start_off") / lit(512)))
        .groupBy("shard", "seq_id")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
        .orderBy("shard", "seq_id")
    }),

    // --- per-doc sliding-window chunking (RAG / context-window prep) ------
    // 48-token windows, 8-token overlap: every chunk boundary is covered by
    // a duplicate span, unlike d18's packing which never duplicates. Pure
    // map-side (split → sequence → posexplode → slice); the oracle is
    // GENERATED from the same (maxTokens, overlap) constants.
    "d26_doc_chunks" -> ((s, dir) => {
      graft.text.Chunking.chunk(
        Tables.documents(s, dir), "doc_id", "text",
        maxTokens = ChunkMaxTokens, overlap = ChunkOverlap)
        .orderBy("doc_id", "chunk_idx")
    }))

  /** d26 window shape — single-sourced into both the Spark query and its
    * generated DuckDB oracle.
    */
  val ChunkMaxTokens = 48
  val ChunkOverlap = 8

  /** s04/s04b SemDeDup threshold — measured ≥1.5e-4 clear of every
    * max_prior_sim at sf0.01 AND sf0.1, so the τ comparison is immune to
    * cross-engine last-ulp dot-product drift.
    */
  val SemDedupTau = 0.42

  val oracles: Map[String, String] = Map(
    // same RE2-safe pattern string on both sides (TextExprs.BpePattern)
    "d11_bpe_tokens" ->
      s"""WITH p AS (
         |  SELECT doc_id,
         |         regexp_extract_all(text, '${TextExprs.BpePattern}') AS pieces
         |  FROM documents)
         |SELECT doc_id,
         |       CAST(len(pieces) AS BIGINT) AS n_pieces,
         |       CAST(len(list_distinct(pieces)) AS BIGINT) AS n_distinct_pieces,
         |       CAST(len(list_filter(pieces, x -> regexp_matches(x, '^[A-Za-z]'))) AS BIGINT)
         |         AS n_word_pieces,
         |       CAST(len(list_filter(pieces, x -> regexp_matches(x, '^[0-9]'))) AS BIGINT)
         |         AS n_digit_pieces
         |FROM p
         |ORDER BY doc_id""".stripMargin,

    // same md5-hex gate per language (md5 hex is engine-identical)
    "d13_stratified_sample" -> {
      val gates = sampleGateSql("\n   OR ")
      s"""SELECT lang, count(*) AS n_sampled,
         |       CAST(sum(n_chars) AS BIGINT) AS sampled_chars,
         |       min(doc_id) AS first_doc
         |FROM documents
         |WHERE $gates
         |GROUP BY lang
         |ORDER BY lang""".stripMargin
    },

    "d14_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |         len(string_split(text, ' ')) AS n
        |  FROM documents),
        |tri AS (
        |  SELECT doc_id, n,
        |         -- n - 2 >= 1 is guaranteed by the WHERE n >= 3 below; a
        |         -- greatest(…, 1) clamp here would mask that short docs
        |         -- never reach this branch
        |         list_transform(generate_series(1, n - 2),
        |                        i -> array_to_string(toks[i:i+2], ' ')) AS tris
        |  FROM t WHERE n >= 3)
        |SELECT doc_id,
        |       CAST(n - 2 AS BIGINT) AS n_trigrams,
        |       CAST(len(list_distinct(tris)) AS BIGINT) AS n_distinct_trigrams,
        |       1.0 - CAST(len(list_distinct(tris)) AS DOUBLE) / CAST(n - 2 AS DOUBLE)
        |         AS repetition_ratio
        |FROM tri
        |ORDER BY doc_id""".stripMargin,

    "d12_tfidf_terms" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT doc_id, term,
        |         round(CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 6)
        |           AS tfidf
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, term, tfidf,
        |         CAST(row_number() OVER (PARTITION BY doc_id
        |                                 ORDER BY tfidf DESC, term ASC) AS INT) AS rank
        |  FROM scored)
        |SELECT doc_id, rank, term, tfidf
        |FROM ranked WHERE rank <= 3
        |ORDER BY doc_id, rank""".stripMargin,

    "d08_lang_quality" -> {
      val langs = LangMarkers.map(_._1) // lex-sorted; index = tie-break rank
      val byLang = LangMarkers.toMap
      def score(l: String): String =
        byLang(l).map(m => s"(CASE WHEN contains(text, '$m') THEN 1 ELSE 0 END)")
          .mkString(" + ")
      val packed = langs.zipWithIndex.map { case (l, i) => s"(s_$l * 8 + $i)" }
      val arms = langs.zipWithIndex.map { case (l, i) => s"WHEN (s_$l * 8 + $i) THEN '$l'" }
      val swList = Stopwords.map(w => s"'$w'").mkString(", ")
      s"""WITH sw AS (
         |  SELECT doc_id,
         |         CAST(count(*) FILTER (WHERE tok IN ($swList)) AS DOUBLE) AS n_sw
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
         |  GROUP BY doc_id),
         |scored AS (
         |  SELECT doc_id, lang,
         |         ${langs.map(l => s"${score(l)} AS s_$l").mkString(", ")},
         |         CAST(length(text) - length(replace(text, ' ', '')) + 1 AS DOUBLE) AS ntok,
         |         CAST(length(text) - length(regexp_replace(text, '[\\.,;:!\\?''"]', '', 'g')) AS DOUBLE)
         |           / greatest(length(text), 1) AS punct
         |  FROM documents)
         |SELECT s.doc_id, s.lang,
         |       CASE greatest(${packed.mkString(", ")}) ${arms.mkString(" ")} END AS lang_guess,
         |       round(least(ntok / 20.0, 1.0) * (CASE WHEN ntok > 1000 THEN 0.5 ELSE 1.0 END)
         |             * (1.0 - least(punct * 5.0, 1.0))
         |             * (0.5 + least(coalesce(n_sw, 0) / ntok * 4.0, 1.0) * 0.5), 6) AS quality
         |FROM scored s LEFT JOIN sw USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    },

    "d01_exact_dedup" ->
      """SELECT md5(text) AS text_hash, count(*) AS n_copies, min(doc_id) AS keeper_id
        |FROM documents
        |WHERE text IS NOT NULL
        |GROUP BY 1
        |ORDER BY text_hash""".stripMargin,

    // binary plumbing mirror: byte semantics (substring/octet_length on the
    // UTF-8 BLOB), truncating frame offsets (floor = Spark's int cast),
    // aspect-preserving resize math operation-for-operation
    "m01_media_meta" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |         CASE (doc_id % 3) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |         encode(text) AS payload,
        |         CAST((doc_id * 37) % 1920 + 1 AS INT) AS width,
        |         CAST((doc_id * 53) % 1080 + 1 AS INT) AS height
        |  FROM documents),
        |s AS (
        |  SELECT *, CAST(octet_length(payload) AS BIGINT) AS payload_bytes,
        |         least(512 / greatest(CAST(width AS DOUBLE), CAST(height AS DOUBLE)), 1.0) AS scale,
        |         greatest(octet_length(payload), 1) AS plen
        |  FROM m)
        |SELECT media_id, kind, payload_bytes, width, height,
        |       CAST(greatest(round(CAST(width AS DOUBLE) * scale), 1.0) AS INT) AS new_width,
        |       CAST(greatest(round(CAST(height AS DOUBLE) * scale), 1.0) AS INT) AS new_height,
        |       substring(hex(payload), 2 * CAST(floor(0 * plen / 4 + 1) AS INT) - 1, 2) AS frame0_hex,
        |       substring(hex(payload), 2 * CAST(floor(2 * plen / 4 + 1) AS INT) - 1, 2) AS frame2_hex
        |FROM s
        |ORDER BY media_id""".stripMargin,

    // container-decode mirror: every parsed field re-derived from the same
    // integer arithmetic the planting uses; division semantics match the
    // parser exactly (both engines: BIGINT product → double `/` → floor,
    // mirroring Scala's truncating long division on positive values)
    "m02_media_decode" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |         CASE (doc_id % 3) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |         CAST((doc_id * 37) % 1920 + 1 AS INT) AS width,
        |         CAST((doc_id * 53) % 1080 + 1 AS INT) AS height,
        |         (doc_id * 97) % 600000 + 1 AS dur,
        |         8000 * (1 + doc_id % 5) AS rate,
        |         1 + doc_id % 2 AS ch
        |  FROM documents),
        |calc AS (
        |  SELECT *,
        |         rate * ch * 2 AS byte_rate,
        |         CAST(floor(dur * (rate * ch * 2) / 1000) AS BIGINT) AS data_bytes,
        |         CAST(floor(dur * 1000 / 33333) AS BIGINT) AS frames
        |  FROM m)
        |SELECT media_id,
        |       CASE kind WHEN 'image' THEN 'png' WHEN 'audio' THEN 'wav' ELSE 'avi' END AS format,
        |       CASE WHEN kind IN ('image', 'video') THEN width END AS width,
        |       CASE WHEN kind IN ('image', 'video') THEN height END AS height,
        |       CASE WHEN kind = 'audio' THEN CAST(rate AS BIGINT) END AS sample_rate,
        |       CASE WHEN kind = 'audio' THEN CAST(ch AS INT) END AS channels,
        |       CASE WHEN kind = 'audio' THEN CAST(floor(data_bytes * 1000 / byte_rate) AS BIGINT)
        |            WHEN kind = 'video' THEN CAST(floor(33333 * frames / 1000) AS BIGINT)
        |       END AS duration_ms
        |FROM calc
        |ORDER BY media_id""".stripMargin,

    // m03: the DECODED pixel/sample aggregates predicted from the same id
    // arithmetic the serializer uses — the decoder must reproduce them from
    // real bytes (bottom-up rows, stride padding, signed LE samples)
    "m03_media_pixels" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |         CASE (doc_id % 3) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' END AS kind
        |  FROM documents WHERE doc_id % 3 IN (0, 1)),
        |img AS (
        |  SELECT media_id, 'bmp' AS format,
        |         CAST((1 + media_id % 5) * (1 + media_id % 4) * 3 AS BIGINT) AS n_units,
        |         CAST(list_sum(list_transform(
        |           generate_series(0, (1 + media_id % 5) * (1 + media_id % 4) * 3 - 1),
        |           k -> (media_id * 7 + k) % 256)) AS BIGINT) AS sum_units,
        |         CAST(list_sum(list_transform(
        |           generate_series(0, (1 + media_id % 5) * (1 + media_id % 4) * 3 - 1),
        |           k -> ((media_id * 7 + k) % 256) * (k + 1))) AS BIGINT) AS geom_sum
        |  FROM m WHERE kind = 'image'),
        |aud AS (
        |  SELECT media_id, 'wav' AS format,
        |         CAST(40 + media_id % 17 AS BIGINT) AS n_units,
        |         CAST(list_sum(list_transform(
        |           generate_series(0, 40 + media_id % 17 - 1),
        |           t -> (media_id * 31 + t * 17) % 4096 - 2048)) AS BIGINT) AS sum_units,
        |         CAST(list_sum(list_transform(
        |           generate_series(0, 40 + media_id % 17 - 1),
        |           t -> ((media_id * 31 + t * 17) % 4096 - 2048) * (t + 1))) AS BIGINT) AS geom_sum
        |  FROM m WHERE kind = 'audio')
        |SELECT * FROM img UNION ALL SELECT * FROM aud
        |ORDER BY media_id""".stripMargin,

    // m04: PPM-decoded aggregates predicted from the serializer's
    // (id·11 + k) % 256 arithmetic — identical for the P6/P3 variants, so
    // one prediction covers both decoder paths
    "m04_ppm_pixels" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id FROM documents WHERE doc_id % 3 = 0)
        |SELECT media_id, 'ppm' AS format,
        |       CAST((1 + media_id % 5) * (1 + media_id % 4) * 3 AS BIGINT) AS n_units,
        |       CAST(list_sum(list_transform(
        |         generate_series(0, (1 + media_id % 5) * (1 + media_id % 4) * 3 - 1),
        |         k -> (media_id * 11 + k) % 256)) AS BIGINT) AS sum_units,
        |       CAST(list_sum(list_transform(
        |         generate_series(0, (1 + media_id % 5) * (1 + media_id % 4) * 3 - 1),
        |         k -> ((media_id * 11 + k) % 256) * (k + 1))) AS BIGINT) AS geom_sum
        |FROM m
        |ORDER BY media_id""".stripMargin,

    // m05: identical arithmetic to m04 (same planted formula and unit
    // order) with format 'png' — DuckDB never touches image bytes; the
    // Spark side must reproduce the prediction THROUGH the JDK PNG
    // encode→decode round trip
    "m05_png_pixels" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id FROM documents WHERE doc_id % 3 = 0)
        |SELECT media_id, 'png' AS format,
        |       CAST((1 + media_id % 5) * (1 + media_id % 4) * 3 AS BIGINT) AS n_units,
        |       CAST(list_sum(list_transform(
        |         generate_series(0, (1 + media_id % 5) * (1 + media_id % 4) * 3 - 1),
        |         k -> (media_id * 11 + k) % 256)) AS BIGINT) AS sum_units,
        |       CAST(list_sum(list_transform(
        |         generate_series(0, (1 + media_id % 5) * (1 + media_id % 4) * 3 - 1),
        |         k -> ((media_id * 11 + k) % 256) * (k + 1))) AS BIGINT) AS geom_sum
        |FROM m
        |ORDER BY media_id""".stripMargin,

    // m06: the lossy JPEG path's exact structural contract — format
    // detection plus n_units = w·h·3 from the planted dimensions
    "m06_jpeg_decode" ->
      """SELECT doc_id AS media_id, 'jpeg' AS format,
        |       CAST((1 + doc_id % 5) * (1 + doc_id % 4) * 3 AS BIGINT) AS n_units
        |FROM documents WHERE doc_id % 3 = 0
        |ORDER BY media_id""".stripMargin,

    // m06b: the exact-JPEG fixture's full first-principles prediction —
    // unit k of media id is (id·31 + blk·7) % 256 where blk is the 8×8
    // block index of pixel k/3 at the planted (1+id%12)×(1+id%10)
    // dimensions; DuckDB never touches image bytes, the Spark side must
    // reproduce the arithmetic THROUGH the real quality-1.0 JPEG
    // encode→decode round trip (lossless for per-block-uniform content)
    "m06b_jpeg_exact" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |         1 + doc_id % 12 AS w, 1 + doc_id % 10 AS h
        |  FROM documents WHERE doc_id % 3 = 0)
        |SELECT media_id, 'jpeg' AS format,
        |       CAST(w * h * 3 AS BIGINT) AS n_units,
        |       CAST(list_sum(list_transform(
        |         generate_series(0, w * h * 3 - 1),
        |         k -> (media_id * 31 + ((((k // 3) // w) // 8) * ((w + 7) // 8)
        |               + (((k // 3) % w) // 8)) * 7) % 256)) AS BIGINT) AS sum_units,
        |       CAST(list_sum(list_transform(
        |         generate_series(0, w * h * 3 - 1),
        |         k -> ((media_id * 31 + ((((k // 3) // w) // 8) * ((w + 7) // 8)
        |               + (((k // 3) % w) // 8)) * 7) % 256) * (k + 1))) AS BIGINT) AS geom_sum
        |FROM m
        |ORDER BY media_id""".stripMargin,

    "d02_token_stats" ->
      """SELECT doc_id,
        |       CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens,
        |       CAST(length(replace(text, ' ', '')) AS DOUBLE) /
        |             (length(text) - length(replace(text, ' ', '')) + 1) AS avg_token_len,
        |       CAST((length(text) - length(replace(text, ' the ', ''))) / 5 AS BIGINT) AS n_the
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    "d03_lang_profile" ->
      """SELECT lang, source, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |       CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars,
        |       CAST(sum(length(text) - length(replace(text, ' ', '')) + 1) AS BIGINT) AS total_tokens
        |FROM documents
        |GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin,

    "d04_jaccard_pairs" ->
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, tok FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |    FROM documents WHERE doc_id < 40)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
        |common AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
        |  FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, n_common,
        |       CAST(n_common AS DOUBLE) / CAST(sa.n + sb.n - n_common AS DOUBLE)
        |         AS jaccard
        |FROM common
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |ORDER BY id_a, id_b""".stripMargin,

    // clustering oracle: recursive transitive closure (an entirely
    // different algorithm than the Spark side's min-label propagation —
    // they must agree on the component partition exactly)
    "d10_neardup_clusters" ->
      """WITH RECURSIVE tok AS (
        |  SELECT DISTINCT doc_id, tok FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |    FROM documents WHERE doc_id < 40)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
        |common AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
        |  FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT id_a, id_b FROM common
        |  JOIN sizes sa ON sa.doc_id = id_a
        |  JOIN sizes sb ON sb.doc_id = id_b
        |  WHERE CAST(n_common AS DOUBLE) / CAST(sa.n + sb.n - n_common AS DOUBLE) >= 0.8),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM p
        |          UNION SELECT id_b, id_a FROM p),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |comp AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
        |         FROM reach GROUP BY src)
        |SELECT d.doc_id, CAST(coalesce(c.cluster_id, d.doc_id) AS BIGINT) AS cluster_id
        |FROM (SELECT doc_id FROM documents WHERE doc_id < 40) d
        |LEFT JOIN comp c USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // lifecycle replay: every stage CTE feeds the next, mirroring the
    // Spark composition — exact keeper key (md5 | per-row null key),
    // distinct-token jaccard, recursive closure, keeper window
    "d36_dedup_funnel" ->
      """WITH RECURSIVE docs AS (
        |  SELECT doc_id, text, n_chars FROM documents WHERE doc_id < 40
        |  UNION ALL
        |  SELECT doc_id + 1000, text, n_chars FROM documents WHERE doc_id < 3),
        |exact AS (SELECT doc_id, text, n_chars FROM (
        |    SELECT d.*, row_number() OVER (
        |      PARTITION BY coalesce(md5(text), 'n:' || CAST(doc_id AS VARCHAR))
        |      ORDER BY doc_id ASC) AS rn FROM docs d) WHERE rn = 1),
        |tok AS (SELECT DISTINCT doc_id, tok FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM exact)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
        |common AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
        |  FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT id_a, id_b FROM common
        |  JOIN sizes sa ON sa.doc_id = id_a
        |  JOIN sizes sb ON sb.doc_id = id_b
        |  WHERE CAST(n_common AS DOUBLE) / CAST(sa.n + sb.n - n_common AS DOUBLE) >= 0.8),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM p
        |          UNION SELECT id_b, id_a FROM p),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |comp AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
        |         FROM reach GROUP BY src),
        |clustered AS (
        |  SELECT e.doc_id, e.n_chars,
        |         CAST(coalesce(c.cluster_id, e.doc_id) AS BIGINT) AS cluster_id
        |  FROM exact e LEFT JOIN comp c USING (doc_id)),
        |kept AS (SELECT doc_id FROM (
        |    SELECT doc_id, doc_id = first_value(doc_id) OVER (
        |      PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS is_keeper
        |    FROM clustered) WHERE is_keeper)
        |SELECT stage, n, checksum FROM (
        |  SELECT '1_input' AS stage, CAST(count(*) AS BIGINT) AS n,
        |         CAST(coalesce(sum(doc_id), 0) AS BIGINT) AS checksum FROM docs
        |  UNION ALL SELECT '2_exact', CAST(count(*) AS BIGINT),
        |         CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM exact
        |  UNION ALL SELECT '3_pairs', CAST(count(*) AS BIGINT),
        |         CAST(coalesce(sum(id_a + id_b), 0) AS BIGINT) FROM p
        |  UNION ALL SELECT '4_kept', CAST(count(*) AS BIGINT),
        |         CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM kept)
        |ORDER BY stage""".stripMargin,

    // d10's closure + the keeper window: first_value under the same
    // (n_chars DESC, doc_id ASC) total order both engines rank
    "d35_cluster_keepers" ->
      """WITH RECURSIVE tok AS (
        |  SELECT DISTINCT doc_id, tok FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |    FROM documents WHERE doc_id < 40)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
        |common AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
        |  FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT id_a, id_b FROM common
        |  JOIN sizes sa ON sa.doc_id = id_a
        |  JOIN sizes sb ON sb.doc_id = id_b
        |  WHERE CAST(n_common AS DOUBLE) / CAST(sa.n + sb.n - n_common AS DOUBLE) >= 0.8),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM p
        |          UNION SELECT id_b, id_a FROM p),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |comp AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
        |         FROM reach GROUP BY src),
        |docs AS (
        |  SELECT d.doc_id, d.n_chars,
        |         CAST(coalesce(c.cluster_id, d.doc_id) AS BIGINT) AS cluster_id
        |  FROM (SELECT doc_id, n_chars FROM documents WHERE doc_id < 40) d
        |  LEFT JOIN comp c USING (doc_id))
        |SELECT doc_id, cluster_id,
        |       first_value(doc_id) OVER (PARTITION BY cluster_id
        |         ORDER BY n_chars DESC, doc_id ASC
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS keeper_id,
        |       doc_id = first_value(doc_id) OVER (PARTITION BY cluster_id
        |         ORDER BY n_chars DESC, doc_id ASC
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS is_keeper
        |FROM docs
        |ORDER BY doc_id""".stripMargin,

    "d07_embedding_neardup" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |       round(list_dot_product(a.v, b.v) /
        |             (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4)
        |         AS cosine
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE round(list_dot_product(a.v, b.v) /
        |            (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) >= 0.30
        |ORDER BY id_a, id_b""".stripMargin,

    "s01_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id >= 10),
        |pairs AS (
        |  SELECT query_id, neighbor_id,
        |         list_dot_product(q.v, c.v) /
        |           (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos_raw
        |  FROM q CROSS JOIN c),
        |ranked AS (
        |  SELECT query_id, neighbor_id, cos_raw,
        |         CAST(row_number() OVER (PARTITION BY query_id
        |                                 ORDER BY cos_raw DESC, neighbor_id ASC) AS INT) AS rank
        |  FROM pairs)
        |SELECT query_id, rank, neighbor_id, round(cos_raw, 4) AS cosine
        |FROM ranked WHERE rank <= 3
        |ORDER BY query_id, rank""".stripMargin,

    // int8 quantization replay: same max-abs / floor(x*127/m + 0.5) /
    // clamp pipeline as Int8Pack, integer dot as exact doubles cast to
    // BIGINT, scales re-applied in the query's association order
    "s05_ann_int8" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id >= 10),
        |qq AS (
        |  SELECT query_id, m,
        |         CASE WHEN m = 0 THEN list_transform(v, x -> 0.0)
        |              ELSE list_transform(v, x ->
        |                greatest(-127.0, least(127.0, floor(x * 127.0 / m + 0.5)))) END AS codes
        |  FROM (SELECT query_id, v,
        |               list_max(list_transform(v, x -> abs(x))) AS m FROM q) t),
        |cc AS (
        |  SELECT neighbor_id, m,
        |         CASE WHEN m = 0 THEN list_transform(v, x -> 0.0)
        |              ELSE list_transform(v, x ->
        |                greatest(-127.0, least(127.0, floor(x * 127.0 / m + 0.5)))) END AS codes
        |  FROM (SELECT neighbor_id, v,
        |               list_max(list_transform(v, x -> abs(x))) AS m FROM c) t),
        |pairs AS (
        |  SELECT query_id, neighbor_id,
        |         CAST(list_dot_product(qq.codes, cc.codes) AS BIGINT) AS qdot,
        |         ((qq.m / 127.0) * (cc.m / 127.0)) * list_dot_product(qq.codes, cc.codes) AS score
        |  FROM qq CROSS JOIN cc),
        |ranked AS (
        |  SELECT query_id, neighbor_id, qdot, score,
        |         CAST(row_number() OVER (PARTITION BY query_id
        |                                 ORDER BY score DESC, neighbor_id ASC) AS INT) AS rank
        |  FROM pairs)
        |SELECT query_id, rank, neighbor_id, qdot, round(score, 4) AS score
        |FROM ranked WHERE rank <= 3
        |ORDER BY query_id, rank""".stripMargin,

    // generated from the SAME fixed codebooks as the query (exact-binary
    // quarters round-trip through SQL text): encoding argmin, packed
    // code_key, and the ADC chain replayed term for term
    "s06_ann_pq" -> Similarity.pqOracleSql(PqOracleBooks, k = 3),

    // generated from the SAME codebooks as the query, composed with the
    // s03b one-hot probe CTEs: assignment, nprobe cut, encoding, code_key,
    // and the probed-cell ADC chain all replayed
    "s08_ann_ivfpq" -> Similarity.ivfPqOracleSql(PqOracleBooks, nprobe = 3, k = 3),
    "s09_ann_ivfpq_res" -> Similarity.ivfPqResidualOracleSql(PqOracleBooks, nprobe = 3, k = 3),

    // the bloom stage is transparent (no false negatives + exact confirm),
    // so the oracle is the plain membership predicate
    "d27_bloom_dedup" ->
      """SELECT n.doc_id,
        |       (n.text IS NOT NULL AND EXISTS (
        |          SELECT 1 FROM documents c
        |          WHERE c.doc_id % 3 <> 0 AND c.text = n.text)) AS is_dup
        |FROM documents n
        |WHERE n.doc_id % 3 = 0
        |ORDER BY n.doc_id""".stripMargin,

    // Count-Min replay: counters re-derived as group-bys over the affine
    // position family (same prime + coefficients via interpolation), the
    // probe as a join on (row, pos) — every value BIGINT, min over rows
    "d28_cms_heavy_hitters" ->
      s"""WITH tok AS (
         |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
         |h AS (SELECT tok, $MirrorTokenHashSql AS h FROM tok),
         |d AS (SELECT unnest(generate_series(0, ${CmsDepth - 1})) AS d),
         |pos AS (SELECT h.h, d.d,
         |               ((2*d.d + 3) * (h.h % ${graft.expr.SketchAggs.CmsPrime}) + (5*d.d + 7))
         |                 % ${graft.expr.SketchAggs.CmsPrime} % $CmsWidth AS pos
         |        FROM h CROSS JOIN d),
         |counters AS (SELECT d, pos, count(*) AS c FROM pos GROUP BY d, pos),
         |terms AS (SELECT tok, h, count(*) AS n_exact FROM h GROUP BY tok, h),
         |tpos AS (SELECT t.tok, t.n_exact, d.d,
         |                ((2*d.d + 3) * (t.h % ${graft.expr.SketchAggs.CmsPrime}) + (5*d.d + 7))
         |                  % ${graft.expr.SketchAggs.CmsPrime} % $CmsWidth AS pos
         |         FROM terms t CROSS JOIN d)
         |SELECT t.tok AS term, t.n_exact, min(c.c) AS n_est
         |FROM tpos t JOIN counters c ON c.d = t.d AND c.pos = t.pos
         |GROUP BY t.tok, t.n_exact
         |ORDER BY term""".stripMargin,

    // register replay: reg = h mod m, rank = trailing-zeros(h/m)+1 via
    // bit_count((w & -w) - 1) on BIGINT (cap 62 keeps 2^(62-rank) an
    // integer even for empty registers), denominator summed EXACTLY in
    // DECIMAL(38,0) then divided under the same interpolated numerator
    "d29_hll_distinct" ->
      s"""WITH tok AS (
         |  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
         |h AS (SELECT source, tok, $MirrorTokenHashSql AS h FROM tok),
         |rk AS (SELECT source, h % $HllM AS reg,
         |              least(bit_count(((h // $HllM) & -(h // $HllM)) - 1) + 1,
         |                    ${graft.expr.SketchAggs.MaxRank}) AS rank
         |       FROM h),
         |regix AS (SELECT unnest(generate_series(0, ${HllM - 1})) AS reg),
         |srcs AS (SELECT source, count(DISTINCT tok) AS n_exact FROM h GROUP BY source),
         |regs AS (SELECT s.source, g.reg, coalesce(max(rk.rank), 0) AS r
         |         FROM srcs s CROSS JOIN regix g
         |         LEFT JOIN rk ON rk.source = s.source AND rk.reg = g.reg
         |         GROUP BY s.source, g.reg)
         |SELECT s.source, s.n_exact,
         |       CAST(sum(CASE WHEN r.r > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_regs_hit,
         |       round(CAST('${graft.expr.SketchAggs.hllNumerator(HllM)}' AS DOUBLE) /
         |             CAST(sum(CAST((CAST(1 AS BIGINT) << (${graft.expr.SketchAggs.MaxRank} - r.r))
         |                           AS DECIMAL(38,0))) AS DOUBLE), 4) AS n_est
         |FROM regs r JOIN srcs s ON s.source = r.source
         |GROUP BY s.source, s.n_exact
         |ORDER BY s.source""".stripMargin,

    // merge identity replay: counts add and rank maxima commute with
    // grouping, so merged(daily) ≡ direct(all rows) — DuckDB derives the
    // GLOBAL registers/counters once and emits each value for both the
    // merged and direct columns; probe positions interpolated from the
    // same cmsPos arithmetic the aggregate runs
    "d30_sketch_merge" -> {
      val probeH = mirrorTokenHashValue(SketchProbeTok)
      val probeVals = (0 until CmsDepth)
        .map(d => s"($d, ${graft.expr.SketchAggs.cmsPos(probeH, d, CmsWidth)})")
        .mkString(", ")
      s"""WITH tok AS (
         |  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
         |h AS (SELECT source, tok, $MirrorTokenHashSql AS h FROM tok),
         |rk AS (SELECT source, h % $HllM AS reg,
         |              least(bit_count(((h // $HllM) & -(h // $HllM)) - 1) + 1,
         |                    ${graft.expr.SketchAggs.MaxRank}) AS rank
         |       FROM h),
         |regix AS (SELECT unnest(generate_series(0, ${HllM - 1})) AS reg),
         |srcs AS (SELECT DISTINCT source FROM h),
         |regs AS (SELECT s.source, g.reg, coalesce(max(rk.rank), 0) AS r
         |         FROM srcs s CROSS JOIN regix g
         |         LEFT JOIN rk ON rk.source = s.source AND rk.reg = g.reg
         |         GROUP BY s.source, g.reg),
         |hll AS (SELECT source,
         |               CAST(sum(CASE WHEN r > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
         |               round(CAST('${graft.expr.SketchAggs.hllNumerator(HllM)}' AS DOUBLE) /
         |                     CAST(sum(CAST((CAST(1 AS BIGINT) << (${graft.expr.SketchAggs.MaxRank} - r))
         |                                   AS DECIMAL(38,0))) AS DOUBLE), 4) AS est
         |        FROM regs GROUP BY source),
         |d AS (SELECT unnest(generate_series(0, ${CmsDepth - 1})) AS d),
         |pos AS (SELECT h.source, d.d,
         |               ((2*d.d + 3) * (h.h % ${graft.expr.SketchAggs.CmsPrime}) + (5*d.d + 7))
         |                 % ${graft.expr.SketchAggs.CmsPrime} % $CmsWidth AS pos
         |        FROM h CROSS JOIN d),
         |counters AS (SELECT source, d, pos, count(*) AS c FROM pos GROUP BY source, d, pos),
         |probe AS (SELECT s.source, min(coalesce(c.c, 0)) AS cms_probe
         |          FROM srcs s
         |          CROSS JOIN (VALUES $probeVals) AS pp(d, pos)
         |          LEFT JOIN counters c
         |            ON c.source = s.source AND c.d = pp.d AND c.pos = pp.pos
         |          GROUP BY s.source)
         |SELECT hll.source,
         |       hll.n_hit AS n_regs_hit_merged, hll.n_hit AS n_regs_hit_direct,
         |       hll.est AS hll_est_merged, hll.est AS hll_est_direct,
         |       probe.cms_probe AS cms_probe_merged, probe.cms_probe AS cms_probe_direct
         |FROM hll JOIN probe ON probe.source = hll.source
         |ORDER BY hll.source""".stripMargin
    },

    // gate replay: the P25 rank pick + interpolation (the d32 machinery at
    // one q), then the same >= threshold filter over the raw lengths
    "d37_quality_gate" -> {
      val binw = (HistHi - HistLo) / HistBins
      s"""WITH lens AS (
         |  SELECT source, doc_id, n_chars, CAST(length(text) AS DOUBLE) AS len
         |  FROM documents WHERE text IS NOT NULL),
         |bk AS (SELECT source, len,
         |          CASE WHEN len < $HistLo THEN 0
         |               WHEN len >= $HistHi THEN ${HistBins + 1}
         |               ELSE LEAST($HistBins, 1 + CAST(floor((len - $HistLo) / ($HistHi - $HistLo) * $HistBins) AS INT)) END AS bin
         |       FROM lens),
         |counts AS (SELECT source, bin, CAST(count(*) AS BIGINT) AS c
         |           FROM bk WHERE bin BETWEEN 1 AND $HistBins GROUP BY source, bin),
         |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM counts GROUP BY source),
         |cum AS (SELECT source, bin, c,
         |           CAST(sum(c) OVER (PARTITION BY source ORDER BY bin) AS BIGINT) AS cum
         |        FROM counts),
         |ranks AS (SELECT tot.source,
         |             CAST(ceil(CAST(0.25 AS DOUBLE) * CAST(tot.n AS DOUBLE)) AS BIGINT) AS r
         |          FROM tot),
         |pick AS (SELECT r.source, r.r, min(cum.bin) AS bin
         |         FROM ranks r JOIN cum ON cum.source = r.source AND cum.cum >= r.r
         |         GROUP BY r.source, r.r),
         |thr AS (SELECT p.source,
         |           $HistLo + $binw * (CAST(p.bin - 1 AS DOUBLE) + CAST(p.r - (c.cum - c.c) AS DOUBLE) / CAST(c.c AS DOUBLE)) AS thr
         |        FROM pick p JOIN cum c ON c.source = p.source AND c.bin = p.bin)
         |SELECT l.source, CAST(count(*) AS BIGINT) AS n_total,
         |       CAST(coalesce(sum(CASE WHEN l.len >= thr.thr THEN 1 END), 0) AS BIGINT) AS n_kept,
         |       CAST(coalesce(sum(CASE WHEN l.len >= thr.thr THEN l.n_chars END), 0) AS BIGINT) AS kept_chars,
         |       thr.thr AS thr
         |FROM lens l JOIN thr ON thr.source = l.source
         |GROUP BY l.source, thr.thr
         |ORDER BY l.source""".stripMargin
    },

    // drift replay from raw lengths: the TV core is exact integers
    // (|c0·n1 − c1·n0| summed in HUGEINT — order-free), one double
    // division at the end; argmax with the same DESC/bin-ASC tie rule
    "d34_hist_drift" ->
      s"""WITH lens AS (
         |  SELECT source, ((doc_id // 20) % 5) AS day, CAST(length(text) AS DOUBLE) AS len
         |  FROM documents WHERE text IS NOT NULL),
         |bk AS (SELECT source, day,
         |          CASE WHEN len < $HistLo THEN 0
         |               WHEN len >= $HistHi THEN ${HistBins + 1}
         |               ELSE LEAST($HistBins, 1 + CAST(floor((len - $HistLo) / ($HistHi - $HistLo) * $HistBins) AS INT)) END AS bin
         |       FROM lens),
         |binix AS (SELECT unnest(generate_series(1, $HistBins)) AS bin),
         |srcs AS (SELECT DISTINCT source FROM bk),
         |c AS (SELECT s.source, b.bin,
         |         CAST(coalesce(sum(CASE WHEN bk.day = 0 THEN 1 END), 0) AS HUGEINT) AS c0,
         |         CAST(coalesce(sum(CASE WHEN bk.day <> 0 THEN 1 END), 0) AS HUGEINT) AS c1
         |      FROM srcs s CROSS JOIN binix b
         |      LEFT JOIN bk ON bk.source = s.source AND bk.bin = b.bin
         |      GROUP BY s.source, b.bin),
         |tot AS (SELECT source, CAST(sum(c0) AS HUGEINT) AS n0,
         |               CAST(sum(c1) AS HUGEINT) AS n1
         |        FROM c GROUP BY source),
         |d AS (SELECT c.source, c.bin, abs(c.c0 * t.n1 - c.c1 * t.n0) AS ad
         |      FROM c JOIN tot t ON t.source = c.source),
         |agg AS (SELECT source, sum(ad) AS l1 FROM d GROUP BY source),
         |pick AS (SELECT source, bin AS drift_bin FROM (
         |           SELECT source, bin,
         |                  row_number() OVER (PARTITION BY source
         |                    ORDER BY ad DESC, bin ASC) AS rn
         |           FROM d) WHERE rn = 1)
         |SELECT t.source, CAST(t.n0 AS BIGINT) AS n0, CAST(t.n1 AS BIGINT) AS n1,
         |       CAST(agg.l1 AS BIGINT) AS l1_num,
         |       0.5 * (CAST(agg.l1 AS DOUBLE) / (CAST(t.n0 AS DOUBLE) * CAST(t.n1 AS DOUBLE))) AS tv,
         |       CAST(pick.drift_bin AS INT) AS drift_bin
         |FROM tot t
         |JOIN agg ON agg.source = t.source
         |JOIN pick ON pick.source = t.source
         |WHERE t.n0 > 0 AND t.n1 > 0
         |ORDER BY t.source""".stripMargin,

    // exact-gate replay: same per-source weight totals, same Knuth
    // uniform, same cross-multiplied inclusion test in HUGEINT
    "d33_weighted_sample" ->
      s"""WITH w AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS wt
         |           FROM documents GROUP BY source),
         |g AS (SELECT source, doc_id, n_chars,
         |         (doc_id * $SampleHashMul + $SampleHashAdd) % ${graft.pipeline.Sampling.U32Mod} AS u32
         |      FROM documents),
         |s AS (SELECT g.source, g.doc_id, g.n_chars FROM g
         |      JOIN w ON w.source = g.source
         |      WHERE CAST(g.u32 AS HUGEINT) * w.wt <
         |            CAST(g.n_chars AS HUGEINT) * 8 * ${graft.pipeline.Sampling.U32Mod})
         |SELECT source, CAST(count(*) AS BIGINT) AS n_sampled,
         |       CAST(sum(n_chars) AS BIGINT) AS chars_sampled,
         |       min(doc_id) AS first_doc
         |FROM s GROUP BY source ORDER BY source""".stripMargin,

    // histogram replay: DuckDB buckets the raw lengths with the SAME
    // formula (same association order), cumulates per source, and runs the
    // identical rank/interpolation arithmetic — merge correctness falls
    // out because the oracle derives ONE answer from raw data and emits it
    // for both the merged and direct columns
    "d32_hist_quantiles" -> {
      val binw = (HistHi - HistLo) / HistBins
      val qvals = Seq("p50" -> 0.5, "p95" -> 0.95, "p99" -> 0.99)
      val qRows = qvals.map { case (nm, q) => s"($q, '$nm')" }.mkString(", ")
      val qCols = Seq("merged", "direct").flatMap(side => qvals.map { case (nm, _) =>
        s"max(CASE WHEN est.qname = '$nm' THEN est.v END) AS ${nm}_$side"
      }).mkString(",\n       |       ").stripMargin
      s"""WITH lens AS (
         |  SELECT source, CAST(length(text) AS DOUBLE) AS len
         |  FROM documents WHERE text IS NOT NULL),
         |bk AS (SELECT source,
         |          CASE WHEN len < $HistLo THEN 0
         |               WHEN len >= $HistHi THEN ${HistBins + 1}
         |               ELSE LEAST($HistBins, 1 + CAST(floor((len - $HistLo) / ($HistHi - $HistLo) * $HistBins) AS INT)) END AS bin
         |       FROM lens),
         |counts AS (SELECT source, bin, CAST(count(*) AS BIGINT) AS c
         |           FROM bk WHERE bin BETWEEN 1 AND $HistBins GROUP BY source, bin),
         |edge AS (SELECT source,
         |            CAST(coalesce(sum(CASE WHEN bin = 0 THEN 1 END), 0) AS BIGINT) AS n_under,
         |            CAST(coalesce(sum(CASE WHEN bin = ${HistBins + 1} THEN 1 END), 0) AS BIGINT) AS n_over
         |         FROM bk GROUP BY source),
         |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM counts GROUP BY source),
         |cum AS (SELECT source, bin, c,
         |           CAST(sum(c) OVER (PARTITION BY source ORDER BY bin) AS BIGINT) AS cum
         |        FROM counts),
         |qs AS (SELECT CAST(q AS DOUBLE) AS q, qname
         |       FROM (VALUES $qRows) AS t(q, qname)),
         |ranks AS (SELECT tot.source, qs.qname,
         |             CAST(ceil(qs.q * CAST(tot.n AS DOUBLE)) AS BIGINT) AS r
         |          FROM tot CROSS JOIN qs),
         |pick AS (SELECT r.source, r.qname, r.r, min(cum.bin) AS bin
         |         FROM ranks r JOIN cum ON cum.source = r.source AND cum.cum >= r.r
         |         GROUP BY r.source, r.qname, r.r),
         |est AS (SELECT p.source, p.qname,
         |           $HistLo + $binw * (CAST(p.bin - 1 AS DOUBLE) + CAST(p.r - (c.cum - c.c) AS DOUBLE) / CAST(c.c AS DOUBLE)) AS v
         |        FROM pick p JOIN cum c ON c.source = p.source AND c.bin = p.bin)
         |SELECT tot.source, tot.n, edge.n_under, edge.n_over,
         |       $qCols
         |FROM tot
         |JOIN edge ON edge.source = tot.source
         |JOIN est ON est.source = tot.source
         |GROUP BY tot.source, tot.n, edge.n_under, edge.n_over
         |ORDER BY tot.source""".stripMargin
    },

    // the bloom stage is a lossless optimization, so the oracle is the
    // PLAIN inner join — any probe bug that drops a matching row (a false
    // negative) shows up as a rows/hash mismatch here
    "d31_bloom_join" ->
      """SELECT l_returnflag, o_orderstatus,
        |       CAST(count(*) AS BIGINT) AS n,
        |       sum(l_quantity) AS sum_qty,
        |       CAST(coalesce(sum(CAST(round((l_extendedprice * (1.0 - l_discount)) * 10000) AS BIGINT)), 0) AS DOUBLE) / 10000.0 AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY l_returnflag, o_orderstatus
        |ORDER BY l_returnflag, o_orderstatus""".stripMargin,

    // sign-code replay: same 63-bit pack (bit j-1 = v[j] > 0, the d06b /
    // s02b integer-shift idiom) and the same Hamming rank — all integers
    "s07_ann_binary" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id >= 10),
        |qs AS (SELECT query_id,
        |              CAST(list_sum(list_transform(generate_series(1, 63),
        |                j -> CASE WHEN v[j] > 0 THEN CAST(1 AS BIGINT) << (j - 1)
        |                     ELSE 0 END)) AS BIGINT) AS code
        |       FROM q),
        |cs AS (SELECT neighbor_id,
        |              CAST(list_sum(list_transform(generate_series(1, 63),
        |                j -> CASE WHEN v[j] > 0 THEN CAST(1 AS BIGINT) << (j - 1)
        |                     ELSE 0 END)) AS BIGINT) AS code
        |       FROM c),
        |pairs AS (
        |  SELECT query_id, neighbor_id,
        |         CAST(bit_count(xor(qs.code, cs.code)) AS INT) AS hamming
        |  FROM qs CROSS JOIN cs),
        |ranked AS (
        |  SELECT query_id, neighbor_id, hamming,
        |         CAST(row_number() OVER (PARTITION BY query_id
        |                                 ORDER BY hamming ASC, neighbor_id ASC) AS INT) AS rank
        |  FROM pairs)
        |SELECT query_id, rank, neighbor_id, hamming
        |FROM ranked WHERE rank <= 3
        |ORDER BY query_id, rank""".stripMargin,

    // same 3-gram construction as d14's oracle; the eval set is the
    // doc_id % 23 slice, overlap counted over DISTINCT grams per doc
    "d15_decontaminate" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |         len(string_split(text, ' ')) AS n
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(generate_series(1, n - 2),
        |                       i -> array_to_string(toks[i:i+2], ' '))) AS grams
        |  FROM t WHERE n >= 3),
        |ev AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 23 = 0),
        |tr AS (SELECT doc_id, len(grams) AS nd, unnest(grams) AS gram
        |       FROM g WHERE doc_id % 23 <> 0)
        |SELECT tr.doc_id,
        |       CAST(min(tr.nd) AS BIGINT) AS n_distinct_grams,
        |       count(*) AS n_eval_grams,
        |       CAST(count(*) AS DOUBLE) / CAST(min(tr.nd) AS DOUBLE) AS contamination
        |FROM tr JOIN ev USING (gram)
        |GROUP BY tr.doc_id
        |ORDER BY doc_id""".stripMargin,

    // md5 hex is engine-identical, so the epoch order is too
    "d16_epoch_order" ->
      """SELECT doc_id, md5('epoch0:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
        |FROM documents
        |ORDER BY shuffle_key
        |LIMIT 200""".stripMargin,

    // same integer repeat factors + md5 fractional gates as the query
    "d17_domain_mix" ->
      """WITH base AS (
        |  SELECT doc_id, lang, n_chars,
        |         CASE lang WHEN 'de' THEN 2 WHEN 'en' THEN 0 WHEN 'es' THEN 1
        |                   WHEN 'fr' THEN 3 WHEN 'zh' THEN 1 ELSE 0 END
        |         + CASE WHEN substring(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 4) <
        |                     CASE lang WHEN 'de' THEN '8000' WHEN 'en' THEN '8000'
        |                               WHEN 'fr' THEN '4000' WHEN 'zh' THEN 'c000'
        |                               ELSE '0000' END
        |                THEN 1 ELSE 0 END AS n_copies
        |  FROM documents),
        |rep AS (
        |  SELECT doc_id, lang, n_chars, unnest(generate_series(1, n_copies)) AS copy
        |  FROM base WHERE n_copies >= 1)
        |SELECT lang, count(DISTINCT doc_id) AS n_source_docs,
        |       count(*) AS n_mixed_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS mixed_chars
        |FROM rep
        |GROUP BY lang
        |ORDER BY lang""".stripMargin,

    "d22_heavy_hitters" ->
      """SELECT term, count(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
        |GROUP BY term
        |ORDER BY n DESC, term ASC
        |LIMIT 25""".stripMargin,

    // same 3-gram spans as d14/d15's oracles; df counts DOCS per gram
    "d19_dup_spans" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |         len(string_split(text, ' ')) AS n
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |         unnest(list_distinct(list_transform(generate_series(1, n - 2),
        |                i -> array_to_string(toks[i:i+2], ' ')))) AS gram
        |  FROM t WHERE n >= 3),
        |df AS (SELECT gram, count(*) AS n_docs_with FROM g GROUP BY 1)
        |SELECT doc_id, count(*) AS n_spans,
        |       CAST(sum(CASE WHEN n_docs_with >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_dup_spans,
        |       CAST(sum(CASE WHEN n_docs_with >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |         / count(*) AS dup_span_ratio
        |FROM g JOIN df USING (gram)
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    // same planted construction; 'g' = replace ALL matches (Spark's
    // default). DuckDB single-quoted strings keep backslashes literal, so
    // interpolating the Scala pattern hands RE2 the same source as Java.
    "d20_pii_redact" -> {
      val email = EmailRe
      s"""WITH p AS (
         |  SELECT doc_id,
         |         text || '$PiiContact' || CAST(doc_id AS VARCHAR) || '$PiiDomainPre' ||
         |         CAST(doc_id % $PiiMailMod AS VARCHAR) || '$PiiDomainSuf' ||
         |         CASE WHEN doc_id % $PiiPhoneSkipMod <> 0
         |              THEN '$PiiCall' || lpad(CAST(doc_id % $PiiPhoneDigitsMod AS VARCHAR), 4, '0')
         |              ELSE '' END AS txt
         |  FROM documents)
         |SELECT doc_id,
         |       CAST(len(regexp_extract_all(txt, '$email')) AS BIGINT) AS n_emails,
         |       CAST(len(regexp_extract_all(txt, '$PhoneRe')) AS BIGINT) AS n_phones,
         |       md5(regexp_replace(regexp_replace(txt, '$email', '<EMAIL>', 'g'),
         |                          '$PhoneRe', '<PHONE>', 'g')) AS redacted_md5
         |FROM p
         |ORDER BY doc_id""".stripMargin
    },

    "d21_domain_quota" ->
      """SELECT source, doc_id, n_chars, rank FROM (
        |  SELECT source, doc_id, n_chars,
        |         CAST(row_number() OVER (PARTITION BY source
        |              ORDER BY n_chars DESC, doc_id ASC) AS INT) AS rank
        |  FROM documents)
        |WHERE rank <= 10
        |ORDER BY source, rank""".stripMargin,

    // the composed funnel: every stage re-derived relationally, same
    // thresholds, same d13 gates
    "d23_corpus_funnel" -> {
      val gates = sampleGateSql(" OR ")
      s"""WITH tri AS (
         |  SELECT doc_id,
         |         unnest(list_distinct(list_transform(generate_series(1, n - 2),
         |                i -> array_to_string(toks[i:i+2], ' ')))) AS gram
         |  FROM (SELECT doc_id, string_split(text, ' ') AS toks,
         |               len(string_split(text, ' ')) AS n
         |        FROM documents) WHERE n >= 3),
         |keepers AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
         |s1 AS (SELECT d.* FROM documents d JOIN keepers USING (doc_id)),
         |ev AS (SELECT DISTINCT gram FROM tri WHERE doc_id % 23 = 0),
         |contam AS (
         |  SELECT t.doc_id
         |  FROM tri t LEFT JOIN (SELECT gram, 1 AS hit FROM ev) e USING (gram)
         |  WHERE t.doc_id % 23 <> 0
         |  GROUP BY t.doc_id
         |  HAVING CAST(count(e.hit) AS DOUBLE) / count(*) > 0.2),
         |s2 AS (SELECT * FROM s1
         |       WHERE doc_id % 23 <> 0
         |         AND doc_id NOT IN (SELECT doc_id FROM contam)),
         |bp AS (
         |  SELECT t.doc_id
         |  FROM tri t JOIN (SELECT gram, count(*) AS d FROM tri GROUP BY 1) g USING (gram)
         |  GROUP BY t.doc_id
         |  HAVING CAST(sum(CASE WHEN d >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) > 0.6),
         |s3 AS (SELECT * FROM s2 WHERE doc_id NOT IN (SELECT doc_id FROM bp)),
         |s4 AS (SELECT * FROM (
         |  SELECT *, row_number() OVER (PARTITION BY source
         |            ORDER BY n_chars DESC, doc_id ASC) AS rk FROM s3) WHERE rk <= 10),
         |s5 AS (SELECT * FROM s4 WHERE $gates)
         |SELECT stage, n_docs, n_chars FROM (
         |  SELECT '0_all' AS stage, count(*) AS n_docs,
         |         CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS n_chars FROM documents
         |  UNION ALL SELECT '1_dedup', count(*), CAST(coalesce(sum(n_chars), 0) AS BIGINT) FROM s1
         |  UNION ALL SELECT '2_decontam', count(*), CAST(coalesce(sum(n_chars), 0) AS BIGINT) FROM s2
         |  UNION ALL SELECT '3_boilerplate', count(*), CAST(coalesce(sum(n_chars), 0) AS BIGINT) FROM s3
         |  UNION ALL SELECT '4_quota', count(*), CAST(coalesce(sum(n_chars), 0) AS BIGINT) FROM s4
         |  UNION ALL SELECT '5_sample', count(*), CAST(coalesce(sum(n_chars), 0) AS BIGINT) FROM s5)
         |ORDER BY stage""".stripMargin
    },

    // d05's downstream re-derived: same arithmetic signatures, pairs = docs
    // sharing at least one identical band slice, estimate = agreement/16.
    // (Spark buckets on xxhash64 of the slice — equal slices hash equal, so
    // the pair sets agree up to a ~2^-64 hash collision.)
    "d05b_lsh_banding" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |  FROM documents WHERE doc_id < 40),
         |h AS (SELECT doc_id, $MirrorTokenHashSql AS h FROM tok),
         |i AS (SELECT unnest(generate_series(0, ${MirrorSigLen - 1})) AS i),
         |sig AS (
         |  SELECT doc_id, i, min(((2*i + 3) * h + 5*i + 7) % $MirrorHashMod) AS m
         |  FROM h CROSS JOIN i GROUP BY doc_id, i),
         |band AS (
         |  SELECT doc_id, i // ${MirrorSigLen / MirrorBands} AS band,
         |         string_agg(CAST(m AS VARCHAR), ',' ORDER BY i) AS key
         |  FROM sig GROUP BY doc_id, band),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM band a JOIN band b
         |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
         |SELECT c.id_a, c.id_b,
         |       CAST(sum(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) AS DOUBLE)
         |         / $MirrorSigLen AS est_jaccard
         |FROM cand c
         |JOIN sig sa ON sa.doc_id = c.id_a
         |JOIN sig sb ON sb.doc_id = c.id_b AND sb.i = sa.i
         |GROUP BY c.id_a, c.id_b
         |ORDER BY id_a, id_b""".stripMargin,

    // d25 re-derived: the corpus posting list and the new batch's posting
    // list (docs 0-9 under ids +offset with one appended token) joined on
    // equal band slices — DuckDB rebuilds BOTH sides' signatures and the
    // asymmetric join from first principles. The appended-token UNION is
    // gated on text IS NOT NULL exactly like Spark's null-propagating
    // array concat (a null doc contributes no new-batch rows at all).
    "d25_incremental_lsh" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |  FROM documents WHERE doc_id < 40),
         |ntok0 AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |  FROM documents WHERE doc_id < 10
         |  UNION ALL
         |  SELECT doc_id, '$IncrementalTok'
         |  FROM documents WHERE doc_id < 10 AND text IS NOT NULL),
         |ntok AS (SELECT doc_id + $IncrementalIdOffset AS doc_id, tok FROM ntok0),
         |h AS (SELECT doc_id, $MirrorTokenHashSql AS h FROM tok),
         |nh AS (SELECT doc_id, $MirrorTokenHashSql AS h FROM ntok),
         |i AS (SELECT unnest(generate_series(0, ${MirrorSigLen - 1})) AS i),
         |sig AS (
         |  SELECT doc_id, i, min(((2*i + 3) * h + 5*i + 7) % $MirrorHashMod) AS m
         |  FROM h CROSS JOIN i GROUP BY doc_id, i),
         |nsig AS (
         |  SELECT doc_id, i, min(((2*i + 3) * h + 5*i + 7) % $MirrorHashMod) AS m
         |  FROM nh CROSS JOIN i GROUP BY doc_id, i),
         |band AS (
         |  SELECT doc_id, i // ${MirrorSigLen / MirrorBands} AS band,
         |         string_agg(CAST(m AS VARCHAR), ',' ORDER BY i) AS key
         |  FROM sig GROUP BY doc_id, band),
         |nband AS (
         |  SELECT doc_id, i // ${MirrorSigLen / MirrorBands} AS band,
         |         string_agg(CAST(m AS VARCHAR), ',' ORDER BY i) AS key
         |  FROM nsig GROUP BY doc_id, band),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS corpus_id, b.doc_id AS new_id
         |  FROM band a JOIN nband b ON a.band = b.band AND a.key = b.key)
         |SELECT c.corpus_id, c.new_id,
         |       CAST(sum(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) AS DOUBLE)
         |         / $MirrorSigLen AS est_jaccard
         |FROM cand c
         |JOIN sig sa ON sa.doc_id = c.corpus_id
         |JOIN nsig sb ON sb.doc_id = c.new_id AND sb.i = sa.i
         |GROUP BY c.corpus_id, c.new_id
         |ORDER BY corpus_id, new_id""".stripMargin,

    // d06's downstream re-derived: sign-vote simhash from the same hash's
    // low 16 bits, hamming = bit_count(xor) over all pairs
    "d06b_hamming_pairs" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |  FROM documents WHERE doc_id < 40),
         |h AS (SELECT doc_id, $MirrorTokenHashSql AS h FROM tok),
         |votes AS (
         |  SELECT doc_id, j, sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS v
         |  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS j)
         |  GROUP BY doc_id, j),
         |sig AS (
         |  SELECT doc_id,
         |         CAST(sum(CASE WHEN v > 0 THEN CAST(1 AS BIGINT) << j ELSE 0 END)
         |              AS BIGINT) AS s
         |  FROM votes GROUP BY doc_id)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |       CAST(bit_count(xor(a.s, b.s)) AS BIGINT) AS hamming
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |ORDER BY id_a, id_b""".stripMargin,

    // s02's downstream re-derived: axis-sign buckets, the query's own
    // bucket plus every 1-bit flip as probes, exact cosine over candidates,
    // rank-then-cut — the same shape as the s01 oracle but bucket-gated
    "s02b_bucket_probe" ->
      """WITH q0 AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS v
        |            FROM embeddings WHERE vec_id < 10),
        |c0 AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS v
        |       FROM embeddings WHERE vec_id >= 10),
        |qs AS (SELECT query_id, v,
        |              CAST(list_sum(list_transform(generate_series(0, 5),
        |                j -> CASE WHEN v[j+1] > 0 THEN CAST(1 AS BIGINT) << j
        |                     ELSE 0 END)) AS BIGINT) AS sig
        |       FROM q0),
        |cs AS (SELECT neighbor_id, v,
        |              CAST(list_sum(list_transform(generate_series(0, 5),
        |                j -> CASE WHEN v[j+1] > 0 THEN CAST(1 AS BIGINT) << j
        |                     ELSE 0 END)) AS BIGINT) AS bucket
        |       FROM c0),
        |probes AS (
        |  SELECT query_id, v,
        |         unnest(list_prepend(sig, list_transform(generate_series(0, 5),
        |           j -> xor(sig, CAST(1 AS BIGINT) << j)))) AS bucket
        |  FROM qs),
        |cand AS (
        |  SELECT DISTINCT p.query_id, c.neighbor_id,
        |         list_dot_product(p.v, c.v) /
        |           (sqrt(list_dot_product(p.v, p.v)) *
        |            sqrt(list_dot_product(c.v, c.v))) AS cos_raw
        |  FROM probes p JOIN cs c USING (bucket)),
        |ranked AS (
        |  SELECT query_id, neighbor_id, cos_raw,
        |         CAST(row_number() OVER (PARTITION BY query_id
        |                ORDER BY cos_raw DESC, neighbor_id ASC) AS INT) AS rank
        |  FROM cand)
        |SELECT query_id, rank, neighbor_id, round(cos_raw, 4) AS cosine
        |FROM ranked WHERE rank <= 3
        |ORDER BY query_id, rank""".stripMargin,

    // d09's downstream re-derived: axis-sign buckets over base ∪ planted
    // (+0.01/dim) corpus; capped-bucket members leave the relation
    // WHOLESALE (both sides), then pair (x<y) iff hamming(sig_x, sig_y) ≤ 1
    // (the 1-bit multi-probe relation), exact-cosine verified at the raw
    // threshold
    "d09b_embedding_lsh_capped" ->
      """WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |planted AS (SELECT vec_id + 1000000 AS vec_id,
        |                   list_transform(v, x -> x + 0.01) AS v FROM base),
        |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
        |sigs0 AS (SELECT vec_id, v,
        |                 CAST(list_sum(list_transform(generate_series(0, 5),
        |                   j -> CASE WHEN v[j+1] > 0 THEN CAST(1 AS BIGINT) << j
        |                        ELSE 0 END)) AS BIGINT) AS sig
        |          FROM corpus),
        |sigs AS (SELECT * FROM (
        |           SELECT *, count(*) OVER (PARTITION BY sig) AS m
        |           -- zero-norm rows leave BEFORE the cap count, exactly like
        |           -- the library (where n > 0 precedes the bucket window):
        |           -- counting them would tip a 400-valid bucket over the cap
        |           FROM sigs0 WHERE list_dot_product(v, v) > 0)
        |         WHERE m <= 400),
        |pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |         list_dot_product(a.v, b.v) /
        |           (sqrt(list_dot_product(a.v, a.v)) *
        |            sqrt(list_dot_product(b.v, b.v))) AS cos_raw
        |  FROM sigs a
        |  JOIN sigs b ON a.vec_id < b.vec_id
        |             AND bit_count(xor(a.sig, b.sig)) <= 1)
        |SELECT id_a, id_b, round(cos_raw, 4) AS cosine
        |FROM pairs WHERE cos_raw >= 0.95
        |ORDER BY id_a, id_b""".stripMargin,

    // s03's downstream re-derived with one-hot centroids: assignment =
    // argmax over the first 8 coordinates (ties to the lowest cell via
    // list_indexof's first occurrence), nprobe cut by the same order,
    // exact-cosine rank-and-cut like the s01/s02b oracles
    "s03b_ivf_probe" ->
      """WITH q0 AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS v
        |            FROM embeddings WHERE vec_id < 10),
        |c0 AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS v
        |       FROM embeddings WHERE vec_id >= 10),
        |cs AS (SELECT neighbor_id, v,
        |              list_indexof(v[1:8], list_max(v[1:8])) - 1 AS cell
        |       FROM c0),
        |qp AS (SELECT query_id, v, j AS cell,
        |              row_number() OVER (PARTITION BY query_id
        |                ORDER BY v[j+1] DESC, j ASC) AS rk
        |       FROM q0, range(8) t(j)),
        |probes AS (SELECT query_id, v, cell FROM qp WHERE rk <= 3),
        |cand AS (
        |  SELECT DISTINCT p.query_id, c.neighbor_id,
        |         list_dot_product(p.v, c.v) /
        |           (sqrt(list_dot_product(p.v, p.v)) *
        |            sqrt(list_dot_product(c.v, c.v))) AS cos_raw
        |  FROM probes p JOIN cs c USING (cell)),
        |ranked AS (
        |  SELECT query_id, neighbor_id, cos_raw,
        |         CAST(row_number() OVER (PARTITION BY query_id
        |                ORDER BY cos_raw DESC, neighbor_id ASC) AS INT) AS rank
        |  FROM cand)
        |SELECT query_id, rank, neighbor_id, round(cos_raw, 4) AS cosine
        |FROM ranked WHERE rank <= 3
        |ORDER BY query_id, rank""".stripMargin,

    // s04's keep rule re-derived with the one-hot quantizer: cell = argmax
    // of the first 8 coordinates (ties to the lowest cell, list_indexof's
    // first occurrence — same as nearestCell's (sim, -cell) struct max),
    // max_prior_sim = max cosine to any lower-id same-cell row, kept iff
    // below τ (or no cellmate / no cell). Null and zero-norm vectors get a
    // null cell and are kept, exactly like the library's norm gate.
    "s04b_semantic_dedup_cells" ->
      s"""WITH c0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm
         |      FROM c0 WHERE v IS NOT NULL),
         |u AS (SELECT vec_id, v, nrm,
         |             CAST(list_indexof(v[1:8], list_max(v[1:8])) - 1 AS INT) AS cell
         |      FROM n WHERE nrm > 0),
         |p AS (SELECT a.vec_id AS vec_id,
         |             max(list_dot_product(a.v, b.v) / (a.nrm * b.nrm)) AS mps
         |      FROM u a JOIN u b ON a.cell = b.cell AND b.vec_id < a.vec_id
         |      GROUP BY 1)
         |SELECT c0.vec_id, u.cell, FALSE AS cell_capped,
         |       round(p.mps, 4) AS max_prior_sim,
         |       (p.mps IS NULL OR p.mps < $SemDedupTau) AS kept
         |FROM c0
         |LEFT JOIN u USING (vec_id)
         |LEFT JOIN p ON p.vec_id = c0.vec_id
         |ORDER BY c0.vec_id""".stripMargin,

    // capped Jaccard re-derived from token strings (Spark hashes shingles;
    // Jaccard over collision-free hashes equals Jaccard over the tokens)
    "d24_jaccard_capped" ->
      s"""WITH docs AS (
         |  SELECT doc_id, text || '$JaccardBoiler' AS text
         |  FROM documents WHERE doc_id < 40),
         |tok AS (SELECT DISTINCT doc_id, tok FROM (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM docs)),
         |keep AS (SELECT tok FROM tok GROUP BY tok HAVING count(*) <= $JaccardDfCap),
         |tf AS (SELECT t.doc_id, t.tok FROM tok t JOIN keep USING (tok)),
         |sizes AS (SELECT doc_id, count(*) AS n FROM tf GROUP BY doc_id),
         |common AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
         |  FROM tf a JOIN tf b ON a.tok = b.tok AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b, n_common,
         |       CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
         |FROM common
         |JOIN sizes sa ON sa.doc_id = id_a
         |JOIN sizes sb ON sb.doc_id = id_b
         |ORDER BY id_a, id_b""".stripMargin,

    // shard-local running offsets → chunk ids; both engines floor the same
    // exact-integer ratio
    "d18_seq_packing" ->
      """WITH t AS (
        |  SELECT doc_id, doc_id % 8 AS shard,
        |         len(string_split(text, ' ')) AS n_tok
        |  FROM documents),
        |o AS (
        |  SELECT shard, doc_id, n_tok,
        |         COALESCE(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
        |  FROM t)
        |SELECT shard, CAST(floor(start_off / 512.0) AS BIGINT) AS seq_id,
        |       count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
        |FROM o
        |GROUP BY shard, seq_id
        |ORDER BY shard, seq_id""".stripMargin,

    // generated from the SAME (maxTokens, overlap) the Spark query uses —
    // window starts, slice bounds, and chunk identity cannot drift
    "d26_doc_chunks" ->
      graft.text.Chunking.chunkOracleSql(ChunkMaxTokens, ChunkOverlap))
}
