package graft.dedup

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.text.TextExprs

class DedupSpec extends SparkSpec {

  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and runs far away home"
  private val nearDup = base.replace("runs", "walks") // one token differs
  private val other = "completely different content about spark query engines and shuffles"

  private def docs = Seq(
    (1L, base), (2L, nearDup), (3L, other), (4L, base)) // 4 = exact dup of 1
    .toDF("doc_id", "text")

  test("exact dedup: groups by digest, keeps min id") {
    val groups = Dedup.exactGroups(docs, "text", "doc_id").collect()
    assert(groups.length == 3)
    val dup = groups.find(_.getAs[Long]("n_copies") == 2).get
    assert(dup.getAs[Long]("keeper_id") == 1L)
    val kept = Dedup.dropExactDuplicates(docs, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 2L, 3L))
  }

  test("minhash estimate approximates exact shingle jaccard") {
    val exact = Dedup.ngramJaccardPairs(docs.where(col("doc_id") <= 2), "doc_id", "text", 3)
      .head().getAs[Double]("jaccard")
    val sigs = docs.select(col("doc_id"),
      MinHashStaged.minhashSignature(col("text"), 128, 3).as("sig"))
    val sigMap = sigs.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val est = sigMap(1L).zip(sigMap(2L)).count { case (a, b) => a == b } / 128.0
    // 128 hashes → standard error ~ sqrt(j(1-j)/128) ≈ 0.04
    assert(math.abs(est - exact) < 0.15, s"est $est vs exact $exact")
    // identical docs → identical signatures
    assert(sigMap(1L) == sigMap(4L))
  }

  test("bulk minhashSignatures agrees with the column form") {
    val bulk = Dedup.minhashSignatures(docs, "doc_id", "text", 16, 3)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val colForm = docs.select(col("doc_id"),
      MinHashStaged.minhashSignature(col("text"), 16, 3).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(bulk == colForm)
  }

  test("native bulk signatures agree with the staged explode→aggregate twin") {
    // three independent derivations of the same signature (HOF column
    // form above, staged aggregate here, native fused expression as the
    // shipped bulk path) — a hash/windowing bug would have to hit all
    // three identically to pass
    val native = Dedup.minhashSignatures(docs, "doc_id", "text", 16, 3)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val staged = MinHashStaged.minhashSignaturesStaged(docs, "doc_id", "text", 16, 3)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(native == staged)
  }

  test("maxShingleDf drops boilerplate shingles: pair blow-up bounded, survivors kept") {
    // 100 docs: unique body + a boilerplate sentence shared by ALL of them;
    // docs 0 and 1 additionally share a real phrase. Uncapped, the
    // boilerplate shingles alone connect every pair — the quadratic blow-up
    // the cap exists to stop.
    val boiler = " all rights reserved subscribe to our newsletter for updates"
    val shared = " colorless green ideas sleep furiously tonight"
    val corpus = spark.range(100).select(
      col("id").as("doc_id"),
      concat(
        concat_ws(" ", transform(sequence(lit(0), lit(9)),
          i => concat(lit("u"), col("id"), lit("x"), i))),
        lit(boiler),
        when(col("id") < 2, lit(shared)).otherwise(lit(""))).as("text"))
    val uncapped = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 3).count()
    assert(uncapped == 100L * 99 / 2, s"boilerplate must connect all pairs, got $uncapped")
    val capped = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 3,
      maxShingleDf = Some(50))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped == Set((0L, 1L)),
      s"only the genuinely-similar pair may survive the cap, got $capped")
    // a cap above the corpus's max df changes nothing
    val vacuous = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 3,
      maxShingleDf = Some(100)).count()
    assert(vacuous == uncapped)
  }

  test("LSH candidate pairs surface the exact and near duplicates") {
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", 16, 3)
    val pairs = Dedup.lshCandidatePairs(sigs, "doc_id", 16, 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L))) // exact dup always collides
    // near-dup (1,2) shares most shingles — 4 bands of 4 rows catch it w.h.p.
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L)))
  }

  test("bucket-size cap drops the hot bucket, keeps everything else") {
    // 20 copies of one text = one degenerate bucket (190 pairs per band);
    // plus the regular 4-doc corpus
    val hot = (100L until 120L).map(i => (i, "boiler plate boiler plate boiler plate legal"))
    val corpus = docs.union(hot.toDF("doc_id", "text"))
    val sigs = Dedup.minhashSignatures(corpus, "doc_id", "text", 16, 3)
    val capped = Dedup.lshCandidatePairs(sigs, "doc_id", 16, 4, maxBucketSize = Some(10))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val uncapped = Dedup.lshCandidatePairs(sigs, "doc_id", 16, 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // uncapped: quadratic hot-bucket fan-out present
    assert(uncapped.count { case (a, b) => a >= 100L && b >= 100L } == 190)
    // capped: the boilerplate cluster is gone...
    assert(capped.count { case (a, b) => a >= 100L && b >= 100L } == 0)
    // ...but every pair among the regular docs survives
    assert(capped.filter { case (a, b) => a < 100L && b < 100L } ==
      uncapped.filter { case (a, b) => a < 100L && b < 100L })
  }

  test("incremental LSH: new batch probes corpus; no corpus×corpus or new×new pairs") {
    // corpus: base (1), near-dup (2), other (3), exact dup of base (4);
    // new batch: a re-crawl of base (101) and two identical fresh docs
    // (102, 103) matching nothing in the corpus
    val corpusSigs = Dedup.minhashSignatures(docs, "doc_id", "text", 16, 3)
    val newDocs = Seq(
      (101L, base.replace("home", "house")),
      (102L, "totally new subject matter appearing tonight for the first time"),
      (103L, "totally new subject matter appearing tonight for the first time"))
      .toDF("doc_id", "text")
    val newSigs = Dedup.minhashSignatures(newDocs, "doc_id", "text", 16, 3)
    val pairs = Dedup.lshCandidatePairsAgainst(corpusSigs, newSigs, "doc_id", 16, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // every pair is corpus → new, never within one side
    assert(pairs.forall { case (c, n, _) => c <= 4L && n >= 101L })
    // the re-crawl finds BOTH copies of its original (1 and its exact dup 4)
    val hits = pairs.filter(_._2 == 101L).map(_._1).toSet
    assert(Set(1L, 4L).subsetOf(hits), s"re-crawl matched $hits")
    // est_jaccard of a 1-token edit stays high
    assert(pairs.filter(p => p._1 == 1L && p._2 == 101L).head._3 > 0.5)
    // the identical fresh pair (102, 103) is NOT here — in-batch dedup is
    // lshCandidatePairs' job, and corpus pairs like (1, 4) never re-emit
    assert(!pairs.exists { case (c, n, _) => c >= 101L || n <= 4L })
    // cap engages per side: 20 boilerplate docs planted in the corpus form
    // a degenerate bucket that must not fan matching new docs into it
    val hot = (200L until 220L).map(i => (i, "boiler plate boiler plate boiler plate legal"))
    val cHot = Dedup.minhashSignatures(docs.union(hot.toDF("doc_id", "text")),
      "doc_id", "text", 16, 3)
    val probe = Dedup.minhashSignatures(
      Seq((300L, "boiler plate boiler plate boiler plate legal")).toDF("doc_id", "text"),
      "doc_id", "text", 16, 3)
    val capped = Dedup.lshCandidatePairsAgainst(cHot, probe, "doc_id", 16, 4,
      maxBucketSize = Some(10)).collect()
    val uncapped = Dedup.lshCandidatePairsAgainst(cHot, probe, "doc_id", 16, 4).collect()
    assert(uncapped.length == 20 && capped.isEmpty)
  }

  test("connected components: clusters, chains, isolated nodes, empty input") {
    // two clusters {1,2,3} + {10,11}, plus a 7-node chain 20-21-...-26
    // (diameter 6 — exercises multi-round propagation)
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)) ++
      (20L until 26L).map(i => (i, i + 1))
    val comp = Dedup.connectedComponents(pairs.toDF("id_a", "id_b"), "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp(1L) == 1L && comp(2L) == 1L && comp(3L) == 1L)
    assert(comp(10L) == 10L && comp(11L) == 10L)
    (20L to 26L).foreach(n => assert(comp(n) == 20L, s"chain node $n"))
    assert(!comp.contains(99L)) // nodes absent from pairs are absent
    // empty input → empty output, no iteration
    assert(Dedup.connectedComponents(
      Seq.empty[(Long, Long)].toDF("id_a", "id_b"), "id_a", "id_b").count() == 0)
  }

  test("connected components: 200-hop chain converges within the round cap") {
    // A near-dup CHAIN (one boilerplate doc mutated link by link) has
    // diameter = length: plain min-label propagation needs one round per
    // hop and would blow the 25-round cap on anything past 25 links. The
    // pointer-doubling step makes propagation distance quadruple per
    // round, so 200 hops must converge in ≤ 25 rounds — and in the worst direction
    // (min id at the FAR end, so the label has to travel the whole chain).
    val chain = (1L to 200L).map(i => (i, i + 1)) // min node 1 at one end
    val comp = Dedup.connectedComponents(chain.toDF("id_a", "id_b"), "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.size == 201)
    (1L to 201L).foreach(n => assert(comp(n) == 1L, s"chain node $n"))
  }

  test("connected components: per-round checkpoints are released, not accumulated") {
    // localCheckpoint RDDs register in getPersistentRDDs; the loop must
    // free the previous round's labels once the successor is materialized.
    // Several pointer-doubling rounds on a 100-hop chain would leave one
    // label-table copy per round resident without the release — with it,
    // only the symmetrized edge list and the final round's frame remain.
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val chain = (1L to 100L).map(i => (i, i + 1))
    Dedup.connectedComponents(chain.toDF("id_a", "id_b"), "id_a", "id_b")
      .collect()
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 4,
      s"${leaked.size} checkpoint RDDs left persisted — per-round release regressed")
  }

  test("simhash: near-dups close in hamming space, unrelated docs far") {
    val hashes = docs.select(col("doc_id"), MinHashStaged.simhash63(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // bulk exploded-aggregate form agrees with the column form
    val bulk = Dedup.simhashSignatures(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bulk == hashes)
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(ham(hashes(1L), hashes(4L)) == 0)
    assert(ham(hashes(1L), hashes(2L)) < ham(hashes(1L), hashes(3L)))
  }

  test("hamming64 column matches bitCount") {
    val d = evalDouble(Dedup.hamming64(lit(0b1011L), lit(0b0010L)).cast("double"))
    assert(d == 2.0)
  }

  test("fingerprint: order-sensitive, equal iff same token sequence") {
    val fps = docs.select(col("doc_id"), TextExprs.fingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) == fps(4L))
    assert(fps(1L) != fps(2L))
    val reversed = Seq((9L, base.split(" ").reverse.mkString(" "))).toDF("doc_id", "text")
      .select(TextExprs.fingerprint(col("text"))).head().getLong(0)
    assert(reversed != fps(1L))
  }

  test("LSH recall floor on planted near-dups at sf0.01 and sf0.1") {
    // Plant near-duplicates into the real corpus: one appended token on a
    // >=62-token doc keeps exact shingle-Jaccard >= ~0.95, where 16 hashes /
    // 4 bands give a >=99.8% deterministic catch rate per pair. The spec
    // asserts an end-to-end recall floor AND that the candidate set stays
    // far below all-pairs (the 100 TB contract: banding, not cross join).
    for (dir <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val offset = 10000000L
      val docs = graft.Tables.documents(spark, dir).select("doc_id", "text")
      val longDocs = docs
        .where(size(split(col("text"), " ")) >= 62 && col("doc_id") < 300)
      val planted = longDocs.select(
        (col("doc_id") + offset).as("doc_id"),
        concat(col("text"), lit(" zzzplantedzzz")).as("text"))
      val plantedIds = longDocs.select("doc_id").as[Long].collect().toSet
      assert(plantedIds.size >= 50, s"corpus $dir too small for the plant")

      val corpus = docs.union(planted)
      val sigs = Dedup.minhashSignatures(corpus, "doc_id", "text", 16, 3)
      val cands = Dedup.lshCandidatePairs(sigs, "doc_id", 16, 4)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet

      val caught = plantedIds.count(id => cands.contains((id, id + offset)))
      val recall = caught.toDouble / plantedIds.size
      assert(recall >= 0.9, s"$dir: LSH recall $recall below floor")
      // no all-pairs blowup: candidates ≪ n²/2
      val n = corpus.count()
      assert(cands.size < n * 20, s"$dir: candidate set ${cands.size} too large for $n docs")
    }
  }

  test("null text is unhashable in every dedup operator, not an alias") {
    val withNulls = Seq(
      (1L, base), (2L, null.asInstanceOf[String]),
      (3L, null.asInstanceOf[String]), (4L, base))
      .toDF("doc_id", "text")
    // exact dedup: two absent documents are not proven copies — both null
    // rows survive, and the inventory reports no phantom NULL-digest group
    val kept = Dedup.dropExactDuplicates(withNulls, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 2L, 3L), s"got ${kept.toSeq}")
    assert(Dedup.exactGroups(withNulls, "text", "doc_id").count() == 1)
    // simhash: column form yields NULL, bit-for-bit with the native bulk form
    val colForm = withNulls.select(col("doc_id"), MinHashStaged.simhash63(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    val bulkForm = Dedup.simhashSignatures(withNulls, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(colForm(2L).isEmpty, "column simhash must be NULL for null text, not 0L")
    assert(colForm == bulkForm)
    // minhash column form: NULL signature (not an array of NULL minima), so
    // null docs never reach LSH banding
    val sigs = withNulls.select(col("doc_id"),
      MinHashStaged.minhashSignature(col("text"), 8, 3).as("sig"))
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(sigs(2L) && sigs(3L), "null text must yield a NULL signature")
    assert(!sigs(1L) && !sigs(4L))
  }

  test("keeperSelection: rank-1 under a total order, deterministic, singletons keep themselves") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // cluster 1: lengths 10, 30, 30 — the length tie breaks to the LOWER id
    // (5 beats 9); cluster 2: one member; cluster 3: descending ids
    val docs = Seq(
      (1L, 1L, 10L), (5L, 1L, 30L), (9L, 1L, 30L),
      (7L, 2L, 99L),
      (12L, 3L, 4L), (11L, 3L, 8L), (10L, 3L, 6L)
    ).toDF("doc_id", "cluster_id", "n_chars")
    val got = Dedup.keeperSelection(docs, "doc_id", "cluster_id",
        Seq(col("n_chars").desc, col("doc_id").asc))
      .select("doc_id", "keeper_id", "is_keeper")
      .as[(Long, Long, Boolean)].collect().toSet
    val expected = Set(
      (1L, 5L, false), (5L, 5L, true), (9L, 5L, false),
      (7L, 7L, true),
      (12L, 11L, false), (11L, 11L, true), (10L, 11L, false))
    assert(got == expected)
    val again = Dedup.keeperSelection(docs.repartition(7), "doc_id", "cluster_id",
        Seq(col("n_chars").desc, col("doc_id").asc))
      .select("doc_id", "keeper_id", "is_keeper")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(again == expected, "keeper must be partition-invariant")

    // NULL cluster keys (the left-join-miss state before a caller's
    // coalesce) must NOT collapse into one shared window partition — each
    // unclustered row is its own singleton cluster and keeps itself
    val withNulls = Seq(
      (1L, Some(1L), 10L), (5L, Some(1L), 30L),
      (20L, None, 50L), (21L, None, 40L)
    ).toDF("doc_id", "cluster_id", "n_chars")
    val nulled = Dedup.keeperSelection(withNulls, "doc_id", "cluster_id",
        Seq(col("n_chars").desc, col("doc_id").asc))
      .select("doc_id", "keeper_id", "is_keeper")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(nulled == Set(
      (1L, 5L, false), (5L, 5L, true),
      (20L, 20L, true), (21L, 21L, true)))
  }
}
