package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class DedupSpec extends SparkTestBase {

  private def docsDf = {
    val s = spark
    import s.implicits._
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (1L, "a completely different document about spark query engines and columnar data"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 0
      (3L, "the quick brown fox jumps over the lazy dog near the river bank"),       // near dup of 0
      (4L, "unrelated text with entirely distinct vocabulary for testing purposes only"),
      (5L, "a completely different document about spark query engines and columnar info")) // near dup of 1
      .toDF("doc_id", "text")
  }

  test("exact dedup keeps smallest id per duplicate group") {
    val out = Dedup.exact(docsDf, Seq("text"), "doc_id")
    assert(out.count() == 5)
    assert(out.filter(col("doc_id") === 2).count() == 0, "doc 2 is the dup, doc 0 survives")
    assert(out.filter(col("doc_id") === 0).count() == 1)
  }

  test("exact dedup: NULLs in multi-column keys do not collide distinct rows") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (0L, Some("x"), None: Option[String]),
      (1L, None: Option[String], Some("x")),
      (2L, Some("x"), None: Option[String])) // true dup of 0
      .toDF("id", "a", "b")
    val out = Dedup.exact(df, Seq("a", "b"), "id")
    assert(out.count() == 2, "(x,NULL) and (NULL,x) are distinct; only the true dup drops")
    assert(out.filter(col("id") === 1).count() == 1)
  }

  test("exactGroups reports multiplicity") {
    val g = Dedup.exactGroups(docsDf, "text", "doc_id").collect()
    assert(g.length == 5)
    val dupGroup = g.find(_.getAs[Long]("keep_id") == 0L).get
    assert(dupGroup.getAs[Long]("dup_count") == 2L)
  }

  test("minhash near-dup finds planted near-duplicates via LSH, not all-pairs") {
    val pairs = Dedup.minhashNearDupPairs(docsDf, "doc_id", "text",
      shingleSize = 3, numHashes = 16, bands = 8, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 2L)), "exact dup pair must surface (jaccard 1.0)")
    assert(pairs.contains((0L, 3L)) || pairs.contains((2L, 3L)),
      s"near-dup of doc 0 must surface, got $pairs")
    assert(!pairs.exists { case (a, b) => Set(a, b) == Set(0L, 1L) },
      "unrelated docs must not pair")
  }

  test("minhash jaccard estimate is exact-1.0 for identical docs") {
    val pairs = Dedup.minhashNearDupPairs(docsDf, "doc_id", "text",
      shingleSize = 3, numHashes = 16, bands = 4, threshold = 0.9)
      .filter(col("id_a") === 0 && col("id_b") === 2).collect()
    assert(pairs.length == 1 && pairs.head.getDouble(2) == 1.0)
  }

  test("simhash: identical docs get identical hashes, near-dups small hamming") {
    val sim = Dedup.simhash(docsDf, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sim(0L) == sim(2L), "identical text ⇒ identical simhash")
    assert(java.lang.Long.bitCount(sim(0L) ^ sim(3L)) <= 12,
      "near-dup should be within a small hamming distance")
    assert(java.lang.Long.bitCount(sim(0L) ^ sim(4L)) > 12,
      "unrelated docs should be far apart")
  }

  test("simhash near-dup pairs via chunk blocking") {
    val sim = Dedup.simhash(docsDf, "doc_id", "text")
    val pairs = Dedup.simhashNearDupPairs(sim, "doc_id", maxHamming = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 2L)))
  }

  test("oversized LSH bucket: chain pairs keep a giant dup cluster connected") {
    val s = spark
    import s.implicits._
    // 10 identical docs with maxBucket=4: every band bucket holds all 10,
    // far past the cap. Dropping the bucket (the old policy) would find
    // ZERO pairs; the signature-sorted chain must connect all of 0..9.
    val cluster = (0L until 10L).map(i =>
      (i, "the quick brown fox jumps over the lazy dog near the river bank today"))
    val df = (cluster :+ (99L, "totally unrelated content about columnar engines and shuffles"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDupPairs(df, "doc_id", "text",
      shingleSize = 3, numHashes = 16, bands = 4, threshold = 0.9, maxBucket = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(connected(pairs, 0L until 10L),
      s"cluster must be one connected component, got $pairs")
    assert(!pairs.exists { case (a, b) => a == 99L || b == 99L })
  }

  test("oversized simhash bucket: chain pairs preserve connectivity") {
    val s = spark
    import s.implicits._
    val cluster = (0L until 8L).map(i =>
      (i, "the quick brown fox jumps over the lazy dog near the river bank today"))
    val df = (cluster :+ (99L, "totally unrelated content about columnar engines and shuffles"))
      .toDF("doc_id", "text")
    val sim = Dedup.simhash(df, "doc_id", "text")
    val pairs = Dedup.simhashNearDupPairs(sim, "doc_id", maxHamming = 3, maxBucket = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(connected(pairs, 0L until 8L),
      s"identical docs past the bucket cap must stay connected, got $pairs")
  }

  /** true iff `members` form one connected component under `pairs`. */
  private def connected(pairs: Set[(Long, Long)], members: Seq[Long]): Boolean = {
    val adj = pairs.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val seen = scala.collection.mutable.Set(members.head)
    val stack = scala.collection.mutable.Stack(members.head)
    while (stack.nonEmpty) {
      adj.getOrElse(stack.pop(), Nil).foreach { n =>
        if (seen.add(n)) stack.push(n)
      }
    }
    members.forall(seen.contains)
  }

  test("simhashMd5: identical docs identical hex; matches a JVM-side reference bit count") {
    val sim = Dedup.simhashMd5(docsDf, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sim.values.forall(h => h.length == 16 && h.matches("[0-9a-f]{16}")))
    assert(sim(0L) == sim(2L), "identical text ⇒ identical signature")
    def ham(a: String, b: String): Int =
      java.lang.Long.bitCount(java.lang.Long.parseUnsignedLong(a, 16) ^
        java.lang.Long.parseUnsignedLong(b, 16))
    assert(ham(sim(0L), sim(3L)) <= 12, "near-dup within small hamming")
    assert(ham(sim(0L), sim(4L)) > 12, "unrelated docs far apart")
  }

  test("minhashSignatureMd5: lanes are 4-hex slices, identical docs identical sigs") {
    val out = Dedup.minhashSignatureMd5(docsDf, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (1 to 8).map(r.getString)).toMap
    assert(out.values.flatten.forall(l => l.length == 4 && l.matches("[0-9a-f]{4}")))
    assert(out(0L) == out(2L), "identical text ⇒ identical signature")
    assert(out(0L) != out(1L), "different text ⇒ different signature (whp)")
    // near-dup of doc 0 should agree on most lanes (high estimated jaccard)
    val agree = out(0L).zip(out(3L)).count { case (a, b) => a == b }
    assert(agree >= 5, s"near-dup should share most minhash lanes, shared $agree/8")
  }

  test("end-to-end: pairs → components → one representative per dup group") {
    val pairs = Dedup.minhashNearDupPairs(docsDf, "doc_id", "text",
      shingleSize = 3, numHashes = 16, bands = 8, threshold = 0.5)
    val comps = Components.connectedComponents(pairs, "id_a", "id_b")
    val kept = Components.keepRepresentatives(docsDf, "doc_id", comps)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // docs 0/2/3 are one near-dup group (keep 0), 1/5 another (keep 1),
    // 4 is unique
    assert(kept == Set(0L, 1L, 4L), s"got $kept")
  }

  test("dedupAgainstIndex matches batch docs to their index originals only") {
    val s = spark
    import s.implicits._
    // batch: a near-dup of doc 0 (one word dropped), an exact copy of
    // doc 1, and a genuinely novel doc that must NOT match anything
    val batch = Seq(
      (100L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (101L, "a completely different document about spark query engines and columnar data"),
      (102L, "entirely novel content no index document resembles in any way at all"))
      .toDF("doc_id", "text")
    val out = Dedup.dedupAgainstIndex(docsDf, batch, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet == Set(100L, 101L), s"got ${out.keySet}")
    assert(out(100L) == 0L, "near-dup maps to its smallest index match")
    assert(out(101L) == 1L, "exact copy maps to its original")
  }

  test("dedupAgainstIndex on the sf0.001 planted batch finds every plant") {
    val d = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val batch = d.filter(col("doc_id") < 20).select(
      (col("doc_id") + 100000).as("doc_id"),
      regexp_replace(col("text"), "\\s+\\S+$", "").as("text"))
    val out = Dedup.dedupAgainstIndex(d, batch, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size == 20, s"all 20 planted near-dups match, got ${out.size}")
    // the corpus itself contains duplicate texts among the low ids, so a
    // plant may match an EARLIER copy of its original — but never a
    // later doc than the one it was planted from
    assert(out.forall { case (b, o) => o <= b - 100000 },
      s"each plant matches no later than its own original: $out")
  }

  test("shingles: short documents fall back to whole-text shingle") {
    val s = spark
    import s.implicits._
    val short = Seq((0L, "tiny doc")).toDF("doc_id", "text")
    assert(Dedup.shinglesJvm(Dedup.normTextJvm("tiny doc"), 3).toSeq == Seq("tiny doc"))
    val sh = ExplodedOracle.explodedShingles(short, "doc_id", "text", 3).collect()
    assert(sh.map(_.getString(1)).toSeq == Seq("tiny doc"))
  }

  test("explodedShingles matches the array formulation content-wise") {
    val s = spark
    import s.implicits._
    val df = Seq((0L, "w1 w2 w3 w4 w5")).toDF("doc_id", "text")
    val viaWindow = ExplodedOracle.explodedShingles(df, "doc_id", "text", 3)
      .collect().map(_.getString(1)).toSet
    assert(viaWindow == Set("w1 w2 w3", "w2 w3 w4", "w3 w4 w5"))
    assert(Dedup.shinglesJvm("w1 w2 w3 w4 w5", 3).toSet == viaWindow)
  }

  test("dropRepeatedParagraphs strips corpus-repeated paragraphs, keeps order") {
    val s = spark
    import s.implicits._
    val boiler = "click here to subscribe"
    val df = Seq(
      (0L, Seq("alpha beta", boiler, "gamma delta")),
      (1L, Seq(boiler, "epsilon zeta")),
      (2L, Seq("eta theta", boiler)),
      (3L, Seq("iota kappa")), // no boiler
      (4L, Seq(boiler))) // only boiler → doc disappears entirely
      .toDF("doc_id", "paras")
    val out = Dedup.dropRepeatedParagraphs(df, "doc_id", "paras", minCount = 3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_paras"), r.getAs[Long]("n_kept"),
          r.getAs[String]("clean_text"))).toMap
    assert(out(0L) == ((3L, 2L, "alpha beta gamma delta")), "order preserved around the cut")
    assert(out(1L) == ((2L, 1L, "epsilon zeta")))
    assert(out(2L) == ((2L, 1L, "eta theta")))
    assert(out(3L) == ((1L, 1L, "iota kappa")), "untouched doc survives byte-identical")
    assert(!out.contains(4L), "a doc that was ALL boilerplate yields no row")
  }

  test("dropRepeatedParagraphs: below-threshold repeats survive") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (0L, Seq("shared once", "unique a")),
      (1L, Seq("shared once", "unique b")))
      .toDF("doc_id", "paras")
    val out = Dedup.dropRepeatedParagraphs(df, "doc_id", "paras", minCount = 3)
    assert(out.agg(sum(col("n_kept"))).head.getLong(0) == 4L,
      "2 occurrences < minCount=3: nothing removed")
  }

  test("CacheTracker releases the MEMORY_AND_DISK blocks an operator pinned") {
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    val base = sc.getPersistentRDDs.size
    val tracker = new CacheTracker
    val pairs = Dedup.minhashNearDupPairs(docsDf, "doc_id", "text",
      tracker = tracker)
    pairs.count() // materialize: caches pin here
    assert(sc.getPersistentRDDs.size > base,
      "the operator pins shared-subplan caches while the plan is live")
    tracker.release()
    assert(sc.getPersistentRDDs.size == base,
      "release() must unpin every cache the operator created")
    // idempotent second release
    tracker.release()
  }

  test("winnowing: shared run >= w+k-1 tokens guarantees a shared fingerprint") {
    val s = spark
    import s.implicits._
    val run = "alpha beta gamma delta epsilon zeta eta theta" // 8 = w+k-1 tokens
    val corpus = Seq(
      1L -> s"one two $run three four five six seven",
      2L -> s"red green blue $run yellow purple orange pink",
      3L -> "completely different words about nothing shared at all here now",
      4L -> "tiny doc").toDF("doc_id", "text") // < w+k-1 tokens → no row
    val shared = Dedup.winnowOverlapPairs(corpus, "doc_id", "text",
        shingleSize = 4, window = 5, minShared = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(shared.contains((1L, 2L)),
      "the winnowing guarantee: docs sharing the 8-token run must share a fingerprint")
    assert(!shared.exists(p => p._1 == 3L || p._2 == 3L),
      "the unrelated doc shares nothing")
    val digests = Dedup.winnowFingerprints(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(!digests.contains(4L), "sub-window docs emit no fingerprint row")
    assert(digests(1L) != digests(2L), "different docs, different digests")
    // determinism: same corpus → same digests
    val again = Dedup.winnowFingerprints(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(digests == again)
  }

  test("winnow pairs: chain tier preserves connectivity, drop tier removes boilerplate") {
    val s = spark
    import s.implicits._
    // Ten byte-identical docs → every fp any of them emits is in exactly
    // the 10-doc bucket; with maxBucket = 3 that forces the CHAIN tier.
    val run = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val clones = (1L to 10L).map(i => i -> run)
    // Two docs sharing a different run → a small bucket (ALL-PAIRS tier).
    val run2 = "one two three four five six seven eight nine ten eleven twelve"
    val smallPair = Seq(21L -> s"first copy: $run2", 22L -> s"second copy: $run2")
    val corpus = (clones ++ smallPair).toDF("doc_id", "text")
    val pairs = Dedup.winnowOverlapPairs(corpus, "doc_id", "text",
      shingleSize = 4, window = 5, minShared = 1L,
      maxBucket = 3L, maxDocFreq = 64L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((21L, 22L)), "small bucket: exact all-pairs tier")
    // chain tier: the 10 clones must stay connected (union-find over the
    // emitted pairs reaches all ten), though not all 45 pairs appear
    val parent = scala.collection.mutable.Map((1L to 10L).map(i => i -> i): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    pairs.filter(p => p._1 <= 10L && p._2 <= 10L)
      .foreach { case (a, b) => parent(find(a)) = find(b) }
    assert((1L to 10L).map(find).toSet.size == 1,
      "chain pairs keep every clone in one connected component")
    assert(pairs.size < 45 + 1, "chain tier emits linear, not quadratic, pairs")
    // drop tier: maxDocFreq below the clone-bucket size removes those fps
    // entirely — the clones fall apart, the small pair survives
    val dropped = Dedup.winnowOverlapPairs(corpus, "doc_id", "text",
      shingleSize = 4, window = 5, minShared = 1L,
      maxBucket = 3L, maxDocFreq = 9L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dropped.contains((21L, 22L)), "small bucket unaffected by the df cap")
    assert(!dropped.exists(p => p._1 <= 10L && p._2 <= 10L),
      "fps in more than maxDocFreq docs are dropped before any join")
  }

  test("excise duplicate spans: shared runs removed, unique prose kept") {
    val s = spark
    import s.implicits._
    val header = "this license header repeats on every single page of the corpus"
    val corpus = Seq(
      1L -> s"$header unique prose about alpha topics written just once",
      2L -> s"$header different body discussing beta matters entirely original",
      3L -> "standalone document with no shared spans anywhere in it at all",
      4L -> s"$header",        // nothing but the shared run → fully excised
      5L -> "tiny doc").toDF("doc_id", "text") // < k tokens → untouched
    val out = Dedup.exciseDuplicateSpans(corpus, "doc_id", "text", k = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // the 11-token header occurs in 3 docs → all its tokens are covered
    assert(out(1L)._3 == "unique prose about alpha topics written just once")
    assert(out(2L)._3 == "different body discussing beta matters entirely original")
    assert(out(1L)._2 == 11L, "all 11 header tokens removed")
    assert(out(3L) == ((11L, 0L,
      "standalone document with no shared spans anywhere in it at all")),
      "a doc with no duplicated k-gram is untouched")
    assert(out(4L) == ((11L, 11L, "")), "a fully-duplicated doc empties out")
    assert(out(5L) == ((2L, 0L, "tiny doc")), "sub-k docs are never excised")
    // WITHIN-doc repetition also counts as a duplicate occurrence
    val run = "one two three four five six seven eight"
    val selfRep = Seq(10L -> s"$run and then again $run").toDF("doc_id", "text")
    val rep = Dedup.exciseDuplicateSpans(selfRep, "doc_id", "text", k = 8)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getString(3))).head
    assert(rep._2 == 16L && rep._3 == "and then again",
      "a k-gram repeated inside one doc is excised at both occurrences")
  }

  test("standing hash index: batch probes match within Hamming 3, per modality") {
    val s = spark
    import s.implicits._
    // index: two image hashes and one audio hash sharing image 10's bits
    val idx = Seq(
      ("img", 10L, 0x00000000000000FFL),
      ("img", 11L, 0x7FFF000000000000L),
      ("aud", 20L, 0x00000000000000FFL))
      .toDF("modality", "doc_id", "mhash")
    val tracker = new CacheTracker
    val prepared = Dedup.prepareHashIndex(idx, "doc_id", "mhash",
      extra = Seq("modality"), tracker = tracker)
    val batch = Seq(
      ("img", 100L, 0x00000000000000FEL), // Hamming 1 from img 10
      ("img", 101L, 0x7FFF00000000000FL), // Hamming 4 from img 11 → no match
      ("aud", 102L, 0x00000000000000FFL), // exact match of aud 20
      ("aud", 103L, 0x7FFF000000000000L)) // = img 11, but wrong modality
      .toDF("modality", "doc_id", "mhash")
    val got = Dedup.hashDedupAgainstPreparedIndex(prepared, batch,
      "doc_id", "mhash", extra = Seq("modality"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    tracker.release()
    assert(got == Set(("img", 100L, 10L), ("aud", 102L, 20L)),
      s"Hamming-1 and exact match, no cross-modality or Hamming-4: $got")
  }

  test("standing hash index: a batch item matching several chunks/ids dedups to min id") {
    val s = spark
    import s.implicits._
    val idx = Seq(("m", 5L, 0L), ("m", 3L, 1L)).toDF("modality", "doc_id", "mhash")
    val prepared = Dedup.prepareHashIndex(idx, "doc_id", "mhash", Seq("modality"))
    // 0L is Hamming 0 from id 5 and Hamming 1 from id 3; all four chunks
    // agree on both → 8 candidate rows collapse to one (min id 3)
    val batch = Seq(("m", 9L, 0L)).toDF("modality", "doc_id", "mhash")
    val got = Dedup.hashDedupAgainstPreparedIndex(prepared, batch,
      "doc_id", "mhash", Seq("modality")).collect()
    prepared.unpersist()
    assert(got.length == 1 && got.head.getLong(2) == 3L,
      s"one output row, dup_of = min matching index id: ${got.toSeq}")
  }
}
