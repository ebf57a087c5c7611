package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class TextAnalysisSpec extends SparkTestBase {

  private def df = {
    val s = spark
    import s.implicits._
    Seq(
      (0L, "The quick  brown fox, the lazy dog!"),
      (1L, "der hund und die katze und der vogel"),
      (2L, "el gato la casa los perros"),
      (3L, "numbers 123 and 456 here."),
      (4L, "   spaced     out    text   "))
      .toDF("doc_id", "text")
  }

  test("token counts: whitespace and BPE-ish") {
    val r = df.select(col("doc_id"),
      TextAnalysis.tokenCountWs(col("text")).as("ws"),
      TextAnalysis.tokenCountBpe(col("text")).as("bpe"))
      .orderBy("doc_id").collect()
    assert(r(0).getLong(1) == 7) // ws tokens
    assert(r(0).getLong(2) == 9) // 7 words + comma + bang
    assert(r(4).getLong(1) == 3) // normalization collapses runs
  }

  test("quality features are integers and consistent") {
    val feats = TextAnalysis.qualityFeatures(col("text")).map { case (n, c) => c.as(n) }
    val r = df.filter(col("doc_id") === 3).select(feats: _*).head()
    assert(r.getAs[Long]("digit_cnt") == 6)
    assert(r.getAs[Long]("punct_cnt") == 1)
    assert(r.getAs[Long]("n_tokens") == 5)
  }

  test("langId picks marker-dominant language, und on no markers") {
    val r = df.select(col("doc_id"), TextAnalysis.langId(col("text")).as("l"))
      .orderBy("doc_id").collect().map(_.getString(1))
    assert(r(0) == "en")
    assert(r(1) == "de")
    assert(r(2) == "es")
    assert(r(4) == "und")
  }

  test("fingerprint is whitespace/case-insensitive stable") {
    val s = spark
    import s.implicits._
    val pair = Seq(("A  B c", "a b C")).toDF("x", "y")
      .select(TextAnalysis.fingerprint(col("x")).as("fx"),
        TextAnalysis.fingerprint(col("y")).as("fy")).head()
    assert(pair.getString(0) == pair.getString(1))
  }

  test("normWs collapses before trimming: edge tab/newline leaves no residue") {
    val s = spark
    import s.implicits._
    val got = Seq("\tthe  value\n").toDF("t")
      .select(TextAnalysis.normWs(col("t"))).head().getString(0)
    // trim strips spaces only — collapsing first turns the edge tab and
    // newline into spaces trim CAN remove (the DuckDB oracle convention)
    assert(got == "the value")
  }

  test("chunkDocs: overlapping windows, short trailing chunk, short docs = one chunk") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")),
      (2L, "a b")).toDF("doc_id", "text")
    val got = TextAnalysis.chunkDocs(df, "doc_id", "text", chunkSize = 5, overlap = 2)
      .orderBy("doc_id", "chunk_idx")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1L, 0, "t1 t2 t3 t4 t5", 5L),
      (1L, 1, "t4 t5 t6 t7 t8", 5L),
      (1L, 2, "t7 t8 t9 t10", 4L),
      (2L, 0, "a b", 2L)))
  }

  test("redactPii masks emails and phones; patternCount audits them") {
    val s = spark
    import s.implicits._
    val row = Seq("mail a.user@host.org or b@x.io, call 555-1234 not 55-1")
      .toDF("t")
      .select(TextAnalysis.redactPii(col("t")).as("masked"),
        TextAnalysis.patternCount(col("t"), TextAnalysis.emailPattern).as("ne"),
        TextAnalysis.patternCount(col("t"), TextAnalysis.phonePattern).as("np"))
      .head()
    assert(row.getString(0) == "mail <EMAIL> or <EMAIL>, call <PHONE> not 55-1")
    assert(row.getLong(1) == 2L && row.getLong(2) == 1L)
  }

  test("linearQualityScore is the exact weighted feature sum") {
    val s = spark
    import s.implicits._
    // "ab cd. 12" → n_tokens=3, noSpace=7 chars → mean_x100=233,
    // punct=1, digit=2
    val score = Seq("ab cd. 12").toDF("t")
      .select(TextAnalysis.linearQualityScore(col("t"), Seq(
        "n_tokens" -> 2L, "mean_tok_len_x100" -> 1L,
        "punct_cnt" -> -5L, "digit_cnt" -> -10L), bias = 7L).as("q"))
      .head().getLong(0)
    assert(score == 2 * 3 + 233 - 5 * 1 - 10 * 2 + 7, s"got $score")
  }

  test("linearQualityScore rejects unknown feature names") {
    intercept[IllegalArgumentException] {
      TextAnalysis.linearQualityScore(col("t"), Seq("no_such_feature" -> 1L))
    }
  }

  test("boilerplateStats flags grams shared across enough documents") {
    val s = spark
    import s.implicits._
    // "c1 c2 c3" appears in docs 0,1,2 (and twice inside doc 0 — must
    // count once); docs 3,4 share nothing with anyone
    val corpus = Seq(
      (0L, "c1 c2 c3 x1 x2 c1 c2 c3"),
      (1L, "c1 c2 c3 y1 y2 y3"),
      (2L, "z1 c1 c2 c3 z2"),
      (3L, "u1 u2 u3 u4"),
      (4L, "v1 v2 v3 v4"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.boilerplateStats(corpus, "doc_id", "text",
      shingleSize = 3, minDocs = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // doc 0: 8 tokens → 6 gram positions, 'c1 c2 c3' occurs twice →
    //        5 distinct grams, 1 of them boilerplate → 200 permille
    assert(out(0L) == ((5L, 1L, 200L)), s"got ${out(0L)}")
    assert(out(1L) == ((4L, 1L, 250L)))
    assert(out(2L) == ((3L, 1L, 333L)))
    assert(out(3L) == ((2L, 0L, 0L)) && out(4L) == ((2L, 0L, 0L)))
  }

  test("analyze() bundles all features per doc") {
    val out = TextAnalysis.analyze(df, "doc_id", "text")
    assert(out.count() == 5)
    assert(out.columns.toSet == Set("doc_id", "lang_pred", "fp", "n_tokens_bpe",
      "n_chars_norm", "n_tokens", "punct_cnt", "digit_cnt", "mean_tok_len_x100"))
  }

  test("bigramFluency: common transitions score high, token salad scores low, exact math") {
    val s = spark
    import s.implicits._
    // docs 1-3 share the transition "big data"; doc 4 is a jumble whose
    // transitions are each unique in the corpus
    val corpus = Seq(
      1L -> "big data big data",
      2L -> "big data works",
      3L -> "big data wins",
      4L -> "zeta qoph vav nun").toDF("doc_id", "text")
    val got = TextAnalysis.bigramFluency(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // every "big" head is followed by "data": P(data|big) = 1 → 1e6.
    // "data" is a head 3 times (doc-final "data" in doc 1 is NOT a head):
    // data→big, data→works, data→wins once each → 1e6 div 3 = 333333.
    // doc 1: (1e6 + 333333 + 1e6) div 3 = 777777
    assert(got(1L) == ((3L, 777777L)), s"got ${got(1L)}")
    // doc 4: every transition occurs once with a unique head → each
    // scores 1e6 (P=1 given that head) — "rare but consistent" heads
    // score high too, which is why real filters also weigh df
    assert(got(4L)._1 == 3L && got(4L)._2 == 1000000L)
    // docs 2,3: (1e6 + 333333) div 2 = 666666
    assert(got(2L) == ((2L, 666666L)) && got(3L) == ((2L, 666666L)))
  }

  test("bm25TopK fixed-point ranking equals real-valued BM25 on a known corpus") {
    val s = spark
    import s.implicits._
    // doc 1: high tf, short; doc 2: same tf, longer (penalized); doc 3:
    // low tf; doc 4: no hit
    val corpus = Seq(
      1L -> "cat cat cat dog",
      2L -> "cat cat cat dog dog dog dog dog dog dog",
      3L -> "cat fish fish fish",
      4L -> "dog dog fish").toDF("doc_id", "text")
    val got = TextAnalysis.bm25TopK(corpus, "doc_id", "text", Seq("cat"), 10)
      .orderBy(col("rnk")).collect()
    assert(got.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L, 2L, 3L),
      "short high-tf doc first, length-penalized second, low-tf third, no-hit absent")
    // cross-check every saturation value against double-precision BM25
    val (n, tAll) = (4L, 4L + 10 + 4 + 3)
    val avgdl = tAll.toDouble / n
    got.foreach { r =>
      val (tf, dl) = (r.getAs[Long]("tf").toDouble, r.getAs[Long]("dl").toDouble)
      val real = tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
      assert(math.abs(r.getAs[Long]("sat_1e6") - math.floor(real * 1e6)) <= 1,
        s"fixed-point must equal the real formula to 1e-6: $r vs $real")
      assert(r.getAs[Long]("df") == 3L && r.getAs[Long]("n_docs") == n)
    }
  }

  test("repetitionSignals: top-gram mass and duplicated-5-gram coverage") {
    val s = spark
    import s.implicits._
    val run = "alpha beta gamma delta epsilon"
    val corpus = Seq(
      // doc 1 stutters "the cat": top2 = ("the cat", 3); every 5-gram
      // unique (windows differ) → dup5 = 0
      1L -> "the cat the cat the cat sat",
      // doc 2 repeats a 5-token run twice with a spacer: the run's lone
      // 5-gram occurs twice → dup5_starts 2, cover = both spans = 10
      2L -> s"$run spacer $run",
      3L -> "all tokens here are completely distinct words",
      4L -> "tiny").toDF("doc_id", "text")
    val got = TextAnalysis.repetitionSignals(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1).map(_.asInstanceOf[Long]))
      .toMap
    // doc 1: 7 tokens; bigrams: "the cat"×3, "cat the"×2, "cat sat"×1 →
    // top2_count 3, chars 3×7=21; trigrams: "the cat the"×2,
    // "cat the cat"×2 (len 11) → count 2, chars 22
    assert(got(1L) == Seq(7L, 3L, 21L, 2L, 22L, 0L, 0L))
    // doc 2: 11 tokens; top2 = any run bigram ×2; the chars max over the
    // ×2 ties is "delta epsilon" (13 chars → 26); top3 ×2; dup5: one
    // gram twice covering 10 positions
    val d2 = got(2L)
    assert(d2.head == 11L && d2(1) == 2L && d2(5) == 2L && d2(6) == 10L)
    assert(d2(2) == 26L, "chars maximum ranges over count-tied bigrams")
    // all-distinct doc: counts 1, dup5 empty; sub-2-token doc: all zero
    assert(got(3L)(1) == 1L && got(3L)(5) == 0L && got(3L)(6) == 0L)
    assert(got(4L) == Seq(1L, 0L, 0L, 0L, 0L, 0L, 0L))
  }

  test("bpeTrain: greedy merges match the hand-computed sequence, chains merge left-to-right") {
    val s = spark
    import s.implicits._
    // round 0 pairs: "a b"×3, "b c"×2, "b a"×1, "c c"×1 → merge (a,b).
    // round 1 (docs now "a␟b a␟b c" / "a␟b c c"): "a␟b c"×2 beats
    // "a␟b a␟b"×1 and "c c"×1 → merge (a␟b, c).
    val df = Seq((1L, "a b a b c"), (2L, "a b c c")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeTrain(df, "doc_id", "text", nMerges = 2)
      .orderBy("merge_idx").collect()
    assert(got.length == 2)
    assert((got(0).getInt(0), got(0).getString(1), got(0).getString(2),
      got(0).getLong(3)) == ((0, "a", "b", 3L)))
    assert((got(1).getInt(0), got(1).getString(1), got(1).getString(2),
      got(1).getLong(3)) == ((1, "a\u001fb", "c", 2L)))
  }

  test("bpeTrain: self-chained pairs merge non-overlapping (a a a → [aa, a])") {
    val s = spark
    import s.implicits._
    // "a a a a a": greedy (a,a) consumes pairs left-to-right →
    // [a␟a, a␟a, a] — so round 1's top pair is (a␟a, a␟a) with count 1
    // from this doc plus the tie-break against (a␟a, a). The doc with
    // even run "a a a a" becomes [a␟a, a␟a] cleanly.
    val df = Seq((1L, "a a a a a"), (2L, "a a a a")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeTrain(df, "doc_id", "text", nMerges = 2)
      .orderBy("merge_idx").collect()
    // round 0: pairs "a a"×7 (4 + 3 adjacent) → merge (a, a)
    assert((got(0).getString(1), got(0).getString(2), got(0).getLong(3)) ==
      (("a", "a", 7L)))
    // round 1 tokenizations: doc1 [a␟a, a␟a, a], doc2 [a␟a, a␟a] →
    // pairs: (a␟a,a␟a)×2, (a␟a,a)×1 → merge (a␟a, a␟a) with count 2
    assert((got(1).getString(1), got(1).getString(2), got(1).getLong(3)) ==
      (("a\u001fa", "a\u001fa", 2L)))
  }

  test("bpeTrain: mapPartitions pair counting equals the shingle-stage formulation") {
    val s = spark
    import s.implicits._
    // messy corpus: nulls, empties, 1-token docs (no pair), within-doc
    // repeats, whitespace runs — the cases where the exploded shingle
    // counting has edge semantics (null/1-token docs contribute nothing)
    val df = Seq(
      (1L, "x y x y x"), (2L, "x x y y"), (3L, null.asInstanceOf[String]),
      (4L, ""), (5L, "solo"), (6L, "  x   y  "), (7L, "y x y x"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.bpeTrain(df, "doc_id", "text", nMerges = 3)
      .orderBy("merge_idx").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    // reference: the pre-rewrite formulation — per round, count size-2
    // shingles of the CHAIN-encoded corpus (bpeEncode is the chained
    // replace algebra) and take (max count, min pair)
    var merges = Seq.empty[(String, String)]
    val ref = (0 until 3).map { k =>
      val enc = TextAnalysis.bpeEncode(df, "doc_id", "text", merges)
      val top = ExplodedOracle.explodedShingles(enc.select(col("doc_id"),
          col("bpe_text")), "doc_id", "bpe_text", 2)
        .filter(col("__sh").contains(" "))
        .groupBy(col("__sh")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("__sh")).limit(1).collect()(0)
      val Array(a, b) = top.getString(0).split(" ", 2)
      merges = merges :+ ((a, b))
      (k, a, b, top.getLong(1))
    }
    assert(got.toSeq == ref)
  }

  test("bpeEncode: zero merges is whitespace tokenization") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "The  quick brown fox")).toDF("doc_id", "text")
    val r = TextAnalysis.bpeEncode(df, "doc_id", "text", Seq.empty).head()
    assert(r.getAs[String]("bpe_text") == "the quick brown fox")
    assert(r.getAs[Long]("n_tokens") == 4L)
    assert(r.getAs[Long]("n_tokens_ws") == 4L)
  }

  test("bpeEncode: frozen merge chain matches the hand-computed encoding") {
    val s = spark
    import s.implicits._
    // merges (a,b) then (a\u001fb, c) — the bpeTrain result for this
    // corpus: "a b a b c" -> [a\u001fb, a\u001fb\u001fc];
    // "a b c c" -> [a\u001fb\u001fc, c]; "x y" (unseen pairs) -> unchanged.
    val df = Seq((1L, "a b a b c"), (2L, "a b c c"), (3L, "x y"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.bpeEncode(df, "doc_id", "text",
        Seq(("a", "b"), ("a\u001fb", "c")))
      .orderBy("doc_id").collect()
    assert(got(0).getAs[String]("bpe_text") == "a\u001fb a\u001fb\u001fc")
    assert((got(0).getAs[Long]("n_tokens"), got(0).getAs[Long]("n_tokens_ws")) == ((2L, 5L)))
    assert(got(1).getAs[String]("bpe_text") == "a\u001fb\u001fc c")
    assert((got(1).getAs[Long]("n_tokens"), got(1).getAs[Long]("n_tokens_ws")) == ((2L, 4L)))
    assert(got(2).getAs[String]("bpe_text") == "x y")
  }

  test("bpeEncode: overlapping self-pair encodes greedy left-to-right, and merges only join (lossless)") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "a a a"), (2L, "b a a b")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeEncode(df, "doc_id", "text", Seq(("a", "a")))
      .withColumn("roundtrip",
        call_function("replace", col("bpe_text"), lit("\u001f"), lit(" ")))
      .orderBy("doc_id").collect()
    assert(got(0).getAs[String]("bpe_text") == "a\u001fa a")
    assert(got(1).getAs[String]("bpe_text") == "b a\u001fa b")
    // replacing the joiner back with a space recovers the normalized text
    assert(got.map(_.getAs[String]("roundtrip")).toSeq == Seq("a a a", "b a a b"))
  }

  test("bpeEncodeDeep: equals the chained-replace encoder on trained merges, incl. no-back-feed ordering") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "a b a b c"), (2L, "a b c c"), (3L, "x y"), (4L, "a a a"),
      (5L, "b a a b"), (6L, ""), (7L, "a"), (8L, "c a b a b a b c")
    ).toDF("doc_id", "text")
    val merges = TextAnalysis.bpeTrain(df, "doc_id", "text", nMerges = 4)
      .orderBy("merge_idx").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val chain = TextAnalysis.bpeEncode(df, "doc_id", "text", merges)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val deep = TextAnalysis.bpeEncodeDeep(df, "doc_id", "text", merges)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(deep == chain)
    // no-back-feed: a pair formed in pass k never feeds an earlier merge
    val nb = TextAnalysis.bpeEncodeDeep(
        Seq((1L, "a b c")).toDF("doc_id", "text"),
        "doc_id", "text", Seq(("b", "c"), ("a", "b")))
      .head().getAs[String]("bpe_text")
    assert(nb == "a b\u001fc") // (a,b) must NOT match across the bc merge
  }

  test("bpeEncodeDeep: tokenizer-realistic depth (200 merges) far beyond the chain bound") {
    val s = spark
    import s.implicits._
    val toks = (0 until 201).map(i => s"t$i")
    val df = Seq((1L, toks.mkString(" ")), (2L, "t5 t6 unrelated"))
      .toDF("doc_id", "text")
    // a 200-deep merge chain folding the whole doc into ONE symbol
    val merges = (1 until 201).map { i =>
      (toks.take(i).mkString("\u001f"), s"t$i")
    }
    val got = TextAnalysis.bpeEncodeDeep(df, "doc_id", "text", merges)
      .orderBy("doc_id").collect()
    assert(got(0).getAs[Long]("n_tokens") == 1L)
    assert(got(0).getAs[String]("bpe_text").replace('\u001f', ' ') ==
      toks.mkString(" ")) // lossless at depth 200
    // doc 2 contains no rule's pair (every rule's left side is the
    // long prefix symbol) -- 200 passes, zero firings, text unchanged
    assert(got(1).getAs[String]("bpe_text") == "t5 t6 unrelated")
  }

  test("bpeEncode: train-then-encode compresses the training sample consistently") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "a b a b c"), (2L, "a b c c")).toDF("doc_id", "text")
    val merges = TextAnalysis.bpeTrain(df, "doc_id", "text", nMerges = 2)
      .orderBy("merge_idx").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val enc = TextAnalysis.bpeEncode(df, "doc_id", "text", merges)
      .orderBy("doc_id").collect()
    // every doc strictly compresses (both trained pairs occur in both docs)
    enc.foreach { r =>
      assert(r.getAs[Long]("n_tokens") < r.getAs[Long]("n_tokens_ws"))
    }
    assert(enc(0).getAs[String]("bpe_text") == "a\u001fb a\u001fb\u001fc")
  }

  test("redactPii is idempotent over adversarial pii soup") {
    // third instance of the re-run property: redaction placeholders and
    // their boundaries must never re-match, or a second pipeline pass
    // would rewrite rows. Soup of emails, phones, and near-miss
    // fragments butted against each other.
    val frags = Seq("a@b.co", "x.y@mail.example.com", "123-4567",
      "555-000", "12-34", "@", ".", "-", "co", "123", "<EMAIL>",
      "<PHONE>", " ", "user%p+q@host.io")
    val rnd = new scala.util.Random(20260814L)
    val samples = Seq.tabulate(300) { i =>
      (i.toLong, Seq.fill(1 + rnd.nextInt(8))(
        frags(rnd.nextInt(frags.length))).mkString)
    }
    val s2 = spark
    import s2.implicits._
    val df = samples.toDF("id", "t")
    import graft.operators.TextAnalysis.redactPii
    val bad = df.select(col("id"), col("t"),
        redactPii(col("t")).as("once"),
        redactPii(redactPii(col("t"))).as("twice"))
      .filter(col("once") =!= col("twice"))
      .collect()
    assert(bad.isEmpty,
      s"redactPii not idempotent on: ${bad.take(3).mkString("; ")}")
  }
}
