package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField}

/** Text-analysis operators for training-data pipelines: token counting,
  * quality scoring, language ID, document fingerprinting.
  *
  * Every function is a pure, codegen-friendly Column expression — narrow,
  * zero-shuffle, runs at parquet-scan speed. Counting tricks use
  * plain-string `replace` + `length` arithmetic (not regex backrefs) so
  * the DuckDB correctness oracles can replicate results bit-for-bit.
  */
object TextAnalysis {

  /** Whitespace-collapsed, trimmed text. Collapse BEFORE trim: `trim`
    * strips spaces only, so trim-first would leave a trailing space
    * behind a trailing tab/newline — and the DuckDB oracles normalize
    * collapse-then-trim, so the order is also a cross-engine contract.
    */
  def normWs(c: Column): Column = trim(regexp_replace(c, "\\s+", " "))

  /** Full crawl-text cleanup chain: turn NBSP into plain space, strip
    * C0/DEL control characters, collapse whitespace, trim, THEN
    * NFC-compose. The ORDER is a cross-engine contract (the DuckDB
    * oracle applies the identical chain):
    *
    *  1. NBSP (U+00A0) → space BEFORE the whitespace collapse: neither
    *     Java's nor RE2's `\s` matches NBSP, so without this step two
    *     NBSP-joined words would stay glued together.
    *  2. Control strip BEFORE `\s+`: Java `\s` includes `\x0B` (vertical
    *     tab) but RE2's does not — stripping the full C0 range first
    *     removes the one character the two engines' `\s` disagree on, so
    *     the collapse that follows is engine-exact.
    *  3. NFC LAST, not first — the strip steps can make a combining mark
    *     newly adjacent to its base (`e` + BEL + U+0301 → `e` + U+0301),
    *     so composing before them leaves such sequences decomposed and
    *     the chain non-IDEMPOTENT (a pipeline re-run would rewrite
    *     already-clean rows — caught by the idempotence property test).
    *     Every earlier step is composition-independent (composed chars
    *     are never whitespace/control, combining marks match neither
    *     class), so deferring NFC changes nothing else.
    */
  def normalizeText(c: Column): Column = {
    val nbsp = regexp_replace(c, "\\u00A0", " ")
    val ctrl = regexp_replace(nbsp, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", "")
    graft.functions.NfcNormalize.nfc_normalize(normWs(ctrl))
  }

  /** Lower-cased normalized text, padded with one space on each side so
    * whole-word occurrence counting via substring replace is exact.
    */
  def padded(c: Column): Column = concat(lit(" "), lower(normWs(c)), lit(" "))

  /** Occurrences of literal `m` in `c` via replace-length arithmetic
    * (identical semantics in any engine with all-occurrence replace).
    */
  def countOccurrences(c: Column, m: String): Column =
    ((length(c) - length(call_function("replace", c, lit(m), lit("")))) / m.length)
      .cast("long")

  /** Whitespace token count. */
  def tokenCountWs(c: Column): Column = size(split(normWs(c), " ")).cast("long")

  /** BPE-ish token count: word pieces + standalone non-word chars —
    * `\w+|[^\w\s]` — the classic pre-tokenizer regex.
    */
  def tokenCountBpe(c: Column): Column =
    size(regexp_extract_all(c, lit("\\w+|[^\\w\\s]"), lit(0))).cast("long")

  /** Distinct word-token set (input to n-gram Jaccard similarity). */
  def tokenSet(c: Column): Column = array_distinct(split(lower(normWs(c)), " "))

  /** Quality-scoring feature bundle, all integer-valued for exact
    * cross-engine comparison: lengths, space/punct/digit counts, and the
    * mean token length ×100 (floored).
    */
  def qualityFeatures(c: Column): Seq[(String, Column)] = {
    val n = normWs(c)
    val noSpace = call_function("replace", n, lit(" "), lit(""))
    val toks = size(split(n, " ")).cast("long")
    Seq(
      "n_chars_norm" -> length(n).cast("long"),
      "n_tokens" -> toks,
      "punct_cnt" -> (length(n) - length(translate(n, ".,!?;:", ""))).cast("long"),
      "digit_cnt" -> (length(n) - length(translate(n, "0123456789", ""))).cast("long"),
      "mean_tok_len_x100" ->
        floor(length(noSpace).cast("double") * 100.0 / toks.cast("double")).cast("long"))
  }

  /** Language-ID marker words. Deliberately tiny and deterministic: this
    * is the n-gram/stopword heuristic of pipeline lore, not a model.
    * Order matters — ties resolve to the earliest entry.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "value"),
    "de" -> Seq("der", "die", "und"),
    "es" -> Seq("el", "la", "los"),
    "fr" -> Seq("le", "les", "des"),
    "zh" -> Seq("wo", "shi", "bu"))

  /** Score for one language: total whole-word marker occurrences. */
  def langScore(c: Column, markers: Seq[String]): Column =
    markers.map(m => countOccurrences(padded(c), " " + m + " ")).reduce(_ + _)

  /** Predicted language: argmax of marker scores, ties to the earlier
    * language in [[langMarkers]]; all-zero scores fall back to "und".
    */
  def langId(c: Column): Column = {
    val scores = langMarkers.map { case (l, ms) => l -> langScore(c, ms) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((l, s), els) =>
      when(s === best && s > 0, lit(l)).otherwise(els)
    }
  }

  /** PII redaction patterns. Deliberately simple, engine-portable regex
    * (no lookarounds, no backrefs — identical under Java regex and RE2):
    * production pipelines swap in their compliance-approved patterns, the
    * operator shape (narrow codegen'd regexp_replace chain) is the point.
    */
  val emailPattern = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val phonePattern = "[0-9]{3}-[0-9]+"

  /** Redact emails then phone numbers (order matters: the email pattern
    * would otherwise partially match an already-placed token boundary).
    */
  def redactPii(c: Column): Column =
    regexp_replace(regexp_replace(c, emailPattern, "<EMAIL>"),
      phonePattern, "<PHONE>")

  /** Count of matches for a pattern — the redaction audit column. */
  def patternCount(c: Column, pattern: String): Column =
    size(regexp_extract_all(c, lit(pattern), lit(0))).cast("long")

  /** Stable content fingerprint of normalized text (md5 — portable across
    * engines; see [[graft.functions.RollingHash]] for the cheaper
    * non-cryptographic engine-side variant).
    */
  def fingerprint(c: Column): Column = md5(lower(normWs(c)))

  /** Global top-k vocabulary: most frequent whitespace tokens, ties broken
    * by token order. The shape that scales: explode → hash-aggregate with
    * map-side partial counts (the shuffle moves one row per distinct token
    * per partition, not per occurrence), then `orderBy.limit` plans as
    * TakeOrdered — k rows to the driver, never the full vocabulary.
    */
  def topTokens(df: DataFrame, textCol: String, k: Int): DataFrame =
    df.select(explode(split(lower(normWs(col(textCol))), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(k)

  /** Tag documents with blocklist/watchlist term hits: one output row
    * per (doc, matched term) with its occurrence count — the primitive
    * behind blocklist filtering, topic tagging, and contamination-phrase
    * screening. `terms` is a one-column ("term") DataFrame; matching is
    * exact on lower-cased whitespace tokens, so word boundaries are
    * structural (no `\bfoo\b` regex lore) and a term list of 10⁵ entries
    * costs the same scan as one of 10: the corpus explodes to (id,
    * token) — narrow, never the text — and hash-joins the term list,
    * which BROADCASTS (term lists are small next to any corpus; a
    * regex-alternation scan is O(tokens·terms) NFA states and simply
    * stops compiling at real blocklist sizes). The per-(doc, term) count
    * aggregates map-side before its one keyed exchange.
    */
  def keywordTags(df: DataFrame, idCol: String, textCol: String,
                  terms: DataFrame): DataFrame = {
    require(idCol != "term" && idCol != "n_hits",
      s"idCol '$idCol' collides with keywordTags' output columns")
    df.select(col(idCol), explode(split(lower(normWs(col(textCol))), " ")).as("term"))
      .join(broadcast(terms.select(lower(col("term")).as("term"))), "term")
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Split each document into overlapping token windows — the chunking
    * step RAG indexes and context-window datasets run over a corpus.
    * Chunks start every `chunkSize - overlap` tokens; the final chunk is
    * short rather than padded; docs shorter than a window yield one
    * chunk. Narrow map + explode, no shuffle — chunk_idx is derived from
    * the start offset (`start / step`) so no window ordinal is needed and
    * any engine reproduces it bit-for-bit.
    */
  def chunkDocs(df: DataFrame, idCol: String, textCol: String,
                chunkSize: Int, overlap: Int): DataFrame = {
    require(overlap >= 0 && chunkSize > overlap,
      "chunkSize must exceed overlap (the step must be positive)")
    val step = chunkSize - overlap
    df.select(col(idCol), split(lower(normWs(col(textCol))), " ").as("__toks"))
      .withColumn("__n", size(col("__toks")))
      .select(col(idCol), col("__toks"), col("__n"),
        explode(sequence(lit(0),
          greatest(col("__n") - overlap - 1, lit(0)), lit(step))).as("__start"))
      .select(col(idCol),
        (col("__start") / step).cast("int").as("chunk_idx"),
        concat_ws(" ", slice(col("__toks"), col("__start") + 1, lit(chunkSize)))
          .as("chunk_text"),
        least(lit(chunkSize), col("__n") - col("__start")).cast("long")
          .as("n_chunk_tokens"))
  }

  /** Linear quality model over [[qualityFeatures]] — the shape of the
    * classifier-based filter every curation pipeline runs (fasttext-style
    * scorers reduce to exactly this after feature extraction: a dot
    * product with fixed weights). Integer weights over integer features
    * keep the score exact and engine-portable; swapping in trained
    * weights changes nothing about the plan — still one narrow codegen'd
    * projection, zero shuffles, scan-speed at 100 TB.
    */
  def linearQualityScore(c: Column, weights: Seq[(String, Long)],
                         bias: Long = 0L): Column = {
    val feats = qualityFeatures(c).toMap
    weights.map { case (name, w) =>
      require(feats.contains(name), s"unknown quality feature: $name")
      feats(name) * lit(w)
    }.reduce(_ + _) + lit(bias)
  }

  /** Cross-document boilerplate statistics: for each document, how many of
    * its distinct `shingleSize`-gram spans also appear in at least
    * `minDocs` documents corpus-wide (headers, footers, licence blocks,
    * navigation chrome — the spans CCNet-style pipelines strip or
    * down-weight). Output per doc: distinct-gram count, boilerplate-gram
    * count, and the ratio in permille (integer, engine-exact).
    *
    * Scale shape: grams reduce to DISTINCT (doc, gram) rows first, so a
    * span repeated inside one document votes once; the document frequency
    * is then an unordered COUNT WINDOW over the gram key — one exchange
    * that annotates each (doc, gram) row in place, where the groupBy +
    * join-back formulation would shuffle the gram table twice more and
    * sort both join sides (measured 1.7× slower end-to-end). Per-doc
    * totals are one further shuffle on the id. Nothing is ever all-pairs
    * and no gram list is collected to the driver.
    */
  def boilerplateStats(df: DataFrame, idCol: String, textCol: String,
                       shingleSize: Int = 3, minDocs: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // digests from the start (the decontaminate discipline): the distinct
    // stays exchange-free on the shingle stage's doc-id clustering, and
    // the df-count window — this pipeline's one corpus-wide shuffle —
    // moves 16-byte md5s instead of raw gram text
    val grams = Dedup.distinctGramDigests(df, idCol, textCol, shingleSize)
    grams
      // rows are distinct per (doc, gram), so the per-gram partition count
      // IS the gram's document frequency
      .withColumn("__gdf", count(lit(1)).over(Window.partitionBy(col("__g"))))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__gdf") >= minDocs, 1L).otherwise(0L)).as("n_boiler"))
      // both operands non-negative, so truncating `div` == floor division
      // — identical to the oracle's `//`
      .withColumn("boiler_permille", expr("(n_boiler * 1000) div n_grams"))
  }

  /** Full per-document text-analysis projection. */
  def analyze(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val feats = qualityFeatures(t).map { case (n, c) => c.as(n) }
    df.select(Seq(col(idCol), langId(t).as("lang_pred"), fingerprint(t).as("fp"),
      tokenCountBpe(t).as("n_tokens_bpe")) ++ feats: _*)
  }

  /** Quality-filter funnel: how many rows survive each successive rule —
    * the first artifact any corpus-curation run reports. Rules are
    * applied CUMULATIVELY in order; the output is one row per stage
    * (`stage_idx`, `stage`, `n_pass`), with stage 0 = total input.
    *
    * One scan, one tiny aggregate: all the cumulative flags are computed
    * per row and summed map-side, so a 100 TB funnel costs exactly one
    * pass regardless of how many rules it has (never one scan per rule).
    */
  def filterFunnel(df: DataFrame, rules: Seq[(String, Column)]): DataFrame = {
    require(rules.nonEmpty, "need at least one rule")
    val cumFlags = rules.scanLeft(lit(true): Column) {
      case (acc, (_, r)) => acc && r
    }.tail
    val aggs = count(lit(1)).as("__total") +:
      cumFlags.zipWithIndex.map { case (f, i) =>
        sum(when(f, 1L).otherwise(0L)).as(s"__s$i")
      }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val stages = ("total", "__total") +: rules.zipWithIndex.map {
      case ((name, _), i) => (name, s"__s$i")
    }
    val stackArgs = stages.zipWithIndex.map { case ((name, c), i) =>
      // stage names are spliced into SQL — escape embedded quotes so a
      // rule named "tok's ratio" can't break (or become) the expression
      s"$i, '${name.replace("'", "''")}', $c"
    }.mkString(", ")
    wide.selectExpr(
      s"stack(${stages.size}, $stackArgs) AS (stage_idx, stage, n_pass)")
      .select(col("stage_idx").cast("int"), col("stage"), col("n_pass"))
  }

  /** BM25 retrieval over a FIXED query-term set, in EXACT integer
    * fixed-point — no doubles anywhere, so rankings are bit-identical in
    * any engine with 64-bit integer division.
    *
    * With the standard constants k1 = 1.2, b = 0.75 the tf-saturation
    * term `tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))` (avgdl = T/N over the
    * corpus) clears to the integer rational
    *
    *   sat_1e6 = (1 000 000 · 22·tf·T) div (10·tf·T + 3·T + 9·dl·N)
    *
    * and per TERM that saturation alone determines the BM25 ranking (the
    * idf factor is constant within a term); the idf INGREDIENTS — df and
    * n_docs — ride along as exact integers so a consumer can weigh
    * multi-term sums with whatever log variant it prefers. The BIGINT
    * bound is tf-DEPENDENT: the numerator is 10⁶·22·tf·T, so safety
    * requires 2.2·10⁷·tf_max·T < 2⁶³ — T ≈ 4·10¹¹/tf_max corpus tokens
    * (tf_max = the largest single-doc count of any query term; e.g.
    * tf_max 100 → T ≈ 4·10⁹). Past that the engines DIVERGE rather than
    * both failing (non-ANSI Spark wraps silently; DuckDB raises on BIGINT
    * overflow) — widen both sides to DECIMAL(38,0) before the bound, not
    * at it.
    *
    * Scale shape: one explode + ONE map-side-combined per-doc aggregate
    * (dl and every per-term tf in the same pass — terms are static
    * columns, not a join), a one-row totals aggregate broadcast back, a
    * narrow term-stack, and one top-k window per term. The per-doc table
    * is persisted because totals and the stack both read it (no subplan
    * CSE) — cache ownership via [[CacheTracker]].
    */
  /** BPE trainer: learn `nMerges` byte-pair merges from the corpus — the
    * full training loop on top of `q_bpe_pairs`' one-round candidate
    * table (Sennrich et al. 2016). Each round counts corpus-wide
    * ADJACENT-pair frequencies over the CURRENT tokenization, takes the
    * most frequent pair (ties broken by the pair string — binary
    * collation in any engine), and merges every occurrence greedily
    * left-to-right. Returns the merge table (merge_idx, tok_a, tok_b,
    * cnt) — `cnt` is the pair's corpus frequency when it was chosen;
    * merged tokens join with U+001F (absent from any corpus token, so a
    * merge is always reversible).
    *
    * Greedy merge via PLAIN string replace — no per-token fold, no
    * regex, bit-identical in any engine: tokens re-joined with TWO
    * spaces (+ two-space pads), so the pattern ` a  b ` consumes ONE
    * space from each flanking separator and the replacement ` ab `
    * restores it. Chained occurrences (`a b a b`, `a a a`) therefore
    * merge exactly as the left-to-right non-overlapping scan of
    * classical BPE: each match leaves the neighbor's boundary space in
    * place, and self-chains skip the consumed middle token. The
    * round-k tokenization is the nested replace chain re-derived from
    * the normalized text each scan — O(nMerges) narrow codegen'd string
    * ops per row, deliberately NOT cached (a per-round materialized
    * corpus is corpus-sized; the replace chain is cheaper than the
    * exchange it would add).
    *
    * Scale shape: per round, one narrow pair-count pass emitting
    * per-partition partials + one vocabulary-sized count exchange + a
    * TakeOrdered top-1 — exactly ONE row to the driver per
    * round (the same bounded-scalar budget as [[bm25TopK]]'s totals and
    * Components' edge count), so the sequential loop is scale-safe by
    * construction; `nMerges ≤ 8` bounds it. Production tokenizer
    * training samples the corpus anyway — feed a deterministic sample
    * for the 100 TB case.
    *
    * Measured per-round cost (r9, SURVEY.md §2.4 "BPE trainer loop"
    * row; sf0.1 sample, warm min of 3, local[32]): nMerges 2/4/6/8 →
    * 1.25/2.55/3.91/5.18 s — marginal cost per round FLAT at
    * 0.63-0.68 s. The deepening
    * replace chain is theoretically ~quadratic in nMerges, but at these
    * depths the per-round exchange + count dominates and the chain term
    * is noise; raising the `nMerges ≤ 8` bound to tokenizer-realistic
    * depths (thousands) WOULD surface it — at that point switch to a
    * materialized-corpus-per-round design (trade an exchange per round
    * for a bounded-depth chain).
    *
    * Contract: every round must see at least one adjacent pair (any
    * non-degenerate corpus); a pairless round stops the loop early.
    */
  def bpeTrain(df: DataFrame, idCol: String, textCol: String,
               nMerges: Int): DataFrame = {
    require(nMerges >= 1 && nMerges <= 8, "driver-bounded loop: 1..8 merges")
    val spark = df.sparkSession
    import spark.implicits._
    // normalize ONCE and cache for the loop -- the cache is sample-sized
    // (this operator trains on a deterministic sample by contract), and
    // every round re-tokenizes from it instead of re-running the regex
    // normalization and the deepening replace chain per round
    val base = df.select(Dedup.normText(col(textCol)).as("__norm"))
      .filter(col("__norm").isNotNull)
      .as[String]
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var k = 0
    var stop = false
    while (k < nMerges && !stop) {
      // Round-k pair counting: ONE narrow mapPartitions -- tokenize under
      // the already-learned merges ([[applyMergesToTokens]], the loop the
      // deep-encoder equivalence spec pins to the chained-replace
      // algebra), count adjacent pairs into a per-partition map, and emit
      // (pair, partial count) rows. The shuffle then carries one row per
      // DISTINCT pair per partition (vocabulary-sized, not corpus-sized)
      // into a tiny sum + TakeOrdered top-1 -- exactly ONE row to the
      // driver per round. Semantics match the previous size-2 shingle
      // stage bit-for-bit: only docs with >= 2 symbols contribute, every
      // adjacent occurrence counts (within-doc repeats included), and
      // ties break on the pair string's binary order.
      val ms = learned.map(m => (m._2, m._3)).toArray
      val top = base.mapPartitions(it => pairCountPartials(it, ms))
        .toDF("__sh", "__c")
        .groupBy(col("__sh")).agg(sum(col("__c")).as("cnt"))
        .orderBy(col("cnt").desc, col("__sh")) // plans as TakeOrdered
        .limit(1).collect()
      if (top.isEmpty) stop = true
      else {
        val Array(a, b) = top(0).getString(0).split(" ", 2)
        learned += ((k, a, b, top(0).getLong(1)))
        k += 1
      }
    }
    base.unpersist(blocking = false)
    learned.toSeq.toDF("merge_idx", "tok_a", "tok_b", "cnt")
      .select(col("merge_idx").cast("int"), col("tok_a"), col("tok_b"),
        col("cnt"))
  }

  /** Per-partition adjacent-pair count partials of normalized token
    * streams under a merge list — [[bpeTrain]]'s per-round counting
    * stage. Emits one (pair, partial count) row per DISTINCT pair per
    * partition, so the downstream shuffle is vocabulary-sized.
    */
  private def pairCountPartials(it: Iterator[String],
                                ms: Array[(String, String)]): Iterator[(String, Long)] = {
    val counts = new java.util.HashMap[String, java.lang.Long]()
    it.foreach { norm =>
      val toks = applyMergesToTokens(norm.split(" "), ms)
      var i = 0
      while (i < toks.length - 1) {
        val key = toks(i) + " " + toks(i + 1)
        val prev = counts.get(key)
        counts.put(key, if (prev == null) 1L else prev.longValue + 1L)
        i += 1
      }
    }
    scala.jdk.CollectionConverters.MapHasAsScala(counts)
      .asScala.iterator.map { case (pr, c) => (pr, c.longValue) }
  }

  /** Corpus-wide adjacent-pair frequencies of the normalized token
    * stream — the merge-candidate table a BPE trainer consumes each
    * round (round 0 exposed here; [[bpeTrain]] runs the same counting
    * under its learned merges). Same kernel shape as the trainer: one
    * narrow mapPartitions emitting per-partition partials, then a
    * vocabulary-sized sum. Output: (pair, cnt).
    */
  def adjacentPairCounts(df: DataFrame, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(Dedup.normText(col(textCol)).as("__norm"))
      .filter(col("__norm").isNotNull)
      .as[String]
      .mapPartitions(it => pairCountPartials(it, Array.empty))
      .toDF("__sh", "__c")
      .groupBy(col("__sh").as("pair")).agg(sum(col("__c")).as("cnt"))
  }

  /** Apply a trained merge list ([[bpeTrain]] output order) to encode a
    * corpus — the deploy half of the tokenizer lifecycle: train once on
    * a sample, then tokenize EVERY document with the frozen merges. Per
    * document emits the encoded symbol stream (merged pairs joined by
    * U+001F, same convention as the trainer's intermediate state), the
    * encoded token count, and the pre-merge whitespace token count, so
    * `n_tokens_ws - n_tokens` is the tokens-saved compression metric
    * and `n_tokens` is the column token-budget packing actually needs.
    *
    * Semantics are exactly the trainer's greedy pass: per merge, double
    * every separator, replace ` a  b ` left-to-right non-overlapping
    * (both Spark's and DuckDB's `replace` scan left-to-right, so
    * `a a a` under merge (a,a) encodes to `[a␟a, a]` in both engines),
    * then collapse. Merges only ever JOIN symbols — replacing U+001F
    * back with a space recovers the normalized text verbatim.
    *
    * Scale shape: a pure chained-`replace` column expression — ONE
    * codegen'd scan, ZERO exchanges; encoding cost is linear in corpus
    * bytes × merge depth and embarrassingly parallel, so the 100 TB
    * case is free. The bounded dimension is merge DEPTH (same ≤8 bound
    * and rationale as [[bpeTrain]]): tokenizer-realistic vocabularies
    * (thousands of merges) would blow the replace chain past what
    * codegen accepts — at that depth switch to a per-partition
    * trie/priority-queue encoder over `mapPartitions`, which stays
    * shuffle-free but leaves whole-stage codegen.
    */
  def bpeEncode(df: DataFrame, idCol: String, textCol: String,
                merges: Seq[(String, String)]): DataFrame = {
    require(merges.size <= 8, "chained-replace depth bound: <= 8 merges")
    val sep = "\u001f"
    val norm = Dedup.normText(col(textCol))
    var cur: Column = norm
    merges.foreach { case (a, b) =>
      val enc = concat(lit("  "), replace(cur, lit(" "), lit("  ")), lit("  "))
      val merged = replace(enc, lit(s" $a  $b "), lit(s" $a$sep$b "))
      cur = trim(replace(merged, lit("  "), lit(" ")))
    }
    df.select(col(idCol), cur.as("bpe_text"),
      size(split(cur, " ")).cast("long").as("n_tokens"),
      size(split(norm, " ")).cast("long").as("n_tokens_ws"))
  }

  /** [[bpeEncode]] at tokenizer-realistic merge depth — the switch the
    * chained-replace scaladoc promises once the vocabulary outgrows what
    * codegen accepts (hundreds-to-thousands of merges vs the chain's ≤8).
    * Same contract bit-for-bit: each merge, in training order, is one
    * left-to-right non-overlapping pass; a pair formed in pass k never
    * back-feeds an earlier merge (pinned by the equivalence spec).
    *
    * Per partition, per document: symbols as an array, and a
    * pair-presence set gating each pass — a document touches only the
    * merges whose pair actually occurs in it, so cost is
    * O(tokens + firing_merges × tokens) with array-index constants, not
    * the chain's 3 whole-string materializations per merge; presence is
    * never pruned (a stale entry costs one no-op scan, never
    * correctness) and new adjacencies created by a merge are added as
    * they form. Scale shape: ONE narrow `mapPartitions` over (id, text)
    * — ZERO exchanges, embarrassingly parallel like the chain. Measured
    * (SURVEY.md §2.4, r11 BPE encoder flavor table; sf0.1 warm): there
    * is NO crossover — deep wins even at depth 8 (0.20 s vs the
    * chain's 0.41 s; the chain's three whole-string materializations
    * per merge cost more than leaving codegen saves) and depth 512 costs what the chain
    * pays for 8 (0.40 s). The chain stays as the shallow-depth flavor
    * because its algebra IS the SQL oracle's replace chain —
    * engine-portability, not speed.
    */
  def bpeEncodeDeep(df: DataFrame, idCol: String, textCol: String,
                    merges: Seq[(String, String)]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ms = merges.toArray
    df.select(col(idCol).cast("long"), Dedup.normText(col(textCol)))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, norm) =>
          val toks0 = norm.split(" ")
          val nWs = toks0.length.toLong
          val toks = applyMergesToTokens(toks0, ms)
          (id, toks.mkString(" "), toks.length.toLong, nWs)
        }
      }.toDF(idCol, "bpe_text", "n_tokens", "n_tokens_ws")
  }

  /** The deep encoder's per-document merge loop (shared by
    * [[bpeEncodeDeep]] and [[bpeTrain]]'s per-round tokenization): each
    * merge, in training order, is one left-to-right non-overlapping
    * pass; a pair-presence set gates each pass so a document touches
    * only the merges whose pair actually occurs in it; new adjacencies
    * created by a merge are added as they form (never pruned -- a stale
    * entry costs one no-op scan, never correctness).
    */
  private[operators] def applyMergesToTokens(
      tokens: Array[String], ms: Array[(String, String)]): Array[String] = {
    val sep = "\u001f"
    var toks = tokens
    val present = new java.util.HashSet[String]()
    var i = 0
    while (i < toks.length - 1) {
      present.add(toks(i) + " " + toks(i + 1)); i += 1
    }
    ms.foreach { case (a, b) =>
      if (present.contains(a + " " + b)) {
        val out = new scala.collection.mutable.ArrayBuffer[String](toks.length)
        val m = a + sep + b
        var j = 0
        while (j < toks.length) {
          if (j < toks.length - 1 && toks(j) == a && toks(j + 1) == b) {
            if (out.nonEmpty) present.add(out.last + " " + m)
            out += m
            j += 2
            if (j < toks.length) present.add(m + " " + toks(j))
          } else { out += toks(j); j += 1 }
        }
        toks = out.toArray
      }
    }
    toks
  }

  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
               terms: Seq[String], k: Int,
               tracker: CacheTracker = CacheTracker.unmanaged): DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    val tok = df.select(col(idCol),
      explode(split(Dedup.normText(col(textCol)), " ")).as("__t"))
    val tfAggs = count(lit(1)).as("dl") +: terms.map(t =>
      sum(when(col("__t") === t, 1L).otherwise(0L)).as(s"tf_$t"))
    val perDoc = tracker.own(
      tok.groupBy(col(idCol)).agg(tfAggs.head, tfAggs.tail: _*)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val totAggs = count(lit(1)).as("n_docs") +: sum(col("dl")).as("tt") +:
      terms.map(t => sum(when(col(s"tf_$t") > 0, 1L).otherwise(0L)).as(s"df_$t"))
    // ONE bounded driver action (a single row off the cached per-doc
    // table — the same bounded-scalar budget as Components' edge count):
    // corpus constants then embed as literals, so the scoring stage is a
    // pure narrow map with no join node at all (a constant-key join's
    // literals fold to `1=1` and re-plan as a nested loop)
    val tot = perDoc.agg(totAggs.head, totAggs.tail: _*).head()
    val nDocs = tot.getLong(0)
    val tt = tot.getLong(1)
    val dfByTerm = terms.zipWithIndex.map { case (t, i) => t -> tot.getLong(2 + i) }.toMap
    val stacked = perDoc.select(col(idCol), col("dl"),
      explode(array(terms.map(t =>
        struct(lit(t).as("term"), col(s"tf_$t").as("tf"),
          lit(dfByTerm(t)).as("df"))): _*)).as("q"))
      .select(col(idCol), col("dl"), col("q.term").as("term"),
        col("q.tf").as("tf"), col("q.df").as("df"))
      .filter(col("tf") > 0)
    val scored = stacked
      .withColumn("n_docs", lit(nDocs))
      .withColumn("sat_1e6", expr(
        s"(1000000 * 22 * tf * $tt) div (10 * tf * $tt + 3 * $tt + 9 * dl * $nDocs)"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("term")).orderBy(col("sat_1e6").desc, col(idCol))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("term"), col(idCol), col("tf"), col("dl"), col("df"),
        col("n_docs"), col("sat_1e6"), col("rnk").cast("int").as("rnk"))
  }

  /** Corpus-conditioned bigram fluency score — the integer-exact cousin
    * of CCNet's LM-perplexity quality filter: a document reads "fluent"
    * when its word-to-word transitions are common in the corpus, and
    * "token salad" when they are rare. Per bigram (w1, w2) the corpus
    * conditional probability is c(w1,w2) / heads(w1), where heads(w1)
    * counts w1 as a bigram HEAD (so the per-head probabilities sum to
    * exactly 1 — a proper conditional distribution, no smoothing knobs);
    * the doc score is the mean over its bigrams, all in floor-division
    * fixed point:
    *
    *   fluency_1e6(d) = ( Σ_bigrams (1 000 000·c2) div c1 ) div n_bigrams
    *
    * — bit-identical in any engine with 64-bit integer division. Docs
    * with fewer than two tokens have no bigrams and emit no row.
    *
    * Scale shape: one exploded pass (fixed-width repartition by doc —
    * the lead window and the final per-doc aggregate share that one
    * exchange), a map-side-combined bigram-count
    * aggregate (vocab²-bounded, usually far smaller), heads derived FROM
    * the bigram counts (no second corpus pass), and count-table joins the
    * planner can broadcast when the vocabulary is small. NOTHING is
    * persisted: a cached plan is AQE-wrapped with unknown partitioning
    * (which would re-add a corpus-wide exchange before the final per-doc
    * aggregate), and a cached count table builds in its own query
    * execution — forcing a SECOND full text shuffle, because AQE stage
    * reuse never crosses executions. Instead every consumer's exchange
    * subtree is kept canonically identical (explicit isnotnull filters
    * where a join would infer them one-sided), so one text shuffle and
    * one bigram-count shuffle serve all branches via ReusedExchange, and
    * each branch re-runs only vocab-bounded final aggregates above the
    * reused map stages.
    */
  def bigramFluency(df: DataFrame, idCol: String, textCol: String,
                    tracker: CacheTracker = CacheTracker.unmanaged): DataFrame = {
    // NOT kernelized (r20, measured): an occurrence-weighted
    // NgramLm.docGramCounts formulation (doc-local __occ collapsing the
    // model joins, algebraically exact under long sums) was tried both
    // narrow-over-scan and above a reused doc exchange, and BOTH
    // measured ~0.4-0.6 s SLOWER than this exploded window at bench
    // scale — the window's per-shingle cost here is already wide and
    // its two consumers stage-reuse the one text shuffle, so the kernel
    // only added exchanges/serialized passes. Negative result recorded
    // in OPTIMIZATION_r20.md.
    val p = df.sparkSession.sparkContext.defaultParallelism
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__pos"))
    // explicit isnotnull filters mirror what the joins below would infer
    // per-branch: stating them once keeps every consumer's exchange
    // subtree canonically identical, so AQE stage-reuses BOTH the text
    // shuffle and the bigram-count shuffle (nothing is persisted — the
    // old cached count table forced a second full text shuffle because
    // its build ran as a separate query execution, and stage reuse never
    // crosses executions)
    val bigrams = df.filter(col(idCol).isNotNull).repartition(p, col(idCol))
      .select(col(idCol),
        posexplode(split(Dedup.normText(col(textCol)), " ")).as(Seq("__pos", "__w1")))
      .withColumn("__w2", lead(col("__w1"), 1).over(w))
      .filter(col("__w1").isNotNull && col("__w2").isNotNull)
      .select(col(idCol), col("__w1"), col("__w2"))
    // un-persisted: both consumers sit above the SAME (w1, w2) count
    // exchange — the exploded partial aggregate (the expensive pass)
    // executes once in the reused map stage; only the vocab-bounded
    // final aggregates re-run per consumer
    val bi = bigrams.groupBy(col("__w1"), col("__w2"))
      .agg(count(lit(1)).as("__c2"))
    val heads = bi.groupBy(col("__w1")).agg(sum(col("__c2")).as("__c1"))
    bigrams
      .join(bi, Seq("__w1", "__w2"))
      .join(heads, Seq("__w1"))
      .select(col(idCol),
        expr("(1000000 * __c2) div __c1").as("__s"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        expr("sum(__s) div count(1)").as("fluency_1e6"))
  }

  /** Gopher-style repetition signals (Rae et al. 2021, Table A1, adapted
    * to single-line token streams): per document,
    *  - `top{2,3}_count` — occurrences of the most frequent word
    *    {bi,tri}gram, and `top{2,3}_chars` — the maximum character mass
    *    (gram length incl. joining spaces × its count) any single gram
    *    covers. Gopher's "fraction of characters in the most frequent
    *    n-gram" is `top{n}_chars / n_chars`; emitting the integer
    *    numerator keeps the oracle float-free and makes the count-tie
    *    behavior explicit (take the gram maximizing coverage).
    *  - `dup5_starts` / `dup5_cov` — occurrences of within-doc REPEATED
    *    5-grams, and the distinct token positions they cover ("fraction
    *    of characters in duplicated n-grams" ⇒ `dup5_cov / n_tokens` in
    *    token space). A doc that stutters the same phrase scores high
    *    even when no other doc shares it — the signal doc-level and
    *    span-level dedup both miss.
    *
    * Scale shape: every signal in the bundle is DOC-LOCAL (within-doc
    * gram counts, within-doc repeated-5-gram coverage), so the whole
    * bundle is one [[PerDoc]] pass behind the fixed-width doc exchange:
    * no windows, no grouped counts, no assembling joins, and gram text
    * never crosses the wire.
    */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val out = Seq("n_tokens", "top2_count", "top2_chars", "top3_count",
      "top3_chars", "dup5_starts", "dup5_cov")
      .map(StructField(_, LongType, nullable = false))
    PerDoc.texts(df, idCol, textCol, out: _*) { (_, text) =>
      val toks = Dedup.normTextJvm(text).split(" ", -1)
      def top(n: Int): (Long, Long) = {
        if (toks.length < n) (0L, 0L)
        else {
          val counts = new java.util.HashMap[String, Long]()
          val sb = new java.lang.StringBuilder
          var i = 0
          while (i <= toks.length - n) {
            sb.setLength(0)
            var j = 0
            while (j < n) { if (j > 0) sb.append(' '); sb.append(toks(i + j)); j += 1 }
            val g = sb.toString
            counts.put(g, counts.get(g) + 1L) // unboxToLong(null) == 0
            i += 1
          }
          var mc = 0L; var mchars = 0L
          val it = counts.entrySet().iterator()
          while (it.hasNext) {
            val e = it.next()
            val c = e.getValue
            if (c > mc) mc = c
            val chars = c * e.getKey.codePointCount(0, e.getKey.length)
            if (chars > mchars) mchars = chars
          }
          (mc, mchars)
        }
      }
      val (t2c, t2ch) = top(2)
      val (t3c, t3ch) = top(3)
      // repeated 5-grams: occurrence total + distinct covered starts
      var dup5Starts = 0L
      var dup5Cov = 0L
      if (toks.length >= 5) {
        val first = new java.util.HashMap[String, Int]()
        val reps = new java.util.HashMap[String, java.util.ArrayList[Int]]()
        val sb = new java.lang.StringBuilder
        var i = 0
        while (i <= toks.length - 5) {
          sb.setLength(0)
          var j = 0
          while (j < 5) { if (j > 0) sb.append(' '); sb.append(toks(i + j)); j += 1 }
          val g = sb.toString
          val r = reps.get(g)
          if (r != null) r.add(i)
          else if (first.containsKey(g)) {
            val lst = new java.util.ArrayList[Int]()
            lst.add(first.get(g)); lst.add(i)
            reps.put(g, lst)
          } else first.put(g, i)
          i += 1
        }
        if (!reps.isEmpty) {
          val covered = new java.util.HashSet[Int]()
          val it = reps.values().iterator()
          while (it.hasNext) {
            val lst = it.next()
            dup5Starts += lst.size
            var x = 0
            while (x < lst.size) {
              val s = lst.get(x)
              var d = 0
              while (d < 5) { covered.add(s + d); d += 1 }
              x += 1
            }
          }
          dup5Cov = covered.size.toLong
        }
      }
      Iterator.single(Seq(toks.length.toLong, t2c, t2ch, t3c, t3ch,
        dup5Starts, dup5Cov))
    }
  }
}
