package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField}

import scala.jdk.CollectionConverters._

/** Exact all-pairs cosine similarity self-join over binary shingle sets
  * with prefix filtering — Bayardo, Ma & Srikant, "Scaling Up All Pairs
  * Similarity Search" (WWW 2007). The sparse-vector complement to the
  * MinHash/SimHash tier: those are probabilistic recall knobs; this is
  * EXACT "every pair with cosine ≥ t, nothing else" — the tool for the
  * final adjudication pass or for corpora where a missed duplicate is
  * not acceptable.
  *
  * For binary sets A, B:  cos(A,B) = |A∩B| / √(|A|·|B|), so
  * cos ≥ t  ⇔  10⁶·|A∩B|² ≥ t‰²·|A|·|B| — the verify is pure BIGINT
  * arithmetic; no float (and no √) ever enters, so any engine replays
  * the result bit-for-bit.
  *
  * Why not the naive join-on-any-shared-element: common elements make
  * it quadratic. Prefix filtering makes the candidate join near-linear
  * on Zipfian data:
  *
  *   1. Rank every element by GLOBAL document frequency, rarest first
  *      (ties by value) — one grouped count.
  *   2. Sort each doc's set by that rank and let only its PREFIX of
  *      length p(x) = |x| − ⌈t²·|x|⌉ + 1 enter the join. The most
  *      common elements live at the END of the ranked order, so they
  *      never generate candidates unless a doc consists of almost
  *      nothing else.
  *   3. Size filter at the join: a valid pair needs
  *      10⁶·min(|A|,|B|) ≥ t‰²·max(|A|,|B|).
  *   4. Dedup candidates to (id_a, id_b) — NARROW, before any payload
  *      — then verify exactly by the join-count over the element rows.
  *
  * Soundness of the prefix: the classic lemma — under one total element
  * order, |A∩B| ≥ α forces the (|A|−α+1)-prefixes of A and B to share
  * an element (fewer than α elements remain outside either prefix). A
  * pair at threshold has overlap α(A,B) = ⌈t·√(|A|·|B|)⌉, and with the
  * size filter (wlog |A| ≤ |B|, so |A| ≥ t²·|B|):
  * t·√(|A|·|B|) ≥ t·√(t²·|B|²) = t²·|B| ≥ t²·|x| for BOTH sides, so
  * indexing each side's (|x| − ⌈t²·|x|⌉ + 1)-prefix misses nothing.
  * Ceilings are computed as (num + den − 1) div den — exact.
  *
  * Scale shape: one element-df exchange (map-side-combinable count),
  * one per-doc exchange for the rank/size windows ((df, element) is a
  * unique sort key per doc, so row_number is deterministic), the
  * candidate self-equi-join on prefix elements (the frequency ranking
  * is exactly what bounds per-key fanout), a pair-dedup exchange
  * carrying only ids + sizes, and a join-count verify: candidate pairs
  * broadcast into the element rows and |A∩B| falls out of one grouped
  * count — no per-doc ARRAY value is ever built, so a million-element
  * set costs rows, not a row. Document payloads are never shuffled —
  * output carries ids + integer evidence, re-attachable by id.
  *
  * Shingling: pass `shingleSize` > 1 to compare word-k-gram sets
  * (the [[Dedup.shinglesJvm]] shingles, one [[PerDoc]] kernel pass).
  * Unigram sets only make sense for vocabulary-rich elements; k ≥ 3
  * shingles are what near-dup adjudication wants.
  */
object AllPairs {

  /** All unordered pairs (id_a < id_b) whose binary-shingle-set cosine
    * is ≥ tPerMille/1000. Output: (id_a, id_b, n_a, n_b, n_common) —
    * all BIGINT. `idCol` must be unique per row.
    */
  def cosinePairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      tPerMille: Int,
      shingleSize: Int = 1,
      tracker: CacheTracker = CacheTracker.unmanaged): DataFrame = {
    // (id, element) duplicates can only arise WITHIN a document, so the
    // distinct is doc-local: one per-doc pass emits each element once,
    // with no window and no distinct aggregate
    val k = shingleSize
    val elems = PerDoc.texts(docs, idCol, textCol, StructField("__el", StringType)) {
      (_, text) =>
        val set = new java.util.LinkedHashSet[String]()
        Dedup.shinglesJvm(Dedup.normTextJvm(text), k).foreach(set.add)
        set.iterator().asScala.map(Seq(_))
    }.withColumnRenamed(idCol, "__id")
    cosinePairsOnElements(elems, tPerMille, tracker)
  }

  /** Core on pre-exploded (doc id, set element) rows — columns must be
    * named (__id, __el) and be distinct pairs. See [[cosinePairs]].
    */
  private[operators] def cosinePairsOnElements(
      elems: DataFrame,
      tPerMille: Int,
      tracker: CacheTracker = CacheTracker.unmanaged): DataFrame = {
    require(tPerMille > 0 && tPerMille < 1000,
      s"threshold must be in (0, 1000) per-mille, got $tPerMille")
    val t2 = tPerMille.toLong * tPerMille // t²·10⁶
    val M = 1000000L

    // materialized ONCE and lineage-cut: FOUR branches consume the
    // distinct element rows on DIFFERENT keys (element-df count, the
    // rank/size windows by id, and the two verify joins by id_a/id_b),
    // so no single exchange can be reused across them and Catalyst does
    // not CSE subplans. The rows are NARROW (id, element). r19: eager
    // localCheckpoint instead of persist — same one-materialization
    // recompute avoidance (MEMORY_AND_DISK blocks either way), but the
    // four consumers now plan against a FLAT LogicalRDD leaf instead of
    // four InMemoryRelation-wrapped copies of the kernel subtree, which
    // removed ~1 s of measured driver planning gap (JobProfile) per run;
    // the checkpoint also keeps the doc-hash partitioning, so the window
    // branch still rides it without a new exchange. (The per-doc ARRAY
    // formulation's cache was 2-8× SLOWER than recompute: object
    // serialization + broadcast-reuse loss. What gets materialized
    // matters more than whether.)
    // tracked (r20): release() frees the checkpoint's blocks — see
    // CacheTracker.ownCheckpointed for the lineage/lifecycle tradeoffs
    val el = tracker.ownCheckpointed(elems.localCheckpoint(true))

    // global document frequency -> total order (df asc, element asc);
    // per-element rank AND set size from two window passes sharing ONE
    // id-hash exchange and ONE (id, df, el) sort — the per-id frame the
    // size window buffers is a doc's element count (tens of rows), and
    // a grouped-count-join alternative was measured SLOWER: it replays
    // the whole shingle subtree once more (Catalyst does not CSE
    // subplans) just to re-derive a count this stage already has in
    // hand. No arrays anywhere: a long doc's set never materializes as
    // a row value.
    val elDf = el.groupBy("__el").agg(count(lit(1)).as("__df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__id").orderBy("__df", "__el")
    val rankedRows = el.join(elDf, "__el")
      .select(col("__id"), col("__el"),
        count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("__id"))
          .as("__n"),
        row_number().over(w).as("__rn"))

    // prefix rows: rn <= n - ceil(t²·n/10⁶) + 1
    val prefix = rankedRows.filter(
      col("__rn") <= col("__n") - expr(s"($t2 * __n + ${M - 1}) div $M") + 1)

    // candidates: prefix-element equi-join + size filter + POSITIONAL
    // filter (PPJoin, Xiao et al. WWW'08): a pair sharing element e at
    // ranks (ra, rb) can overlap at most 1 + min(n_a−ra, n_b−rb) — for
    // the FIRST common element that bound is exact-or-over (no common
    // element precedes it under the one global order), so filtering
    // every row and deduping to pairs afterwards loses nothing while
    // pruning the duplicate-candidate rows BEFORE the dedup exchange.
    // Then NARROW (ids + sizes) into the verify.
    val cand = prefix.select(col("__id").as("id_a"), col("__n").as("n_a"),
        col("__rn").as("__ra"), col("__el"))
      .join(prefix.select(col("__id").as("id_b"), col("__n").as("n_b"),
        col("__rn").as("__rb"), col("__el")), Seq("__el"))
      .filter(col("id_a") < col("id_b"))
      .filter(lit(M) * least(col("n_a"), col("n_b")) >=
        lit(t2) * greatest(col("n_a"), col("n_b")))
      .withColumn("__ub",
        lit(1L) + least(col("n_a") - col("__ra"), col("n_b") - col("__rb")))
      .filter(lit(M) * col("__ub") * col("__ub") >= lit(t2) * col("n_a") * col("n_b"))
      .select("id_a", "id_b", "n_a", "n_b")
      .distinct()

    // exact verify by JOIN-COUNT, not array intersection: candidate
    // pairs (small — that is what the prefix filter is for) broadcast
    // into A's element rows, the (id_b, el) equi-join keeps exactly the
    // shared elements, and one grouped count is |A∩B| — fully
    // codegen'd, and pairs of LARGE sets never build array values
    cand
      .join(el.select(col("__id").as("id_a"), col("__el")), "id_a")
      .join(el.select(col("__id").as("id_b"), col("__el")), Seq("id_b", "__el"))
      .groupBy("id_a", "id_b", "n_a", "n_b")
      .agg(count(lit(1)).as("n_common"))
      .filter(lit(M) * col("n_common") * col("n_common") >=
        lit(t2) * col("n_a") * col("n_b"))
      .select("id_a", "id_b", "n_a", "n_b", "n_common")
  }
}
