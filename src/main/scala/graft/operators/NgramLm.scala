package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField}

import scala.jdk.CollectionConverters._

/** Count-based n-gram language model with stupid backoff — the
  * perplexity-style quality filter a crawl-curation pipeline runs after
  * the cheap heuristics (CCNet's design: train a small LM on a trusted
  * corpus, score every candidate document, keep the fluent tail).
  *
  * Smoothing is *stupid backoff* (Brants et al. 2007, "Large Language
  * Models in Machine Translation") — the one smoothing scheme designed
  * FOR distributed count tables: the score of a bigram occurrence is
  *
  *   S(w2 | w1) = c(w1 w2) / c(w1)          if c(w1 w2) > 0
  *              = α · c(w2) / N              otherwise (α = 2/5)
  *
  * No discounting state, no normalization pass over the vocabulary —
  * each score reads at most two count rows, which is why it scales to
  * models trained on the corpus itself. Scores are NOT probabilities
  * (they don't sum to 1); they rank fluency, which is all a filter
  * needs.
  *
  * Engine-exact arithmetic: every score is the integer
  * `(Scale · c12) div c1` (or `(2 · Scale · cw) div (5 · N)` for the
  * backoff) — BIGINT counts, BIGINT multiply, integer division. Per-doc
  * sums are sums of longs, so Spark and any replaying engine agree
  * bit-for-bit; no float enters the pipeline (a float log-prob sum
  * would be aggregation-order-dependent and unhashable across engines).
  * An unseen w2 (out-of-vocabulary at scoring time) contributes 0 — the
  * harshest deterministic penalty, which is exactly what a fluency
  * filter wants for vocabulary the trusted corpus never produced.
  *
  * Scale shape: training is two grouped counts off one tokenized scan
  * (map-side-combinable — a million repetitions of "of the" ship one
  * partial row per map partition), plus one model-sized join to fold
  * the denominator into the stored score. Scoring explodes the corpus
  * to (id, w1, w2) — narrow, no payload — and left-joins the two model
  * tables on their token keys; a small model broadcasts (AQE decides),
  * a corpus-sized model hash-joins, and either way the corpus text
  * itself is never shuffled. The final per-doc aggregate is one
  * key-hash exchange carrying (id, long).
  */
object NgramLm {

  /** Fixed-point scale: scores live in [0, Scale]. */
  val Scale = 1000000L

  /** Per-partition tagged gram-count partials over normalized token
    * streams (r19, the [[TextAnalysis.adjacentPairCounts]] kernel shape
    * extended to orders 1..maxOrder in ONE tokenize pass): emits
    * (order, w1, w2, w3, partial count) with one row per distinct gram
    * per partition PER FLUSH, so the downstream shuffle is
    * vocabulary-sized — replacing three interpreted arrays_zip/slice
    * explodes and three corpus-sized count exchanges. Tokens cannot
    * contain spaces (they come from whitespace splitting), so the
    * space-joined composite map key is unambiguous.
    *
    * Memory bound (r20): the partial maps FLUSH whenever their combined
    * distinct-gram count reaches `flushEntries` — the rows emit and the
    * maps clear, so a coarse-partitioned or single-file train scan can
    * never concentrate a corpus-sized trigram vocabulary in one task's
    * heap (the maps replace Spark's spillable hash aggregate, so they
    * must bound themselves). Downstream re-aggregates by gram, so a
    * gram split across flushes merges back exactly; the only cost of a
    * flush is duplicate partial rows on the wire. Default cap 2²¹
    * entries ≈ low hundreds of MB of String keys — far below executor
    * heap, far above any per-partition vocabulary a healthy layout
    * produces (flushes simply never fire there).
    */
  private[operators] def gramCountPartials(it: Iterator[String], maxOrder: Int,
      flushEntries: Int = 1 << 21)
      : Iterator[(Int, String, String, String, Long)] = {
    val maps = Array.fill(maxOrder)(new java.util.HashMap[String, java.lang.Long]())
    var entries = 0
    def bump(o: Int, k: String): Unit = {
      val prev = maps(o).get(k)
      if (prev == null) { maps(o).put(k, 1L); entries += 1 }
      else maps(o).put(k, prev.longValue + 1L)
    }
    // snapshot + clear: the buffer materializes one flush's entries (the
    // same bound the maps were just holding), then the maps restart empty
    def drain(): Iterator[(Int, String, String, String, Long)] = {
      val buf = new scala.collection.mutable.ArrayBuffer[
        (Int, String, String, String, Long)](entries)
      var o = 0
      while (o < maxOrder) {
        val mit = maps(o).entrySet().iterator()
        while (mit.hasNext) {
          val e = mit.next()
          val p = e.getKey.split(" ", -1)
          buf += ((o + 1, p(0), if (o >= 1) p(1) else null,
            if (o >= 2) p(2) else null, e.getValue.longValue))
        }
        maps(o).clear()
        o += 1
      }
      entries = 0
      buf.iterator
    }
    val sb = new java.lang.StringBuilder
    (it.map(Option(_)) ++ Iterator(None)).flatMap {
      case Some(norm) =>
        val t = norm.split(" ")
        var i = 0
        while (i < t.length) {
          bump(0, t(i))
          if (maxOrder >= 2 && i + 1 < t.length) {
            sb.setLength(0)
            sb.append(t(i)).append(' ').append(t(i + 1))
            bump(1, sb.toString)
            if (maxOrder >= 3 && i + 2 < t.length) {
              sb.append(' ').append(t(i + 2))
              bump(2, sb.toString)
            }
          }
          i += 1
        }
        if (entries >= flushEntries) drain() else Iterator.empty
      case None => drain()
    }
  }

  /** Exact corpus gram counts for orders 1..maxOrder as ONE checkpointed
    * vocabulary-sized table (__o, w1, w2, w3, c). The eager
    * localCheckpoint is load-bearing twice over: the order filters below
    * would otherwise push past the aggregate and split the shared
    * exchange into per-order copies (re-running the corpus pass once per
    * model table), and the scoring joins' broadcast builds plan against
    * a flat leaf. Lifecycle note (ADVICE r19): the checkpoint's blocks
    * are freed only when the backing RDD is GC'd — trainBigram/
    * trainTrigram expose no tracker because the model tables they
    * return REFERENCE the checkpoint (releasing it would break them);
    * a long-lived session rotates models by dropping references and
    * letting GC reclaim, same as any derived table.
    * The kernel stays NARROW over the scan (no repartition:
    * shuffling the train corpus to parallelize a JVM-fast count pass
    * costs more than it saves at any scale — measured in r19 AND
    * re-measured in r20 with a [[Widen]]-gated exchange, still slower;
    * at 100 TB it would be a full corpus exchange).
    */
  private def gramCounts(docs: DataFrame, textCol: String,
                         maxOrder: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(Dedup.normText(col(textCol)).as("__norm"))
      .filter(col("__norm").isNotNull)
      .as[String]
      .mapPartitions(it => gramCountPartials(it, maxOrder))
      .toDF("__o", "w1", "w2", "w3", "__c")
      .groupBy("__o", "w1", "w2", "w3").agg(sum("__c").as("c"))
      .localCheckpoint(true)
  }

  /** Per-doc gram rows with doc-local OCCURRENCE counts — the scoring
    * input, from one [[PerDoc]] kernel pass (repeated grams collapse to
    * one row with __occ, shrinking the model joins). Output: (idCol,
    * w1[, w2[, w3]], __occ); null ids and null texts drop. NARROW — the
    * pass runs over the scan's own partitioning and never exchanges
    * text: the win is JVM tokenization (the interpreted arrays_zip/slice
    * explode it replaced measured ~0.6 s/task) plus doc-local occurrence
    * collapsing ahead of the model joins. (r20: a [[Widen]]-gated kernel
    * input was tried and REVERTED — the widening exchange plus the extra
    * per-partition partials measured slower than the narrow pass at
    * bench scale, confirming the r19 finding; at 100 TB the scan is wide
    * on its own.)
    */
  private def docGramCounts(docs: DataFrame, idCol: String, textCol: String,
                            order: Int): DataFrame = {
    val rows = PerDoc.map[String](docs, idCol, col(textCol).cast("string"),
        StructField("__g", StringType), StructField("__occ", LongType, false)) { (_, text) =>
      val t = Dedup.normTextJvm(text).split(" ")
      val m = new java.util.HashMap[String, java.lang.Long]()
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i + order - 1 < t.length) {
        sb.setLength(0)
        var j = 0
        while (j < order) {
          if (j > 0) sb.append(' '); sb.append(t(i + j)); j += 1
        }
        val k = sb.toString
        val prev = m.get(k)
        m.put(k, if (prev == null) 1L else prev.longValue + 1L)
        i += 1
      }
      m.asScala.iterator.map { case (k, c) => Seq(k, c.longValue) }
    }
    val parts = split(col("__g"), " ")
    rows.select(col(idCol) +: (0 until order).map(j =>
      parts.getItem(j).as(s"w${j + 1}")) :+ col("__occ"): _*)
  }

  /** Train a stupid-backoff bigram model over `textCol`.
    *
    * Returns (bigram table, unigram table):
    *   - bigram:  (w1, w2, c12, bi_score)  with bi_score = (Scale·c12) div c(w1)
    *   - unigram: (w, cw, uni_score)       with uni_score = (2·Scale·cw) div (5·N)
    *
    * The denominators are folded in at train time so scoring never
    * recomputes them — the stored model is the reusable artifact a
    * pipeline scores many candidate batches against.
    */
  def trainBigram(docs: DataFrame, textCol: String): (DataFrame, DataFrame) = {
    // r19: one kernel pass + one vocabulary-sized exchange for BOTH
    // count tables (was: two interpreted explodes + two corpus-sized
    // count exchanges); see gramCounts
    val counts = gramCounts(docs, textCol, maxOrder = 2)
    val uniCounts = counts.filter(col("__o") === 1)
      .select(col("w1").as("w"), col("c").as("cw"))
    val total = uniCounts.agg(sum("cw").as("__total"))
    val uni = uniCounts.crossJoin(broadcast(total))
      .select(col("w"), col("cw"),
        expr(s"(2 * ${Scale}L * cw) div (5 * __total)").as("uni_score"))
    val bi = counts.filter(col("__o") === 2)
      .select(col("w1"), col("w2"), col("c").as("c12"))
      .join(uniCounts.select(col("w").as("w1"), col("cw").as("__c1")), "w1")
      .select(col("w1"), col("w2"), col("c12"),
        expr(s"(${Scale}L * c12) div __c1").as("bi_score"))
    (bi, uni)
  }

  /** Train the order-3 stupid-backoff model: returns (trigram table,
    * bigram table, unigram table). The backoff CHAIN is folded into the
    * stored scores so scoring is three left joins and one coalesce:
    *
    *   tri_score = (Scale·c123) div c(w1 w2)
    *   bi2_score = (2·Scale·c23) div (5·c(w2))        — α = 2/5
    *   uni2_score = (4·Scale·c3) div (25·N)           — α²
    *
    * (bigram/unigram tables here are keyed for the TRIGRAM backoff
    * path — (w2, w3) context and α²-weighted w3 — and are distinct
    * artifacts from [[trainBigram]]'s.)
    */
  def trainTrigram(docs: DataFrame, textCol: String)
      : (DataFrame, DataFrame, DataFrame) = {
    // r19: one kernel pass + one vocabulary-sized exchange for all THREE
    // count tables (was: three interpreted explodes + three corpus-sized
    // count exchanges); see gramCounts
    val counts = gramCounts(docs, textCol, maxOrder = 3)
    val uniCounts = counts.filter(col("__o") === 1)
      .select(col("w1").as("w"), col("c").as("cw"))
    val total = uniCounts.agg(sum("cw").as("__total"))
    val uni = uniCounts.crossJoin(broadcast(total))
      .select(col("w"), col("cw"),
        expr(s"(4 * ${Scale}L * cw) div (25 * __total)").as("uni2_score"))
    val biCounts = counts.filter(col("__o") === 2)
      .select(col("w1"), col("w2"), col("c").as("c12"))
    val bi = biCounts
      .join(uniCounts.select(col("w").as("w1"), col("cw").as("__c1")), "w1")
      .select(col("w1"), col("w2"), col("c12"),
        expr(s"(2 * ${Scale}L * c12) div (5 * __c1)").as("bi2_score"))
    val tri = counts.filter(col("__o") === 3)
      .select(col("w1"), col("w2"), col("w3"), col("c").as("c123"))
      .join(biCounts.select(col("w1"), col("w2").as("w2"), col("c12").as("__c12")),
        Seq("w1", "w2"))
      .select(col("w1"), col("w2"), col("w3"), col("c123"),
        expr(s"(${Scale}L * c123) div __c12").as("tri_score"))
    (tri, bi, uni)
  }

  /** Score docs against an order-3 model: per doc, the sum over
    * adjacent trigram occurrences of
    * coalesce(tri_score(w1w2w3), bi2_score(w2w3), uni2_score(w3), 0).
    * Output: (idCol, n_trigrams, score_sum, score_avg) — all BIGINT.
    * Docs with a null id are dropped, whatever the id column's type.
    */
  def scoreTrigram(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      tri: DataFrame,
      bi: DataFrame,
      uni: DataFrame): DataFrame = {
    val reserved = Set("w1", "w2", "w3", "tri_score", "bi2_score",
      "uni2_score", "n_trigrams", "score_sum", "score_avg", "__s",
      "__g", "__occ") // __g/__occ: docGramCounts kernel internals
    require(!reserved.contains(idCol),
      s"idCol '$idCol' collides with an internal/output column of scoreTrigram")
    // r19: doc-local occurrence counts from the per-doc kernel — a
    // repeated trigram joins the model ONCE and re-enters the sums with
    // weight __occ; Σ __occ = the old per-occurrence count and
    // Σ __occ·score = the old per-occurrence sum, exactly
    docGramCounts(docs, idCol, textCol, order = 3)
      .join(tri.select(col("w1"), col("w2"), col("w3"), col("tri_score")),
        Seq("w1", "w2", "w3"), "left")
      .join(bi.select(col("w1").as("w2"), col("w2").as("w3"), col("bi2_score")),
        Seq("w2", "w3"), "left")
      .join(uni.select(col("w").as("w3"), col("uni2_score")), Seq("w3"), "left")
      .select(col(idCol), col("__occ"),
        coalesce(col("tri_score"), col("bi2_score"), col("uni2_score"), lit(0L)).as("__s"))
      .groupBy(idCol)
      .agg(sum("__occ").as("n_trigrams"),
        sum(col("__occ") * col("__s")).as("score_sum"))
      .withColumn("score_avg", expr("score_sum div n_trigrams"))
  }

  /** Score every document of `docs` against a trained model: one row
    * per doc with at least one bigram — (idCol, n_bigrams, score_sum,
    * score_avg), all BIGINT, score_avg = score_sum div n_bigrams in
    * [0, Scale]. Higher = more fluent under the training corpus. Docs
    * with a null id are dropped, whatever the id column's type.
    */
  def scoreBigram(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      bi: DataFrame,
      uni: DataFrame): DataFrame = {
    val reserved = Set("w1", "w2", "bi_score", "uni_score",
      "n_bigrams", "score_sum", "score_avg", "__s",
      "__g", "__occ") // __g/__occ: docGramCounts kernel internals
    require(!reserved.contains(idCol),
      s"idCol '$idCol' collides with an internal/output column of scoreBigram")
    // r19: doc-local occurrence counts — see scoreTrigram
    docGramCounts(docs, idCol, textCol, order = 2)
      .join(bi.select(col("w1"), col("w2"), col("bi_score")), Seq("w1", "w2"), "left")
      .join(uni.select(col("w").as("w2"), col("uni_score")), Seq("w2"), "left")
      .select(col(idCol), col("__occ"),
        coalesce(col("bi_score"), col("uni_score"), lit(0L)).as("__s"))
      .groupBy(idCol)
      .agg(sum("__occ").as("n_bigrams"),
        sum(col("__occ") * col("__s")).as("score_sum"))
      .withColumn("score_avg", expr("score_sum div n_bigrams"))
  }
}
