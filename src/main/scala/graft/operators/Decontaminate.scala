package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark decontamination: find corpus documents that share word
  * n-grams with an evaluation set — the standard pre-training hygiene
  * check (a training doc containing an eval benchmark's text inflates
  * downstream scores).
  *
  * Scale shape: both sides reduce to DISTINCT (id, md5(n-gram)) rows
  * before anything shuffles, so the join moves 16-byte digests — never
  * text. The eval side is benchmark-sized (thousands of docs) regardless
  * of corpus scale, so at 100 TB it broadcast-joins and the corpus grams
  * stream past it without a corpus shuffle; the digest `distinct`s reuse
  * the shingle stage's doc-id clustering for their first phase.
  */
object Decontaminate {

  /** Per-corpus-doc count of distinct `n`-gram digests shared with the
    * eval set. Docs shorter than `n` tokens contribute their whole text
    * as one gram (same fallback as the minhash shingler — matching a
    * whole short eval doc verbatim is exactly what should flag).
    * Returns (idCol, n_overlap) for docs with at least one shared gram.
    */
  def overlapCounts(corpus: DataFrame, eval: DataFrame, idCol: String,
                    textCol: String, n: Int = 8): DataFrame = {
    // digest rows via the per-doc kernel face (Dedup.distinctGramDigests);
    // the eval side still reduces to a GLOBAL distinct digest set
    // (benchmark-sized)
    val evalGrams = Dedup.distinctGramDigests(
      eval.select(col(idCol), col(textCol)), idCol, textCol, n)
      .select(col("__g")).distinct()
    val corpusGrams = Dedup.distinctGramDigests(
      corpus.select(col(idCol), col(textCol)), idCol, textCol, n)
    corpusGrams.join(evalGrams, "__g")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_overlap"))
  }

  /** The flip-side report: per EVAL doc, how much of it leaked into the
    * corpus — the "is this benchmark compromised" table (the per-eval-set
    * overlap report of GPT-3 appendix C / PaLM appendix): distinct
    * `n`-gram count, how many of those grams occur anywhere in the
    * corpus, and the integer-permille fraction. Every eval doc emits a
    * row (0 when clean), so the report doubles as the eval manifest.
    *
    * Scale shape — the corpus is only ever STREAMED: the distinct
    * (eval_id, digest) table is benchmark-sized and broadcasts; corpus
    * gram digests probe it map-side with no corpus shuffle or distinct,
    * and only matching digests (bounded by contaminated OCCURRENCES, ~0
    * for a clean corpus) reach the eval-bounded dedup + count. Same
    * digest discipline as [[overlapCounts]]: 16-byte md5s, never text.
    */
  def evalContamination(corpus: DataFrame, eval: DataFrame, idCol: String,
                        textCol: String, n: Int = 8): DataFrame = {
    val evalGrams = Dedup.distinctGramDigests(
      eval.select(col(idCol), col(textCol)), idCol, textCol, n)
    val totals = evalGrams.groupBy(col(idCol)).agg(count(lit(1)).as("n_grams"))
    // per-doc-distinct corpus digests (the downstream hit set is distinct
    // anyway, so doc-local dedup only shrinks the probe volume)
    val corpusDigests = Dedup.distinctGramDigests(
      corpus.select(col(idCol), col(textCol)), idCol, textCol, n)
      .select(col("__g"))
    val hits = corpusDigests.join(broadcast(evalGrams), "__g")
      .select(col(idCol), col("__g")).distinct()
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_contaminated"))
    totals.join(hits, Seq(idCol), "left")
      .select(col(idCol), col("n_grams"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        expr("coalesce(n_contaminated, 0) * 1000 div n_grams")
          .as("contaminated_permille"))
  }

  /** SEMANTIC decontamination — the embedding-level complement of the
    * n-gram check: a paraphrased or lightly-edited eval document shares
    * no 8-grams with its source but still sits at cosine ≈ 1 in
    * embedding space, which is exactly the leak the n-gram sweep
    * misses. Flags every corpus row whose embedding is within
    * `threshold` cosine of ANY eval vector, with the match count and
    * the smallest matching eval id for triage.
    *
    * Scale shape: an eval set is benchmark-sized (thousands of rows)
    * regardless of corpus scale, so the DEFAULT flavor broadcasts it
    * and streams the corpus past — a broadcast nested-loop of |eval|
    * codegen'd dot products per corpus row, ZERO corpus shuffle, zero
    * recall loss (this is the flagship: exactness is the point of a
    * contamination gate). For eval sets big enough that |eval| dots per
    * row hurt, pass IVF `centroids`: both sides key by nearest-centroid
    * cell and the broadcast join only meets same-cell candidates —
    * |eval|/nlist work per row at SemDeDup's same-cell recall. The
    * post-filter aggregate shuffles only FLAGGED rows (bounded by
    * contamination, ~0 on a clean corpus).
    */
  def semanticFlags(corpus: DataFrame, eval: DataFrame, idCol: String,
                    vecCol: String, threshold: Double,
                    centroids: Option[Array[Array[Double]]] = None): DataFrame = {
    val reserved = Set("__eid", "__evec", "__cell")
    val clash = corpus.columns.toSet.intersect(reserved)
    require(clash.isEmpty, s"corpus must not contain reserved columns $clash")
    val ev = eval.select(col(idCol).as("__eid"), col(vecCol).as("__evec"))
    val joined = centroids match {
      case None => corpus.crossJoin(broadcast(ev))
      case Some(cs) =>
        corpus.withColumn("__cell", Similarity.ivfCellCol(col(vecCol), cs))
          .join(broadcast(ev.withColumn("__cell",
            Similarity.ivfCellCol(col("__evec"), cs))), "__cell")
    }
    joined
      .filter(Similarity.cosine(col(vecCol), col("__evec")) >= threshold)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_eval_matches"),
        min(col("__eid")).as("first_eval_id"))
  }
}
