package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The exploded SQL formulations of the per-document kernels — the
  * parity reference the library's [[PerDoc]] kernels are pinned to.
  *
  * Each is the posexplode + lead-window + hash-aggregate pipeline the
  * kernel replaced (r19/r20), built only from Spark expressions
  * (regexp_replace / trim / lower / xxhash64 / md5), so a kernel that
  * agrees with it agrees with the engine's own string and hash
  * primitives. Each takes its operator's arguments and returns its
  * operator's columns. Two departures from the historical fallbacks,
  * both to state the kernels' contract rather than an accident of the
  * old code: null-id rows are dropped up front (the fallbacks grouped
  * them into a null-id row), and per-doc aggregates group by id, so the
  * corpora compared must have unique ids.
  */
object ExplodedOracle {

  private def keyed(df: DataFrame, idCol: String): DataFrame =
    df.filter(col(idCol).isNotNull)

  private def byDoc(df: DataFrame, idCol: String): DataFrame =
    keyed(df, idCol).repartition(df.sparkSession.sparkContext.defaultParallelism, col(idCol))

  /** (id, `__sh`) rows, one per shingle occurrence: k consecutive tokens
    * of [[Dedup.normText]] joined by one space; a doc shorter than k
    * tokens contributes its whole text as a single shingle.
    */
  def explodedShingles(df: DataFrame, idCol: String, textCol: String,
                       shingleSize: Int): DataFrame = {
    val toks = split(Dedup.normText(col(textCol)), " ")
    val posTok = byDoc(df, idCol)
      .select(col(idCol), size(toks).as("__n"),
        posexplode(toks).as(Seq("__pos", "__t")))
    if (shingleSize == 1) posTok.select(col(idCol), col("__t").as("__sh"))
    else {
      val w = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
      val leads = (1 until shingleSize).map(j => lead(col("__t"), j).over(w))
      posTok
        .withColumn("__sh", concat_ws(" ", (col("__t") +: leads): _*))
        .withColumn("__last", leads.last) // window exprs can't sit in filter()
        .filter(col("__last").isNotNull ||
          (col("__n") < shingleSize && col("__pos") === 0))
        .select(col(idCol), col("__sh"))
    }
  }

  /** One (id, `fp`) row per kept winnowing window minimum (repeats
    * kept): shingle hash = first 8 md5 hex chars as a BIGINT, window
    * minima over full windows only.
    */
  def winnowFingerprintRows(df: DataFrame, idCol: String, textCol: String,
                            shingleSize: Int = 4, window: Int = 5): DataFrame = {
    val toks = split(Dedup.normText(col(textCol)), " ")
    val w = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    val posTok = byDoc(df, idCol)
      .select(col(idCol), size(toks).as("__n"),
        posexplode(toks).as(Seq("__pos", "__t")))
    val leads = (1 until shingleSize).map(j => lead(col("__t"), j).over(w))
    val shingled = posTok
      .withColumn("__sh",
        if (shingleSize == 1) col("__t")
        else concat_ws(" ", (col("__t") +: leads): _*))
      .filter(col("__pos") <= col("__n") - shingleSize)
      .select(col(idCol), col("__pos"),
        conv(substring(md5(col("__sh")), 1, 8), 16, 10).cast("long").as("__h"))
    val frame = w.rowsBetween(Window.currentRow, window - 1)
    shingled
      .withColumn("__m", count(lit(1)).over(Window.partitionBy(col(idCol))))
      .withColumn("__win_min", min(col("__h")).over(frame))
      .filter(col("__pos") <= col("__m") - window)
      .select(col(idCol), col("__win_min").as("fp"))
  }

  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         shingleSize: Int = 4, window: Int = 5): DataFrame =
    winnowFingerprintRows(df, idCol, textCol, shingleSize, window)
      .groupBy(col(idCol))
      .agg(size(collect_set(col("fp"))).cast("long").as("n_fp"),
        md5(concat_ws(",",
          sort_array(collect_set(col("fp"))).cast("array<string>")))
          .as("fp_md5"))

  /** Every pair sharing at least `minShared` distinct fingerprints, by a
    * plain self-join — [[Dedup.winnowOverlapPairs]] where no bucket
    * exceeds its all-pairs tier.
    */
  def winnowOverlapPairs(df: DataFrame, idCol: String, textCol: String,
                         shingleSize: Int, window: Int, minShared: Long): DataFrame = {
    val r = winnowFingerprintRows(df, idCol, textCol, shingleSize, window).distinct()
    r.as("a").join(r.as("b"),
        col("a.fp") === col("b.fp") && col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** [[Dedup.exciseDuplicateSpans]] with its grams from the lead window. */
  def exciseDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
                           k: Int): DataFrame = {
    val based = df.select(col(idCol),
      split(Dedup.normText(col(textCol)), " ").as("__ts"))
      .filter(col(idCol).isNotNull && col("__ts").isNotNull && size(col("__ts")) > 0)
      .repartition(df.sparkSession.sparkContext.defaultParallelism, col(idCol))
    val w = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    val leads = (1 until k).map(j => lead(col("__t"), j).over(w))
    val grams = based
      .select(col(idCol), posexplode(col("__ts")).as(Seq("__pos", "__t")))
      .withColumn("__g", unhex(md5(concat_ws(" ", (col("__t") +: leads): _*))))
      .withColumn("__last", leads.last)
      .filter(col("__last").isNotNull)
      .select(col(idCol), col("__pos"), col("__g"))
    val dup = grams.groupBy(col("__g"))
      .agg(count(lit(1)).as("__c")).filter(col("__c") > 1)
      .select(col("__g"))
    val starts = grams.join(dup, "__g")
      .groupBy(col(idCol))
      .agg(sort_array(collect_set(col("__pos"))).as("__starts"))
    based.join(starts, Seq(idCol), "left")
      .withColumn("__st", coalesce(col("__starts"), array().cast("array<int>")))
      .withColumn("__cov", array_distinct(flatten(
        transform(col("__st"), s => sequence(s, s + lit(k - 1))))))
      .select(col(idCol),
        size(col("__ts")).cast("long").as("n_tokens"),
        size(col("__cov")).cast("long").as("n_removed"),
        concat_ws(" ", filter(col("__ts"),
          (_, i) => !array_contains(col("__cov"), i))).as("clean_text"))
  }

  def distinctGramDigests(df: DataFrame, idCol: String, textCol: String,
                          shingleSize: Int): DataFrame =
    explodedShingles(df, idCol, textCol, shingleSize)
      .select(col(idCol), md5(col("__sh")).as("__g")).distinct()

  def shingleRepeatStats(df: DataFrame, idCol: String, textCol: String,
                         shingleSize: Int): DataFrame =
    explodedShingles(df, idCol, textCol, shingleSize)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("total_shingles"),
        countDistinct(col("__sh")).as("distinct_shingles"))

  /** [[TextAnalysis.boilerplateStats]] over the exploded digests. */
  def boilerplateStats(df: DataFrame, idCol: String, textCol: String,
                       shingleSize: Int, minDocs: Int): DataFrame =
    distinctGramDigests(df, idCol, textCol, shingleSize)
      .withColumn("__gdf", count(lit(1)).over(Window.partitionBy(col("__g"))))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__gdf") >= minDocs, 1L).otherwise(0L)).as("n_boiler"))
      .withColumn("boiler_permille", expr("(n_boiler * 1000) div n_grams"))

  /** xxhash64 minhash lanes: `lane_i = h1 XOR rotl(h2, i)` with
    * h1 = xxhash64(sh), h2 = xxhash64(1, sh).
    */
  private def kmLanes(sh: Column, numHashes: Int): Seq[Column] = {
    val h1 = xxhash64(sh)
    val h2 = xxhash64(lit(1), sh)
    (0 until numHashes).map {
      case 0 => h1
      case i => h1.bitwiseXOR(
        shiftleft(h2, i).bitwiseOR(shiftrightunsigned(h2, 64 - i)))
    }
  }

  def minhashSignature(df: DataFrame, idCol: String, textCol: String,
                       shingleSize: Int, numHashes: Int): DataFrame =
    explodedShingles(df, idCol, textCol, shingleSize)
      .groupBy(col(idCol))
      .agg(array(kmLanes(col("__sh"), numHashes).map(min): _*).as("sig"))

  /** md5 lane i = lexicographic min of the digest's i-th 4-hex-char slice. */
  private def md5LaneAggs(numHashes: Int): Seq[Column] =
    (0 until numHashes).map(i => min(substring(col("__d"), i * 4 + 1, 4)).as(s"mh$i"))

  def minhashSignatureMd5(df: DataFrame, idCol: String, textCol: String,
                          shingleSize: Int, numHashes: Int): DataFrame = {
    val aggs = md5LaneAggs(numHashes)
    explodedShingles(df, idCol, textCol, shingleSize)
      .select(col(idCol), md5(col("__sh")).as("__d"))
      .groupBy(col(idCol))
      .agg(aggs.head, aggs.tail: _*)
  }

  def minhashSignatureMd5WithSets(df: DataFrame, idCol: String, textCol: String,
                                  shingleSize: Int, numHashes: Int): DataFrame = {
    val aggs = md5LaneAggs(numHashes) :+ collect_set(col("__sh")).as("sh")
    explodedShingles(df, idCol, textCol, shingleSize)
      .select(col(idCol), col("__sh"), md5(col("__sh")).as("__d"))
      .groupBy(col(idCol))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Pairs sharing a signature band whose xxhash64 shingle-digest sets
    * reach `threshold` jaccard, by a plain self-join —
    * [[Dedup.minhashNearDupPairs]] where no bucket exceeds its all-pairs
    * tier.
    */
  def minhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          shingleSize: Int, numHashes: Int, bands: Int,
                          threshold: Double): DataFrame = {
    val r = numHashes / bands
    val base = explodedShingles(df, idCol, textCol, shingleSize)
      .groupBy(col(idCol))
      .agg(array(kmLanes(col("__sh"), numHashes).map(min): _*).as("sig"),
        collect_set(xxhash64(col("__sh"))).as("shset"))
    val a = base.select(col(idCol).as("id_a"), col("sig").as("sig_a"), col("shset").as("sh_a"))
    val b = base.select(col(idCol).as("id_b"), col("sig").as("sig_b"), col("shset").as("sh_b"))
    val shareBand = (0 until bands).map(i =>
      slice(col("sig_a"), i * r + 1, r) === slice(col("sig_b"), i * r + 1, r)).reduce(_ || _)
    a.join(b, col("id_a") < col("id_b") && shareBand)
      .select(col("id_a"), col("id_b"), Dedup.jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  private def pow2(j: Int): Column = lit(if (j == 63) Long.MinValue else 1L << j)

  /** Count-weighted distinct-token votes (±count per distinct token ≡ ±1
    * per occurrence) on xxhash64 bits.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = byDoc(df, idCol)
      .select(col(idCol), explode(split(Dedup.normText(col(textCol)), " ")).as("__t"))
      .groupBy(col(idCol), col("__t")).agg(count(lit(1)).as("__c"))
      .withColumn("__h", xxhash64(col("__t")))
    val votes = (0 until 64).map { j =>
      sum(when(shiftright(col("__h"), j).bitwiseAND(1) === 1, col("__c"))
        .otherwise(-col("__c"))).as(s"v$j")
    }
    val agg = tok.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
    val bits = (0 until 64).map(j => when(col(s"v$j") > 0, lit(1L) * pow2(j)).otherwise(0L))
    agg.select(col(idCol), bits.reduce(_ + _).as("simhash"))
  }

  /** The portable SimHash: votes on the first 16 hex chars of md5(token),
    * nibbles decoded as `ascii(c) - (c >= 'a' ? 87 : 48)`.
    */
  def simhashMd5(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = byDoc(df, idCol)
      .select(col(idCol), explode(split(Dedup.normText(col(textCol)), " ")).as("__t"))
      .groupBy(col(idCol), col("__t")).agg(count(lit(1)).as("__c"))
      .select(col(idCol), col("__c"), substring(md5(col("__t")), 1, 16).as("__dg"))
    val nibs = (0 until 16).map { h =>
      val a = ascii(substring(col("__dg"), h + 1, 1))
      when(a >= 97, a - 87).otherwise(a - 48).as(s"__n$h")
    }
    val withNibs = tok.select(col(idCol) +: col("__c") +: nibs: _*)
    val votes = (0 until 64).map { j =>
      sum(when(shiftright(col(s"__n${j / 4}"), j % 4).bitwiseAND(1) === 1, col("__c"))
        .otherwise(-col("__c"))).as(s"v$j")
    }
    val agg = withNibs.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
    val hexChars = (0 until 16).map { h =>
      val nibVal = (0 until 4).map(b =>
        when(col(s"v${4 * h + b}") > 0, lit(1 << b)).otherwise(lit(0))).reduce(_ + _)
      substr(lit("0123456789abcdef"), nibVal + 1, lit(1))
    }
    agg.select(col(idCol), concat(hexChars: _*).as("simhash_hex"))
  }

  /** [[TextAnalysis.repetitionSignals]]: lead-window grams, grouped counts
    * and the assembling joins.
    */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val posTok = byDoc(df.select(col(idCol),
        split(Dedup.normText(col(textCol)), " ").as("__ts")), idCol)
      .select(col(idCol), posexplode(col("__ts")).as(Seq("__pos", "__t")))
    val w = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    val l = (1 to 4).map(j => lead(col("__t"), j).over(w))
    // concat_ws SKIPS nulls (a 1-gram is not a truncated 5-gram), so each
    // gram column is null-guarded on its last lead
    val grams = posTok
      .withColumn("__g2", when(l(0).isNotNull, concat_ws(" ", col("__t"), l(0))))
      .withColumn("__g3", when(l(1).isNotNull, concat_ws(" ", col("__t"), l(0), l(1))))
      .withColumn("__g5", when(l(3).isNotNull, concat_ws(" ", (col("__t") +: l): _*)))
      .select(col(idCol), col("__pos"), col("__g2"), col("__g3"), col("__g5"))
    def topN(gc: String, out: String): DataFrame =
      grams.filter(col(gc).isNotNull)
        .groupBy(col(idCol), col(gc)).agg(count(lit(1)).as("__c"))
        .groupBy(col(idCol)).agg(
          max(col("__c")).as(s"${out}_count"),
          max(col("__c") * length(col(gc)).cast("long")).as(s"${out}_chars"))
    val dup5 = grams.filter(col("__g5").isNotNull)
      .groupBy(col(idCol), col("__g5"))
      .agg(count(lit(1)).as("__c"), collect_list(col("__pos")).as("__ps"))
      .filter(col("__c") > 1)
      .groupBy(col(idCol))
      .agg(sum(col("__c")).as("dup5_starts"),
        flatten(collect_list(col("__ps"))).as("__starts"))
      .select(col(idCol), col("dup5_starts"),
        size(array_distinct(flatten(transform(col("__starts"),
          s => sequence(s, s + lit(4)))))).cast("long").as("dup5_cov"))
    posTok.groupBy(col(idCol))
      .agg((max(col("__pos")) + 1).cast("long").as("n_tokens"))
      .join(topN("__g2", "top2"), Seq(idCol), "left")
      .join(topN("__g3", "top3"), Seq(idCol), "left")
      .join(dup5, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("top2_count"), lit(0L)).as("top2_count"),
        coalesce(col("top2_chars"), lit(0L)).as("top2_chars"),
        coalesce(col("top3_count"), lit(0L)).as("top3_count"),
        coalesce(col("top3_chars"), lit(0L)).as("top3_chars"),
        coalesce(col("dup5_starts"), lit(0L)).as("dup5_starts"),
        coalesce(col("dup5_cov"), lit(0L)).as("dup5_cov"))
  }

  /** [[AllPairs.cosinePairs]] over exploded, distinct shingle elements. */
  def cosinePairs(docs: DataFrame, idCol: String, textCol: String,
                  tPerMille: Int, shingleSize: Int): DataFrame =
    AllPairs.cosinePairsOnElements(
      explodedShingles(docs, idCol, textCol, shingleSize)
        .select(col(idCol).as("__id"), col("__sh").as("__el")).distinct(),
      tPerMille)

  /** Adjacent-gram rows (id, w1 .. w`order`) of lower-cased whitespace
    * tokens, one per occurrence: the token array zipped with itself
    * shifted; docs shorter than `order` tokens vanish.
    */
  private def gramRows(docs: DataFrame, idCol: String, textCol: String,
                       order: Int): DataFrame = {
    val t = split(lower(TextAnalysis.normWs(col(textCol))), " ")
    val len = greatest(size(t) - (order - 1), lit(0))
    val g = arrays_zip((1 to order).map(j => slice(t, lit(j), len).as(s"w$j")): _*)
    keyed(docs, idCol).select(col(idCol), explode(g).as("g"))
      .select(col(idCol) +: (1 to order).map(j => col(s"g.w$j").as(s"w$j")): _*)
  }

  /** [[NgramLm.scoreTrigram]], one model lookup per trigram occurrence. */
  def scoreTrigram(docs: DataFrame, idCol: String, textCol: String,
                   tri: DataFrame, bi: DataFrame, uni: DataFrame): DataFrame =
    gramRows(docs, idCol, textCol, 3)
      .join(tri.select(col("w1"), col("w2"), col("w3"), col("tri_score")),
        Seq("w1", "w2", "w3"), "left")
      .join(bi.select(col("w1").as("w2"), col("w2").as("w3"), col("bi2_score")),
        Seq("w2", "w3"), "left")
      .join(uni.select(col("w").as("w3"), col("uni2_score")), Seq("w3"), "left")
      .select(col(idCol),
        coalesce(col("tri_score"), col("bi2_score"), col("uni2_score"), lit(0L)).as("__s"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_trigrams"), sum(col("__s")).as("score_sum"))
      .withColumn("score_avg", expr("score_sum div n_trigrams"))

  /** [[NgramLm.scoreBigram]], one model lookup per bigram occurrence. */
  def scoreBigram(docs: DataFrame, idCol: String, textCol: String,
                  bi: DataFrame, uni: DataFrame): DataFrame =
    gramRows(docs, idCol, textCol, 2)
      .join(bi.select(col("w1"), col("w2"), col("bi_score")), Seq("w1", "w2"), "left")
      .join(uni.select(col("w").as("w2"), col("uni_score")), Seq("w2"), "left")
      .select(col(idCol), coalesce(col("bi_score"), col("uni_score"), lit(0L)).as("__s"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"), sum(col("__s")).as("score_sum"))
      .withColumn("score_avg", expr("score_sum div n_bigrams"))
}
