package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Multi-evidence entity resolution — the production composition on top
  * of the engine's three blocking primitives: [[FuzzyJoin]]'s
  * edit-distance deletion-neighborhood, [[Phonetic]]'s sound-alike key
  * equality, and an embedding-similarity channel ([[Similarity]]'s
  * quantized vectors). One blocking pass alone mis-handles real name
  * data: edit-distance blocking admits one-letter-apart but DIFFERENT
  * entities ("nmab"/"nmaf") and misses multi-edit systematic variants
  * (vowel tails), phonetic keys collapse sound-alike strangers, and
  * embeddings alone have no blocking story (all-pairs). The production
  * shape is: union the CANDIDATES from every cheap blocking pass, score
  * each candidate with EVERY evidence channel, calibrate scores per
  * provenance ([[Stats.rankCalibrate]] — raw scores are not comparable
  * across passes), threshold, and resolve with connected components.
  *
  * Scale shape: everything here follows FuzzyJoin's distinct-strings
  * discipline — pair generation runs over each side's DISTINCT strings
  * (the name universe, orders of magnitude below the record count);
  * records re-attach by string equality at the end. Evidence vectors
  * join in by entity key; the scoring joins are narrow-keyed.
  *
  * Two paths build the candidate-pair ledger, with the same rows and
  * schema. Above [[LocalThreshold]] non-null string rows, the blocking
  * passes run distributed: [[FuzzyJoin]]'s deletion-key join and
  * [[Phonetic]]'s segmented bucket join, each a tree of distincts,
  * key joins and a levenshtein verify, merged by one group-by. At or
  * under it — decided by one bounded collect of the strings, which
  * then carries them — the ledger is built on the driver: every
  * name's blocking keys come from the SAME Column expressions,
  * projected over a LocalRelation (the optimizer's
  * ConvertToLocalRelation evaluates the projection, so no job runs),
  * the keys meet in driver hash maps, each candidate is verified with
  * the function Spark's `levenshtein(l, r, t)` evaluates, and the
  * result is a LocalRelation. A few hundred names are pure scheduling
  * on the distributed path (three shuffle distincts of the same
  * universe, broadcast builds, and the planning of two blocking
  * trees); the driver path pays one job per input, its bounded
  * collect.
  */
object EntityResolution {

  /** Non-null string rows up to which [[candidatePairs]] and
    * [[candidatePairsIncrement]] build the pair ledger on the driver
    * (see the object doc). Measured with `graft.tools.ErScaleProbe`
    * (`local[4]` on a 4-core host, maxEdit 1, maxPhoneticDist 2; wall
    * seconds driver path / distributed): at 5.4k distinct names 2.6 /
    * 5.0 (dense) and 3.2 / 4.0 (diverse) in a 4 GiB heap, 2.8 / 4.6
    * and 3.7 / 4.7 in 1 GiB; at 40k dense names (2.5M pairs) 92 / 92
    * in 1 GiB; at 55k names 74 / 79 (dense, 1.9M pairs) and 92 / 101
    * (diverse, 3.1M pairs) in 4 GiB, 87 / 91 dense in 1 GiB, where the
    * distributed passes ran out of heap on the diverse universe. The
    * driver path is never the slower one; past a few thousand names
    * both are bound by the same candidate verifies, and the ledger's
    * driver memory grows with its pairs. So the bound is a memory
    * margin, half the largest universe both paths ran in 1 GiB.
    */
  private[graft] val LocalThreshold = 20000L

  /** Candidate entity pairs over the DISTINCT strings of `strCol`, from
    * the union of two blocking passes:
    *
    *   - `via_fuzzy = 1`: within `maxEdit` edits ([[FuzzyJoin]]'s
    *     deletion-neighborhood blocking — exact for its budget);
    *   - `via_phonetic = 1`: equal phonetic key AND within
    *     `maxPhoneticDist` edits ([[Phonetic.phoneticJoin]] — catches
    *     the systematic sound-preserving variants a small edit budget
    *     misses).
    *
    * Output: (`str_a`, `str_b`, `dist`, `via_fuzzy`, `via_phonetic`)
    * with `str_a < str_b` (binary order) and `dist` the exact
    * levenshtein distance. A pair surfaced by both passes appears ONCE
    * with both flags set.
    */
  def candidatePairs(strings: DataFrame, strCol: String,
                     maxEdit: Int = 1, maxPhoneticDist: Int = 2): DataFrame =
    candidatePairs(strings, strCol, maxEdit, maxPhoneticDist, LocalThreshold)

  /** [[candidatePairs]] with the driver-path bound as a parameter; 0
    * forces the distributed passes.
    */
  private[graft] def candidatePairs(strings: DataFrame, strCol: String,
                                    maxEdit: Int, maxPhoneticDist: Int,
                                    localThreshold: Long): DataFrame = {
    val ss = strings.select(col(strCol)).filter(col(strCol).isNotNull)
    collectSmall(Seq(ss), maxPhoneticDist, localThreshold) match {
      case Some(List(all)) =>
        val names = all.distinct
        localPairs(strings.sparkSession, names, names.length, ordered = true,
          ss.schema.head.nullable, maxEdit, maxPhoneticDist)
      case _ =>
        val names = ss.distinct()
        distributedPairs(names, names, strCol, ordered = true, maxEdit, maxPhoneticDist)
    }
  }

  /** The INCREMENTAL half of [[candidatePairs]]: candidate pairs where
    * at least one side is NEW — (new strings) × (standing ∪ new
    * strings) through both blocking passes — so an ER system folding a
    * delta in pays candidate generation proportional to the DELTA's
    * name universe, not the standing one. Exact complement law (pinned
    * by EntityResolutionSpec over random splits): for any partition of
    * the name universe into (standing, fresh),
    *
    * {{{
    *   candidatePairs(all) ≡ candidatePairs(standing)
    *                        ∪ candidatePairsIncrement(standing, fresh)
    * }}}
    *
    * because both blocking passes are EXACT for their predicates (a
    * deletion-neighborhood join finds every pair within the edit
    * budget; a phonetic join every key-equal pair), and every pair
    * either has both sides standing (left term) or touches a new
    * string (right term). Fresh strings already present in `standing`
    * are dropped (they contribute no pair the left term lacks). Same
    * output shape as [[candidatePairs]].
    *
    * Downstream caveat the caller owns: a POPULATION-dependent keep
    * criterion (e.g. [[Stats.rankCalibrate]] percentiles) must re-run
    * over the UNION of standing + incremental scored pairs — the pair
    * LEDGER is small (it is the blocking that is expensive); with an
    * absolute threshold instead, [[mergeComponents]] absorbs the new
    * edges into the standing labeling directly.
    */
  def candidatePairsIncrement(standing: DataFrame, fresh: DataFrame,
                              strCol: String, maxEdit: Int = 1,
                              maxPhoneticDist: Int = 2): DataFrame =
    candidatePairsIncrement(standing, fresh, strCol, maxEdit, maxPhoneticDist,
      LocalThreshold)

  /** [[candidatePairsIncrement]] with the driver-path bound as a
    * parameter; 0 forces the distributed passes.
    */
  private[graft] def candidatePairsIncrement(standing: DataFrame, fresh: DataFrame,
                                             strCol: String, maxEdit: Int,
                                             maxPhoneticDist: Int,
                                             localThreshold: Long): DataFrame = {
    val s = standing.select(col(strCol)).filter(col(strCol).isNotNull)
    val f = fresh.select(col(strCol)).filter(col(strCol).isNotNull)
    collectSmall(Seq(s, f), maxPhoneticDist, localThreshold) match {
      case Some(List(ss, fs)) =>
        val old = ss.distinct
        val known = old.toSet
        val news = fs.distinct.filterNot(known)
        // least/greatest of a fresh and an indexed string is nullable
        // when the fresh column is
        localPairs(standing.sparkSession, news ++ old, news.length, ordered = false,
          f.schema.head.nullable, maxEdit, maxPhoneticDist)
      case _ =>
        val old = s.distinct()
        val news = f.distinct().join(old, Seq(strCol), "left_anti")
        distributedPairs(news, old.unionByName(news), strCol, ordered = false,
          maxEdit, maxPhoneticDist)
    }
  }

  // internal columns of the pair core
  private val L = "__er_l"
  private val R = "__er_r"
  private val S = "__er_s"

  /** The pair ledger between a probe set and an index set of distinct
    * strings (column `strCol`), through both blocking passes. `ordered`
    * keeps a (probe, index) pair only when probe < index — right when
    * both sets are the same universe, where each pair surfaces in both
    * orientations; otherwise every pair of two different strings is
    * oriented to (least, greatest). The group-by collapses a pair
    * surfaced twice (both orientations, both passes) to ONE row with
    * merged flags.
    */
  private def distributedPairs(probe: DataFrame, index: DataFrame, strCol: String,
                               ordered: Boolean, maxEdit: Int,
                               maxPhoneticDist: Int): DataFrame = {
    val l = probe.select(col(strCol).as(L))
    val r = index.select(col(strCol).as(R))
    def oriented(pairs: DataFrame, fuzzyFlag: Int): DataFrame = {
      val (keep, a, b) =
        if (ordered) (col(L) < col(R), col(L), col(R))
        else (col(L) =!= col(R), least(col(L), col(R)), greatest(col(L), col(R)))
      pairs.filter(keep)
        .select(a.as("str_a"), b.as("str_b"), col("dist").cast("int").as("dist"),
          lit(fuzzyFlag).as("via_fuzzy"), lit(1 - fuzzyFlag).as("via_phonetic"))
    }
    // string-pairs faces, not the payload joins (r20): both sides are
    // distinct name projections, so fuzzyJoin/phoneticJoin's payload
    // re-attach would be an identity join per side
    val fuzzy = oriented(FuzzyJoin.fuzzyStringPairs(l, r, L, R, maxEdit, L, R,
      dedup = false), 1) // the groupBy below dedups
    val phonetic = oriented(Phonetic.phoneticStringPairs(l, r, L, R,
      maxPhoneticDist, L, R), 0)
    fuzzy.unionByName(phonetic)
      .groupBy(col("str_a"), col("str_b"))
      .agg(min(col("dist")).as("dist"),
        max(col("via_fuzzy")).as("via_fuzzy"),
        max(col("via_phonetic")).as("via_phonetic"))
  }

  /** Each frame's strings (its one column) when every frame is a plain
    * string column and all of them together hold at most
    * `localThreshold` rows; else None. Each frame is one collect of at
    * most the budget left + 1 rows, read only once everything before it
    * fits. A negative `maxPhoneticDist` (unverified phonetic equality)
    * and a bound of 0 take the distributed passes without a collect.
    */
  private def collectSmall(frames: Seq[DataFrame], maxPhoneticDist: Int,
                           localThreshold: Long): Option[List[Array[UTF8String]]] = {
    def fetch(dfs: List[DataFrame], budget: Long): Option[List[Array[UTF8String]]] =
      dfs match {
        case Nil => Some(Nil)
        case df :: rest =>
          val rows = Bridge.collectInternal(
            df.limit(math.min(budget, Int.MaxValue - 1L).toInt + 1))
          if (rows.length > budget) None
          else fetch(rest, budget - rows.length).map(rows.map(_.getUTF8String(0)) :: _)
      }
    if (localThreshold <= 0 || maxPhoneticDist < 0 ||
        frames.exists(_.schema.head.dataType != StringType)) None
    else fetch(frames.toList, localThreshold)
  }

  /** Rows of `keys` evaluated over `names` as column [[S]]. The
    * projection sits on a LocalRelation, so the optimizer's
    * ConvertToLocalRelation evaluates it: no Spark job.
    */
  private def keyRows(spark: SparkSession, names: Seq[UTF8String],
                      keys: Column*): Array[InternalRow] =
    Bridge.collectInternal(Bridge.ofRows(spark,
      LocalRelation(Seq(AttributeReference(S, StringType, nullable = false)()),
        names.map(InternalRow(_)))).select(keys: _*))

  /** Probe names per key-projection batch: bounds the driver memory the
    * probe side's segment keys take (up to 75 a name at distance 2).
    */
  private val ProbeBatch = 4096

  /** [[distributedPairs]] on the driver: `names` is the index set and
    * its first `nProbe` entries the probe set. Every blocking key comes
    * from the Column expression the distributed passes evaluate
    * ([[FuzzyJoin.deletionKeys]], [[Phonetic.key]],
    * [[Phonetic.indexKeys]], [[Phonetic.probeKeys]]); the keys meet in
    * driver hash maps, and each candidate is verified with
    * `levenshteinDistance(other, threshold)`, what Spark's
    * `levenshtein(l, r, t)` evaluates. Output: a LocalRelation with the
    * distributed schema, whose strings are `nullable` as the
    * distributed plan's are.
    */
  private def localPairs(spark: SparkSession, names: Array[UTF8String], nProbe: Int,
                         ordered: Boolean, nullable: Boolean, maxEdit: Int,
                         maxPhoneticDist: Int): DataFrame = {
    val n = names.length
    // index side: deletion keys as ids with their posting lists, the
    // phonetic key, and the segment index — strings shorter than
    // maxPhoneticDist + 1 sit in a plain phonetic-key bucket instead
    val delIds = mutable.HashMap.empty[UTF8String, Int]
    val postings = mutable.ArrayBuffer.empty[mutable.ArrayBuffer[Int]]
    val delKeys = new Array[Array[Int]](n)
    val sound = new Array[UTF8String](n)
    val segments = mutable.HashMap.empty[(UTF8String, Int, Int, UTF8String),
      mutable.ArrayBuffer[Int]]
    val shortBucket = mutable.HashMap.empty[UTF8String, mutable.ArrayBuffer[Int]]
    val idx = keyRows(spark, names.toSeq, length(col(S)),
      FuzzyJoin.deletionKeys(S, maxEdit), Phonetic.key(col(S)),
      Phonetic.indexKeys(S, maxPhoneticDist))
    for (j <- 0 until n) {
      val row = idx(j)
      val dk = row.getArray(1)
      delKeys(j) = Array.tabulate(dk.numElements()) { e =>
        delIds.getOrElseUpdate(dk.getUTF8String(e), {
          postings += mutable.ArrayBuffer.empty[Int]
          postings.length - 1
        })
      }
      delKeys(j).foreach(postings(_) += j)
      sound(j) = row.getUTF8String(2)
      if (row.getInt(0) < maxPhoneticDist + 1)
        shortBucket.getOrElseUpdate(sound(j), mutable.ArrayBuffer.empty) += j
      else {
        val seg = row.getArray(3)
        for (e <- 0 until seg.numElements()) {
          val t = seg.getStruct(e, 3)
          segments.getOrElseUpdate((sound(j), t.getInt(0), t.getInt(1),
            t.getUTF8String(2)), mutable.ArrayBuffer.empty) += j
        }
      }
    }
    // merged ledger: (a, b) name ids -> dist << 2 | via_fuzzy << 1 | via_phonetic
    val ledger = mutable.HashMap.empty[Long, Int]
    def emit(p: Int, r: Int, dist: Int, flag: Int): Unit = {
      val c = names(p).binaryCompare(names(r))
      if (c < 0 || (c > 0 && !ordered)) {
        val key = if (c < 0) p.toLong << 32 | r else r.toLong << 32 | p
        ledger(key) = ledger.get(key) match {
          case Some(v) => math.min(v >> 2, dist) << 2 | (v | flag) & 3
          case None => dist << 2 | flag
        }
      }
    }
    // one verify per distinct (probe, candidate) per pass: a candidate
    // is stamped with the probe that last saw it
    val fuzzySeen = Array.fill(n)(-1)
    val soundSeen = Array.fill(n)(-1)
    def verify(p: Int, r: Int, seen: Array[Int], maxDist: Int, flag: Int): Unit =
      if (seen(r) != p) {
        seen(r) = p
        val dist = names(p).levenshteinDistance(names(r), maxDist)
        if (dist != -1) emit(p, r, dist, flag)
      }
    for (from <- 0 until nProbe by ProbeBatch) {
      val until = math.min(nProbe, from + ProbeBatch)
      val probes = keyRows(spark, names.slice(from, until).toSeq,
        Phonetic.probeKeys(S, maxPhoneticDist))
      for (p <- from until until) {
        for (key <- delKeys(p); r <- postings(key)) verify(p, r, fuzzySeen, maxEdit, 2)
        shortBucket.get(sound(p)).foreach(_.foreach(
          verify(p, _, soundSeen, maxPhoneticDist, 1)))
        val pk = probes(p - from).getArray(0)
        for (e <- 0 until pk.numElements()) {
          val t = pk.getStruct(e, 3)
          segments.get((sound(p), t.getInt(0), t.getInt(1), t.getUTF8String(2)))
            .foreach(_.foreach(verify(p, _, soundSeen, maxPhoneticDist, 1)))
        }
      }
    }
    val rows = ledger.iterator.map { case (key, v) =>
      InternalRow(names((key >>> 32).toInt), names(key.toInt), v >> 2, v >> 1 & 1, v & 1)
    }.toSeq
    Bridge.ofRows(spark, LocalRelation(Seq(
      AttributeReference("str_a", StringType, nullable)(),
      AttributeReference("str_b", StringType, nullable)(),
      AttributeReference("dist", IntegerType)(),
      AttributeReference("via_fuzzy", IntegerType)(),
      AttributeReference("via_phonetic", IntegerType)()), rows))
  }

  /** Union-find ABSORB: fold new edges into an existing labeling
    * without recomputing components from the original edge set. An
    * existing labeling is an equivalence quotient of its edges, so
    * components over (label edges ∪ new edges) equal components over
    * (original edges ∪ new edges) — the law ComponentsSpec would state,
    * pinned here over random edge splits. Output: (id, component) for
    * every id in `labels` or touched by `newEdges`, component = min
    * reachable id (the [[Components.connectedComponents]] convention,
    * which keeps labels STABLE under absorption: a component's label
    * only ever decreases when a new edge bridges it to a smaller one).
    * Use when the keep criterion is population-independent; a
    * recalibrated threshold needs the re-resolve path instead (see
    * [[candidatePairsIncrement]]).
    */
  def mergeComponents(labels: DataFrame, newEdges: DataFrame,
                      aCol: String, bCol: String): DataFrame =
    Components.connectedComponents(
      labels.select(col("id").as(aCol), col("component").as(bCol))
        .unionByName(newEdges.select(col(aCol), col(bCol))),
      aCol, bCol)

  /** Combine the three evidence channels into ONE deterministic integer
    * score: exact edit distance dominates (band width 10⁷), phonetic
    * agreement breaks distance ties (3·10⁶), and the embedding cosine
    * (per-mille, ∈ [-1000, 1000]) orders within a (dist, phonetic)
    * band — the channel that separates one-letter-apart STRANGERS from
    * true variants, which no string evidence can. `maxDist` anchors the
    * distance band (score stays positive for dist ≤ maxDist).
    */
  def evidenceScore(dist: Column, viaPhonetic: Column, cosPm: Column,
                    maxDist: Int = 2): Column =
    lit(10000000L) * (lit(maxDist.toLong) - dist) +
      lit(3000000L) * viaPhonetic.cast("long") + cosPm.cast("long")

  /** Expand name-level components to record-level families: each record
    * joins its string's component; strings without a surviving edge are
    * their own singleton family (labeled by the string's canonical id).
    * `nameIds` maps each distinct string to its canonical LONG id
    * (conventionally the min record id carrying it); `components` is
    * [[Components.connectedComponents]] output over those ids. Output =
    * `records` plus a `family` column.
    */
  def labelFamilies(records: DataFrame, strCol: String,
                    nameIds: DataFrame, nameIdCol: String,
                    components: DataFrame): DataFrame = {
    val nid = nameIds.select(col(strCol).as("__er_str"), col(nameIdCol).as("__er_nid"))
    records
      .join(nid, records(strCol) === col("__er_str"))
      .join(components.select(col("id").as("__er_nid"), col("component")),
        Seq("__er_nid"), "left")
      .withColumn("family", coalesce(col("component"), col("__er_nid")))
      .drop("__er_str", "__er_nid", "component")
  }
}
