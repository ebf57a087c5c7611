package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Phonetic blocking for entity resolution — the sound-alike complement
  * to [[FuzzyJoin]]'s edit-distance blocking. Deletion-neighborhood
  * blocking is exact for a d-edit budget but blind to the systematic
  * variants name data actually has (vowel drift "Smith"/"Smyth",
  * doubled consonants "Philips"/"Phillips"): those can sit 1–2 edits
  * apart PER VARIANT SITE and blow any fixed d. A phonetic key
  * collapses exactly those variations, so equality on the key is a
  * single cheap equi-join blocking pass; a distance verify keeps the
  * join exact w.r.t. its stated predicate.
  *
  * The key is a Soundex VARIANT (not Spark's `soundex()` builtin —
  * that implementation's H/W tie-breaking is JVM-specific lore; this
  * key is defined purely in portable SQL functions so any engine can
  * replay it bit-for-bit):
  *   1. letters  = upper-cased input with every non-A–Z character
  *      removed; an input with no letters keys to the empty string.
  *   2. code     = classic Soundex digit classes via `translate`
  *      (B F P V→1, C G J K Q S X Z→2, D T→3, L→4, M N→5, R→6,
  *      vowels + H W Y→0).
  *   3. collapsed = runs of the same digit collapsed to one (six
  *      backreference-free `regexp_replace` passes — `1{2,}`→`1` … —
  *      so RE2-based engines replay it; doubled consonants vanish
  *      here).
  *   4. key      = first letter of `letters` + first three digits of
  *      `collapsed` after position 1 with all 0s removed, right-padded
  *      with 0s ("Phillips"→P412, "Smyth"→S530).
  *
  * Scale shape: the key is a pure codegen'd expression column — no
  * UDF, no shuffle to compute. [[phoneticJoin]] follows [[FuzzyJoin]]'s
  * distinct-strings discipline: pair generation runs over each side's
  * DISTINCT names keyed by the 4-char phonetic key (narrow exchanges,
  * skew-bounded by how many distinct names share a sound class), the
  * levenshtein verify runs before any pair dedup, and payloads
  * re-attach by string so input cardinality is preserved and wide
  * columns never enter the blocking join.
  */
object Phonetic {

  private def quoted(name: String): String =
    "`" + name.replace("`", "``") + "`"

  /** The phonetic key of a string column (see object doc for the exact
    * spec). NULL input keys to NULL.
    */
  def key(c: Column): Column = {
    val letters = regexp_replace(upper(c), "[^A-Z]", "")
    val code = translate(letters, "ABCDEFGHIJKLMNOPQRSTUVWXYZ",
      "01230120022455012623010202")
    val collapsed = (1 to 6).foldLeft(code) { (acc, d) =>
      regexp_replace(acc, s"$d{2,}", s"$d")
    }
    val tail = replace(substring(collapsed, 2, 1000000), lit("0"), lit(""))
    when(length(letters) === 0, lit(""))
      .otherwise(concat(substring(letters, 1, 1), rpad(substring(tail, 1, 3), 3, "0")))
  }

  // internal columns, rejected if a user schema collides
  private val LS = "_graft_ph_l"
  private val RS = "_graft_ph_r"
  private val PK = "_graft_ph_k"

  /** PassJoin-style pigeonhole candidates INSIDE a phonetic bucket: a
    * phonetic key is a 4-char sound class, so hot buckets grow linearly
    * with the name universe and the key-equality join alone is
    * bucket-QUADRATIC (measured: tools/ErScaleProbe, 92 s at 55k names
    * before this pass). Pigeonhole (Li et al., PassJoin): if
    * lev(a, b) ≤ d, then splitting b into d+1 contiguous segments, at
    * least one segment survives the ≤ d edits VERBATIM in a, displaced
    * at most d positions — so blocking on (phonetic key, partner
    * length, segment index, segment value) is EXACT for the lev ≤ d
    * predicate while hot buckets subdivide by segment content.
    *
    * Index side: each right string of length ≥ d+1 emits its d+1 own
    * segments (even split: first `len % (d+1)` segments one char
    * longer). Probe side: each left string emits, for every partner
    * length within ±d and every segment index, the substrings at start
    * positions within ±d of that segmentation's start — ≤
    * (2d+1)·(d+1)·(2d+1) bounded keys per string. Right strings
    * SHORTER than d+1 segments take the plain bucket join (they are
    * few, and the pigeonhole needs d+1 nonempty parts).
    */
  private def segmentedCandidates(ls: DataFrame, rs: DataFrame,
                                  d: Int): DataFrame = {
    val probe = ls.select(col(LS), col(PK), explode(probeKeys(LS, d)).as("pk"))
      .select(col(LS), col(PK), col("pk.lb"), col("pk.i"), col("pk.sub"))
      .distinct()
    val index = rs.filter(length(col(RS)) >= d + 1)
      .select(col(RS), col(PK), explode(indexKeys(RS, d)).as("pk"))
      .select(col(RS), col(PK), col("pk.lb"), col("pk.i"), col("pk.sub"))
    probe.join(index, Seq(PK, "lb", "i", "sub"))
      .select(col(LS), col(RS)).distinct()
  }

  // seg i of a length-L string split into k parts: len = L div k +
  // (i < L mod k), start (0-based) = i * (L div k) + min(i, L mod k)
  private def segLen(l: String, i: String, k: Int) = s"($l div $k) + if($i < $l % $k, 1, 0)"
  private def segStart(l: String, i: String, k: Int) = s"$i * ($l div $k) + least($i, $l % $k)"

  /** The probe side of [[segmentedCandidates]]: an array of
    * (`lb`, `i`, `sub`) structs for string column `c` — every partner
    * length, segment index and displaced start within `d`. Empty for a
    * string too short to match any segmented partner.
    */
  private[operators] def probeKeys(c: String, d: Int): Column = {
    val k = d + 1
    val s = quoted(c)
    expr(
      s"""flatten(transform(
         |  if(length($s) + $d < $k, array(),
         |     sequence(greatest($k, length($s) - $d), length($s) + $d)),
         |  lb -> flatten(transform(sequence(0, $d), i ->
         |    transform(
         |      if(least(length($s) - (${segLen("lb", "i", k)}),
         |               (${segStart("lb", "i", k)}) + $d)
         |           < greatest(0, (${segStart("lb", "i", k)}) - $d), array(),
         |         sequence(greatest(0, (${segStart("lb", "i", k)}) - $d),
         |                  least(length($s) - (${segLen("lb", "i", k)}),
         |                        (${segStart("lb", "i", k)}) + $d))),
         |      sa -> named_struct('lb', lb, 'i', i,
         |        'sub', substring($s, sa + 1, ${segLen("lb", "i", k)})))))))""".stripMargin)
  }

  /** The index side of [[segmentedCandidates]]: the `d + 1` own
    * segments of string column `c` as (`lb`, `i`, `sub`) structs. Only
    * strings of length at least `d + 1` are indexed this way.
    */
  private[operators] def indexKeys(c: String, d: Int): Column = {
    val k = d + 1
    val s = quoted(c)
    expr(
      s"""transform(sequence(0, $d), i -> named_struct(
         |  'lb', length($s), 'i', i,
         |  'sub', substring($s, (${segStart(s"length($s)", "i", k)}) + 1,
         |                   ${segLen(s"length($s)", "i", k)})))""".stripMargin)
  }

  /** Sound-alike join: one row per (left row, right row) pair whose
    * strings share a phonetic key AND are within `maxDist` edits
    * (`maxDist < 0` disables the verify — pure phonetic equality).
    * Output = `left.columns ++ right.columns ++ dist`. Column sets must
    * be disjoint; NULL strings never match.
    *
    * With a distance budget, candidate generation inside each sound
    * bucket is pigeonhole-SEGMENTED (see [[segmentedCandidates]]) — the
    * same verified pair set as the plain bucket join (PhoneticSpec pins
    * the equivalence on random corpora), without the bucket-quadratic
    * blowup a 10⁵-name universe hits on 4-char sound classes.
    */
  /** The verified DISTINCT-STRING pairs only — (`leftOut`, `rightOut`,
    * `dist`) for every distinct pair sharing a phonetic key within
    * `maxDist` edits. [[phoneticJoin]] without the payload re-attach
    * joins — same rationale as [[FuzzyJoin.fuzzyStringPairs]] (r20):
    * entity-resolution candidate generation feeds already-distinct
    * name-only sides, for which re-attachment is an identity join.
    */
  private[operators] def phoneticStringPairs(
      left: DataFrame, right: DataFrame,
      leftCol: String, rightCol: String,
      maxDist: Int, leftOut: String, rightOut: String): DataFrame = {
    val ls = left.select(left(leftCol).as(LS)).filter(col(LS).isNotNull).distinct()
    val rs = right.select(right(rightCol).as(RS)).filter(col(RS).isNotNull).distinct()
    verifiedPairs(ls, rs, maxDist)
      .select(col(LS).as(leftOut), col(RS).as(rightOut), col("dist"))
  }

  /** Shared core: phonetic-blocked, levenshtein-verified (LS, RS, dist)
    * rows over distinct single-string sides.
    */
  private def verifiedPairs(ls: DataFrame, rs: DataFrame,
                            maxDist: Int): DataFrame = {
    val verified0 =
      if (maxDist < 0)
        ls.withColumn(PK, key(col(LS)))
          .join(rs.withColumn(PK, key(col(RS))), PK)
          .drop(PK)
      else {
        val lk = ls.withColumn(PK, key(col(LS)))
        val rk = rs.withColumn(PK, key(col(RS)))
        // short right strings (< maxDist+1 chars) cannot pigeonhole —
        // plain bucket join for those few; segmented candidates for the
        // rest. Disjoint by construction (length split on RS).
        val short = lk.join(
          rk.filter(length(col(RS)) < maxDist + 1), PK).drop(PK)
        segmentedCandidates(lk, rk, maxDist).unionByName(short)
      }
    if (maxDist < 0) verified0.withColumn("dist", levenshtein(col(LS), col(RS)))
    else verified0.withColumn("dist", levenshtein(col(LS), col(RS), maxDist))
      .filter(col("dist") =!= -1)
  }

  def phoneticJoin(left: DataFrame, right: DataFrame,
                   leftCol: String, rightCol: String,
                   maxDist: Int = 2): DataFrame = {
    val overlap = left.columns.toSet.intersect(right.columns.toSet)
    require(overlap.isEmpty, s"column sets must be disjoint, both have $overlap")
    val reserved = Set(LS, RS, PK, "dist")
    val clash = (left.columns ++ right.columns).toSet.intersect(reserved)
    require(clash.isEmpty, s"inputs must not contain reserved columns $clash")

    val ls = left.select(left(leftCol).as(LS)).filter(col(LS).isNotNull).distinct()
    val rs = right.select(right(rightCol).as(RS)).filter(col(RS).isNotNull).distinct()
    val verified = verifiedPairs(ls, rs, maxDist)
    def q(alias: String, name: String) = col(alias + "." + quoted(name))
    left.as("_graft_ph_lt")
      .join(verified.as("_graft_ph_p"),
        q("_graft_ph_lt", leftCol) === q("_graft_ph_p", LS))
      .join(right.as("_graft_ph_rt"),
        q("_graft_ph_p", RS) === q("_graft_ph_rt", rightCol))
      .select(left.columns.map(q("_graft_ph_lt", _))
        ++ right.columns.map(q("_graft_ph_rt", _)) :+ col("dist"): _*)
  }
}
