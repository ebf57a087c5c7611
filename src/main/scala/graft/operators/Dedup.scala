package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BinaryType, IntegerType, LongType, StringType, StructField}

import scala.jdk.CollectionConverters._

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Everything here is designed around ONE principle for 100 TB inputs:
  * never materialize all-pairs. Exact dedup is a single hash-shuffle on a
  * digest; near-dup goes shingle → MinHash signature → LSH band buckets →
  * bucket-local candidate pairs → exact-Jaccard verification. Candidate
  * generation touches only rows that collide in a band; buckets larger
  * than [[maxBucketDefault]] switch from all-pairs to signature-sorted
  * CHAIN pairs (each member linked to its neighbor in signature order),
  * so one hot bucket costs O(b) instead of O(b²) while keeping each
  * duplicate cluster inside it internally connected.
  */
object Dedup {

  /** Bucket size above which LSH candidate generation switches from
    * all-pairs (b(b-1)/2 pairs) to chain pairs: members sorted by a hash
    * of their FULL signature and linked consecutively (b-1 pairs). 64
    * caps the per-bucket all-pairs cost at ~2k pairs; beyond that, the
    * chain keeps cost linear and — unlike dropping the bucket — keeps
    * duplicate clusters connected, because identical/near-identical
    * signatures sort adjacent, so a cluster occupies a consecutive run
    * whose internal links survive exact verification (links BETWEEN
    * unrelated clusters fail verification harmlessly). Best-effort for
    * cluster members whose signatures diverge; exact enumeration only
    * below the cap.
    */
  val maxBucketDefault = 64

  // ---------------------------------------------------------------- exact

  /** Exact dedup: keep, per duplicate group, the row with the smallest
    * `orderCol`. One shuffle, on `md5(key)` — at 100 TB you shuffle a
    * 16-byte digest + the row, never compare texts pairwise. Window +
    * row_number (not groupBy+join-back) keeps it to a single exchange.
    */
  def exact(df: DataFrame, keyCols: Seq[String], orderCol: String): DataFrame = {
    // null-safe composite key: to_json keeps field names and omits
    // nulls, so (a="x", b=NULL) and (a=NULL, b="x") encode differently
    // (a separator-joined concat would collide them and drop NULL parts)
    val key = md5(to_json(struct(keyCols.map(col): _*)))
    val w = Window.partitionBy(key).orderBy(col(orderCol))
    df.withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") === 1)
      .drop("__graft_rn")
  }

  /** Per-group digest summary (the SQL-oracle-able face of exact dedup):
    * one row per distinct key with the surviving id and multiplicity.
    */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  // -------------------------------------------------------------- minhash

  /** Whitespace-collapsed, lower-cased text — the normalization every
    * text operator shares (and the DuckDB oracles replicate verbatim).
    * Collapse BEFORE trim — see [[TextAnalysis.normWs]] for why the order
    * is a cross-engine contract.
    */
  def normText(c: Column): Column = lower(trim(regexp_replace(c, "\\s+", " ")))

  /** Winnowing fingerprints (Schleimer, Wilkerson, Aiken 2003 — the MOSS
    * algorithm): hash every k-token shingle, slide a window of `w`
    * consecutive shingle hashes, keep each window's MINIMUM, and emit the
    * per-document DISTINCT fingerprint set. The winnowing guarantee: any
    * shared token run of length ≥ w + k − 1 between two documents yields
    * at least one shared fingerprint, while the kept set is ~2/(w+1) of
    * all shingles — the robust middle ground between full-shingle dedup
    * (exact but huge) and MinHash (compact but probabilistic).
    *
    * Output: (`idCol`, `n_fp`, `fp_md5`) — fingerprint count plus the md5
    * of the sorted distinct fingerprint list (compact, order-free, and
    * exactly reproducible: shingle hashes are the first 8 md5 hex chars
    * as a BIGINT, the engine's portable-lane trick, so any engine with
    * md5 mirrors the whole pipeline bit-for-bit). Documents shorter than
    * one full window (< w + k − 1 tokens) emit no row.
    *
    * Scale shape: ONE fixed-width exchange by document feeds one
    * [[PerDoc]] kernel pass — fingerprints, the distinct set, the sort
    * and the digest are all doc-local, so there is no window and no
    * aggregate.
    */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         shingleSize: Int = 4, window: Int = 5): DataFrame = {
    require(shingleSize >= 1 && window >= 1, "shingle and window must be >= 1")
    val (k, w) = (shingleSize, window)
    PerDoc.texts(df, idCol, textCol, StructField("n_fp", LongType, false),
        StructField("fp_md5", StringType)) { (md, text) =>
      val fps = winnowMinsJvm(md, normTextJvm(text), k, w)
      if (fps.isEmpty) Iterator.empty
      else {
        val distinct = fps.distinct.sorted
        Iterator.single(Seq(distinct.length.toLong, md5HexJvm(md, distinct.mkString(","))))
      }
    }
  }

  /** One document's kept winnowing window minima, in window order (with
    * repeats): shingle hash = first 8 md5 hex chars as a long, window w
    * minima over full windows only. Empty when the doc is shorter than
    * w + k - 1 tokens.
    */
  private def winnowMinsJvm(md: java.security.MessageDigest, norm: String,
                            k: Int, w: Int): Array[Long] = {
    val toks = norm.split(" ", -1)
    val m = toks.length - k + 1
    if (m < w) return Array.emptyLongArray
    val h = new Array[Long](m)
    val sb = new java.lang.StringBuilder
    var s = 0
    while (s < m) {
      sb.setLength(0)
      var j = 0
      while (j < k) { if (j > 0) sb.append(' '); sb.append(toks(s + j)); j += 1 }
      // == Long.parseLong(hex.substring(0, 8), 16): the first 8 hex
      // chars are the first 4 digest bytes, unsigned big-endian (r20)
      val d = md5Bytes(md, sb.toString)
      h(s) = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      s += 1
    }
    val out = new Array[Long](m - w + 1)
    var p0 = 0
    while (p0 <= m - w) {
      var mn = h(p0)
      var j = 1
      while (j < w) { if (h(p0 + j) < mn) mn = h(p0 + j); j += 1 }
      out(p0) = mn
      p0 += 1
    }
    out
  }

  /** Fingerprint-overlap candidate pairs over [[winnowFingerprints]]'
    * kept window minima: (id_a, id_b, n_shared) for pairs sharing at
    * least `minShared` distinct fingerprints. Three-tier bucket
    * discipline, the same shape
    * as [[minhashNearDupPairs]] — measured necessary, not theoretical: an
    * uncapped fp self-join on a dup-SATURATED corpus (the 100× probe
    * corpus: ~100 near-copies per doc, each pair sharing ~40
    * fingerprints) enumerates ~10⁹ pre-aggregation rows and fills local
    * disk with spill.
    *
    *  - bucket ≤ `maxBucket` docs → all pairs (exact n_shared);
    *  - `maxBucket` < bucket ≤ `maxDocFreq` → id-sorted CHAIN pairs:
    *    linear in bucket size, connectivity-preserving for CC-style
    *    grouping; a true dup group is adjacent in every bucket it shares,
    *    so chain pairs still accumulate n_shared ≥ minShared. n_shared is
    *    a LOWER BOUND on shared fps for these pairs (adjacency count);
    *  - bucket > `maxDocFreq` → DROPPED: corpus-wide boilerplate grams (a
    *    site footer, a license header) carry no discriminative signal —
    *    the MOSS df-capping argument.
    */
  def winnowOverlapPairs(df: DataFrame, idCol: String, textCol: String,
                         shingleSize: Int = 4, window: Int = 5,
                         minShared: Long = 2L, maxBucket: Long = 64L,
                         maxDocFreq: Long = 4096L,
                         tracker: CacheTracker = CacheTracker.unmanaged): DataFrame = {
    require(shingleSize >= 1 && window >= 1, "shingle and window must be >= 1")
    require(maxBucket <= maxDocFreq, "maxBucket must be <= maxDocFreq")
    // (id, fp) duplicates can only arise WITHIN a document (two windows
    // sharing a minimum), so the distinct is doc-local: one kernel pass
    // emits each (id, fp) once and no corpus-wide distinct exchange runs.
    // Nothing is persisted: all three tier branches read the same fp
    // exchange subtree, which AQE stage-reuses, so the text shuffle and
    // the kernel execute once and each tier re-runs only its
    // post-shuffle bucket-count window.
    val (k, w) = (shingleSize, window)
    val r = PerDoc.texts(df, idCol, textCol, StructField("fp", LongType, false)) {
      (md, text) => winnowMinsJvm(md, normTextJvm(text), k, w).distinct.iterator.map(Seq(_))
    }
    val wcnt = Window.partitionBy(col("fp"))
    val withCnt = r.withColumn("__cnt", count(lit(1)).over(wcnt))
    val small = withCnt.filter(col("__cnt") > 1 && col("__cnt") <= maxBucket)
      .select(col("fp"), col(idCol))
    val smallPairs = small.as("a").join(small.as("b"),
      col("a.fp") === col("b.fp") && col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col("a.fp").as("fp"),
        col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
    val wOrd = Window.partitionBy(col("fp")).orderBy(col(idCol))
    val chainPairs = withCnt
      .filter(col("__cnt") > maxBucket && col("__cnt") <= maxDocFreq)
      .withColumn("__next", lead(col(idCol), 1).over(wOrd))
      .filter(col("__next").isNotNull)
      .select(col("fp"), col(idCol).as("id_a"), col("__next").as("id_b"))
    smallPairs.union(chainPairs)
      .groupBy(col("id_a"), col("id_b"))
      .agg(countDistinct(col("fp")).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Substring-level dedup (the ExactSubstr shape, Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"): remove
    * every token whose enclosing `k`-token window occurs MORE THAN ONCE
    * in the corpus — including a second occurrence inside the same
    * document. Doc-level dedup keeps one copy of a page but leaves the
    * license header it shares with a million other pages; this excises
    * the header from all of them while keeping each page's unique prose.
    *
    * Output: (idCol, n_tokens, n_removed, clean_text) for every doc with
    * a non-null id and non-null text (the same non-null-key contract as
    * every dedup operator here — null-keyed rows are dropped, so row
    * counts audit against the non-null input count, not the raw one),
    * over normalized tokens ([[normText]] — the cross-engine contract).
    * Docs shorter than `k` tokens have no k-gram and are never excised; a
    * fully-duplicated doc comes back with clean_text = ''.
    *
    * Scale shape — full text crosses the wire exactly ONCE:
    *  - grams come from one [[PerDoc]] kernel pass over each doc's
    *    token array, above the doc-keyed text exchange;
    *  - the occurrence count shuffles 16-byte digests (map-side
    *    combined), and the dup-digest join clusters by that same key;
    *  - surviving (doc, start) rows — proportional to DUPLICATED grams,
    *    not the corpus — collect to sorted start-lists per doc;
    *  - one doc-keyed join attaches the start-list to the original row,
    *    and the rebuild is a narrow per-doc array pass. The interpreted
    *    `transform`/`filter` here run once per DOC (not per gram);
    *    per-doc cost is O(tokens × covered) — bounded by document
    *    length, independent of corpus size.
    */
  def exciseDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
                           k: Int = 8,
                           tracker: CacheTracker = CacheTracker.unmanaged): DataFrame = {
    require(k >= 2, "a duplicated span needs at least 2 tokens")
    val p = df.sparkSession.sparkContext.defaultParallelism
    // the explicit filter mirrors what Catalyst would infer per-branch
    // anyway (join-key non-null; posexplode's non-empty/non-null array —
    // split() never returns an empty array, so nothing real is dropped):
    // stating it ONCE below the repartition keeps all three consumers'
    // exchange subtrees canonically identical, which is what lets AQE
    // stage-reuse the single text shuffle. Null-id / null-text rows are
    // excluded, as in every dedup operator here (non-null key contract).
    val based = df.select(col(idCol),
      split(normText(col(textCol)), " ").as("__ts"))
      .filter(col(idCol).isNotNull && col("__ts").isNotNull &&
        size(col("__ts")) > 0)
      .repartition(p, col(idCol))
    // deliberately NOT persisted even though two branches read the gram
    // rows: the cache would hold (id, pos, digest) per TOKEN — a
    // corpus-sized working set — and a cached plan is AQE-wrapped with
    // unknown partitioning. Un-cached, all three consumers of the
    // repartitioned base (both gram branches and the rebuild join below)
    // carry canonically identical exchange subtrees, so AQE stage-reuses
    // ONE text shuffle across them and each branch re-runs only the
    // partition-local gram kernel above it.
    // gram digests ride as 16-byte MD5 BINARY, not 32-char hex (r20):
    // __g only ever meets equality tests (the duplicate count and the
    // starts join), so the hex encoding bought nothing — the binary
    // form halves the per-token shuffle's digest bytes and skips the
    // hex conversion in the kernel's hot loop.
    val grams = PerDoc.map[scala.collection.Seq[String]](based, idCol, col("__ts"),
        StructField("__pos", IntegerType, false), StructField("__g", BinaryType)) {
      (md, ts) =>
        val sb = new java.lang.StringBuilder
        (0 to ts.length - k).iterator.map { s =>
          sb.setLength(0)
          var j = 0
          while (j < k) { if (j > 0) sb.append(' '); sb.append(ts(s + j)); j += 1 }
          Seq(s, md5Bytes(md, sb.toString))
        }
    }
    val dup = grams.groupBy(col("__g"))
      .agg(count(lit(1)).as("__c")).filter(col("__c") > 1)
      .select(col("__g"))
    val starts = grams.join(dup, "__g")
      .groupBy(col(idCol))
      .agg(sort_array(collect_set(col("__pos"))).as("__starts"))
    // the rebuild reads the SAME shuffle stage (canonically identical
    // subtree → ReusedExchange) instead of exchanging the token arrays a
    // second time; starts is dup-doc-sized, so AQE broadcasts it.
    based.join(starts, Seq(idCol), "left")
      .withColumn("__st",
        coalesce(col("__starts"), array().cast("array<int>")))
      // start ≤ n−k ⇒ s+k−1 ≤ n−1: sequence never leaves the doc
      .withColumn("__cov", array_distinct(flatten(
        transform(col("__st"), s => sequence(s, s + lit(k - 1))))))
      .select(col(idCol),
        size(col("__ts")).cast("long").as("n_tokens"),
        size(col("__cov")).cast("long").as("n_removed"),
        concat_ws(" ", filter(col("__ts"),
          (_, i) => !array_contains(col("__cov"), i))).as("clean_text"))
  }

  // ------------------------------------------- per-doc signature kernel
  //
  // The signature functions below compute a whole document's signature in
  // ONE narrow mapPartitions pass (tokenize → shingle → hash → per-lane
  // min / digest set) instead of exploding (doc, shingle) rows through
  // the window + hash-aggregate pipeline. Motivation (r19, sf0.1, warm;
  // OPTIMIZATION_r19.md §3): the exploded formulation pays the window
  // sort, the generator, and the aggregate hash table per SHINGLE; the
  // per-doc kernel pays a few array ops — 2-3× less CPU for identical
  // output — and at cluster scale it also DELETES the aggregate (the
  // per-doc pass needs no post-explode combine at all). Exchange count is
  // unchanged: one fixed-width doc exchange feeds the CPU-bound kernel,
  // exactly as it fed the window. Hashes are computed by the SAME engine
  // primitives Spark's expressions call (java.util.regex /
  // UTF8String.trim / UTF8String.toLowerCase / XXH64.hashUTF8String /
  // MD5 over UTF-8 bytes), so equality with the SQL formulation is by
  // construction; SignatureKernelParitySpec pins every kernel to the
  // exploded formulations (kept in src/test as the oracle) over
  // adversarial unicode/whitespace corpora.
  //
  // One contract for every id type, owned by [[PerDoc]]: one output row
  // (or row set) per input row — ids are keys, rows sharing an id are
  // never merged; rows with a null id or null text are dropped; the id
  // column comes back with its input name and data type.

  private val wsPattern = java.util.regex.Pattern.compile("\\s+")

  /** JVM twin of [[normText]]: collapse via the same java.util.regex
    * engine regexp_replace uses, then UTF8String.trim().toLowerCase() —
    * the very methods the trim/lower expressions call.
    */
  private[operators] def normTextJvm(text: String): String = {
    val collapsed = wsPattern.matcher(text).replaceAll(" ")
    org.apache.spark.unsafe.types.UTF8String.fromString(collapsed)
      .trim().toLowerCase().toString
  }

  /** One document's shingles: k consecutive tokens joined by one space;
    * a doc shorter than k tokens contributes its whole normalized text as
    * a single shingle.
    */
  private[operators] def shinglesJvm(norm: String, k: Int): Array[String] = {
    val toks = norm.split(" ", -1)
    if (toks.length < k) Array(norm)
    else {
      val out = new Array[String](toks.length - k + 1)
      val sb = new java.lang.StringBuilder
      var s = 0
      while (s < out.length) {
        sb.setLength(0)
        var j = 0
        while (j < k) { if (j > 0) sb.append(' '); sb.append(toks(s + j)); j += 1 }
        out(s) = sb.toString
        s += 1
      }
      out
    }
  }

  private val hexChars = "0123456789abcdef".toCharArray

  /** Raw MD5 digest bytes — the byte-level twin of [[md5HexJvm]] for
    * kernel inner loops that only need slices of the digest: hex char
    * 2i/2i+1 of the hex form IS the high/low nibble of byte i, so any
    * hex-substring comparison or parse is bit-identical byte math (r20
    * — skips the 32-char string build per shingle/token).
    */
  private def md5Bytes(md: java.security.MessageDigest, s: String): Array[Byte] = {
    md.reset()
    md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  private[operators] def md5HexJvm(md: java.security.MessageDigest, s: String): String = {
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = hexChars((d(i) >> 4) & 0xf)
      out(2 * i + 1) = hexChars(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** md5-flavor lanes for one doc: lane i = lexicographic min of the i-th
    * 4-hex-char digest slice over the doc's shingles; optionally also the
    * distinct shingle set (insertion order).
    */
  private def md5LanesJvm(md: java.security.MessageDigest, norm: String,
                          k: Int, n: Int, withSet: Boolean)
      : (Array[String], Array[String]) = {
    // lane i's 4-hex-char slice is digest bytes (2i, 2i+1) as an
    // unsigned 16-bit int, and fixed-length lowercase hex orders
    // lexicographically exactly as the int orders numerically — so the
    // per-shingle min runs on ints and the hex forms are built ONCE per
    // doc at the end (r20; was a substring alloc + string compare per
    // lane per shingle)
    val mins = new Array[Int](n)
    java.util.Arrays.fill(mins, -1)
    val set = if (withSet) new java.util.LinkedHashSet[String]() else null
    shinglesJvm(norm, k).foreach { sh =>
      if (set != null) set.add(sh)
      val d = md5Bytes(md, sh)
      var i = 0
      while (i < n) {
        val v = ((d(2 * i) & 0xff) << 8) | (d(2 * i + 1) & 0xff)
        if (mins(i) == -1 || v < mins(i)) mins(i) = v
        i += 1
      }
    }
    val minHex = mins.map { v =>
      if (v == -1) null
      else {
        val c = new Array[Char](4)
        c(0) = hexChars((v >> 12) & 0xf); c(1) = hexChars((v >> 8) & 0xf)
        c(2) = hexChars((v >> 4) & 0xf); c(3) = hexChars(v & 0xf)
        new String(c)
      }
    }
    (minHex, if (set == null) null else set.toArray(new Array[String](set.size)))
  }

  /** xxhash64-flavor lanes for one doc; optionally also the distinct h1
    * digest set. Per-lane hashes via double hashing: TWO xxhash64
    * evaluations per shingle (h1 = xxhash64(sh), h2 = xxhash64(1, sh))
    * expanded to `n` lanes as `lane_i = h1 XOR rotl(h2, i)` — the
    * rotate-XOR variant of Kirsch-Mitzenmacher (the classic `h1 + i·h2`
    * needs wrapping long arithmetic, which ANSI mode rejects in the SQL
    * formulation; rotation + XOR is overflow-free and keeps each lane a
    * distinct mixing of the 128 hash bits). Hashing dominates the stage,
    * so 2 string hashes + bitwise ops beat `n` seeded string hashes while
    * preserving minhash's per-lane collision statistics.
    */
  private def xxLanesJvm(norm: String, k: Int, n: Int, withSet: Boolean)
      : (Array[Long], Array[Long]) = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val seed2 = XXH64.hashInt(1, 42L) // xxhash64(lit(1), sh)'s running seed
    val mins = new Array[Long](n)
    val set = if (withSet) new java.util.LinkedHashSet[java.lang.Long]() else null
    var first = true
    shinglesJvm(norm, k).foreach { sh =>
      val u = org.apache.spark.unsafe.types.UTF8String.fromString(sh)
      val h1 = XXH64.hashUTF8String(u, 42L)
      val h2 = XXH64.hashUTF8String(u, seed2)
      if (set != null) set.add(h1)
      var i = 0
      while (i < n) {
        val lane = if (i == 0) h1 else h1 ^ java.lang.Long.rotateLeft(h2, i)
        if (first || lane < mins(i)) mins(i) = lane
        i += 1
      }
      first = false
    }
    val setArr =
      if (set == null) null
      else {
        val a = new Array[Long](set.size)
        val it = set.iterator(); var i = 0
        while (it.hasNext) { a(i) = it.next().longValue; i += 1 }
        a
      }
    (mins, setArr)
  }

  /** Distinct (`idCol`, `__g` = md5(shingle)) rows per document — the
    * digest face the decontamination and boilerplate pipelines share.
    * (id, digest) duplicates are doc-local, so one [[PerDoc]] pass emits
    * each digest once.
    */
  def distinctGramDigests(df: DataFrame, idCol: String, textCol: String,
                          shingleSize: Int): DataFrame = {
    val k = shingleSize
    PerDoc.texts(df, idCol, textCol, StructField("__g", StringType)) { (md, text) =>
      val set = new java.util.LinkedHashSet[String]()
      shinglesJvm(normTextJvm(text), k).foreach(sh => set.add(md5HexJvm(md, sh)))
      set.iterator().asScala.map(Seq(_))
    }
  }

  /** Per-doc TOTAL and DISTINCT shingle counts (short docs contribute
    * their whole text as one shingle, null text drops the doc). Both
    * counts are DOC-LOCAL, so the whole computation is one [[PerDoc]]
    * pass — no exploded shingle rows, no countDistinct hash aggregate
    * over the corpus.
    * Output: (`idCol`, `total_shingles`, `distinct_shingles`).
    */
  def shingleRepeatStats(df: DataFrame, idCol: String, textCol: String,
                         shingleSize: Int): DataFrame = {
    val k = shingleSize
    PerDoc.texts(df, idCol, textCol, StructField("total_shingles", LongType, false),
        StructField("distinct_shingles", LongType, false)) { (_, text) =>
      val sh = shinglesJvm(normTextJvm(text), k)
      val set = new java.util.HashSet[String]()
      var i = 0
      while (i < sh.length) { set.add(sh(i)); i += 1 }
      Iterator.single(Seq(sh.length.toLong, set.size.toLong))
    }
  }

  /** doc → MinHash signature (array of `numHashes` longs). Engine
    * flavor: two `xxhash64` evaluations per shingle expanded to all lanes
    * (see [[xxLanesJvm]]).
    */
  def minhashSignature(df: DataFrame, idCol: String, textCol: String,
                       shingleSize: Int = 3, numHashes: Int = 16): DataFrame = {
    require(numHashes <= 64, "rotate-distinct lanes cap at 64")
    val (k, n) = (shingleSize, numHashes)
    PerDoc.texts(df, idCol, textCol, StructField("sig", ArrayType(LongType, false))) {
      (_, text) => Iterator.single(Seq(xxLanesJvm(normTextJvm(text), k, n, withSet = false)._1))
    }
  }

  /** Portable signature flavor: ONE `md5(shingle)` per shingle, with
    * lane `i` = lexicographic min of the digest's i-th disjoint 4-hex-char
    * (16-bit) slice — bit-identical in any engine with md5; this is what
    * the DuckDB correctness oracle reproduces.
    *
    * One digest (not one per lane) is the whole trick: md5 dominates the
    * stage cost, and its 128 bits are already well-mixed, so disjoint
    * slices act as independent hash functions. The tradeoff is lane width:
    * 16-bit lanes give a ~m/65536 min-collision bias for m-shingle docs
    * (<1% at typical document sizes) — fine for signatures/banding. The
    * production engine flavor ([[minhashSignature]]) keeps full 64-bit
    * xxhash64 lanes. Output: (`idCol`, `mh0` .. `mh{numHashes-1}`).
    */
  def minhashSignatureMd5(df: DataFrame, idCol: String, textCol: String,
                          shingleSize: Int = 3, numHashes: Int = 8): DataFrame = {
    val (k, n) = (shingleSize, numHashes)
    PerDoc.texts(df, idCol, textCol, md5LaneFields(n): _*) { (md, text) =>
      Iterator.single(md5LanesJvm(md, normTextJvm(text), k, n, withSet = false)._1.toSeq)
    }
  }

  /** The md5 lane columns shared by both md5-flavor entry points. */
  private def md5LaneFields(numHashes: Int): Seq[StructField] = {
    require(numHashes * 4 <= 32, "md5 is 32 hex chars: at most 8 disjoint 4-char lanes")
    (0 until numHashes).map(i => StructField(s"mh$i", StringType))
  }

  /** [[minhashSignatureMd5]] plus each doc's exact distinct shingle set
    * (`sh`), from ONE kernel pass — the shape a candidate-verify step
    * wants, so the shingle pipeline never runs twice.
    */
  def minhashSignatureMd5WithSets(df: DataFrame, idCol: String, textCol: String,
                                  shingleSize: Int = 3, numHashes: Int = 8): DataFrame = {
    val (k, n) = (shingleSize, numHashes)
    PerDoc.texts(df, idCol, textCol,
        md5LaneFields(n) :+ StructField("sh", ArrayType(StringType)): _*) { (md, text) =>
      val (lanes, set) = md5LanesJvm(md, normTextJvm(text), k, n, withSet = true)
      Iterator.single(lanes.toSeq :+ set)
    }
  }

  /** Exact Jaccard between two docs' shingle sets (verification step —
    * only ever run on LSH candidate pairs, never all pairs).
    */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b)).cast("double")

  /** Full near-dup pipeline: signature → banded candidates → exact-Jaccard
    * verify. Returns (id_a, id_b, jaccard) for pairs ≥ threshold.
    */
  def minhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          shingleSize: Int = 3, numHashes: Int = 16, bands: Int = 4,
                          threshold: Double = 0.6,
                          maxBucket: Int = maxBucketDefault,
                          tracker: CacheTracker = CacheTracker.unmanaged): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val r = numHashes / bands
    // one kernel pass produces signature AND shingle-DIGEST set per
    // doc; the verify step intersects 8-byte xxhash64 digests, not
    // shingle strings — set jaccard over distinct digests equals string
    // jaccard (collisions are 2^-64-scale), the cached/shuffled rows
    // shrink ~3×, and array_intersect runs integer-typed. (The
    // md5-portable flavors keep literal shingle sets because their DuckDB
    // oracles re-derive them.) Persisted because three downstream
    // branches reference it (banding + both candidate join-backs) and
    // Catalyst does not CSE subplans — at cluster scale this is the
    // table you would checkpoint anyway.
    require(numHashes <= 64, "rotate-distinct lanes cap at 64")
    val (k, n) = (shingleSize, numHashes)
    val base = PerDoc.texts(df, idCol, textCol,
        StructField("sig", ArrayType(LongType, false)),
        StructField("__shset", ArrayType(LongType, false))) { (_, text) =>
      val (lanes, set) = xxLanesJvm(normTextJvm(text), k, n, withSet = true)
      Iterator.single(Seq(lanes, set))
    }.withColumnRenamed(idCol, "__id")
      .transform(d => tracker.own(
        d.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)))
    val banded = base.select(col("__id"),
      // full-signature hash: the chain sort key for oversized buckets —
      // identical signatures (true dup clusters) sort adjacent.
      // xxhash64 hashes array<long> NATIVELY — hashing the long slices
      // directly (not cast("array<string>") + concat_ws, which allocates
      // a string per lane per row) measured ~0.2 s off the sf0.1 pipeline
      // (SURVEY.md, r7 twin-flavor attribution)
      xxhash64(col("sig")).as("__sk"),
      posexplode(
        transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(b, slice(col("sig"), b * r + 1, lit(r)))))
        .as(Seq("band", "bh")))
    // bucket size via an unordered window (spills to disk row-by-row,
    // unlike collect_list of a giant bucket), then: small buckets → all
    // pairs; oversized → signature-sorted chain pairs. PERSISTED: both
    // branches of the union below read it, and Catalyst does not CSE
    // subplans — without the persist the banding + window-count stage
    // (including its exchange) executes once per branch (measured ~1.7×
    // on the whole pipeline). The cached table is bands×docs rows of ids
    // and hashes — tiny next to the corpus. Cache ownership: see
    // [[CacheTracker]] — release via the tracker once materialized.
    val w = Window.partitionBy("band", "bh")
    val withStats = tracker.own(banded.withColumn("__cnt", count(lit(1)).over(w))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // small-bucket candidates as a CODEGEN'D self-join on the bucket key
    // — not collect_list + an interpreted pair-expansion HOF, the same
    // rewrite cosineNearDupPairs carries: the HOF evaluates a boxed
    // lambda per pair slot, which dominates on dup-heavy corpora, and
    // the collected id arrays materialize O(bucket²) rows per group
    // (measured 2.2× on the full pair pipeline at sf0.1: 2.9 → 1.3 s)
    val smallIds = withStats
      .filter(col("__cnt") > 1 && col("__cnt") <= maxBucket)
      .select(col("band"), col("bh"), col("__id"))
    val smallPairs = smallIds.as("x").join(smallIds.as("y"),
      col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
        col("x.__id") < col("y.__id"))
      .select(col("x.__id").as("id_a"), col("y.__id").as("id_b"))
    val wOrd = Window.partitionBy("band", "bh").orderBy(col("__sk"), col("__id"))
    val chainPairs = withStats
      .filter(col("__cnt") > maxBucket)
      .withColumn("__next", lead(col("__id"), 1).over(wOrd))
      .filter(col("__next").isNotNull)
      .select(least(col("__id"), col("__next")).as("id_a"),
        greatest(col("__id"), col("__next")).as("id_b"))
    val cand = smallPairs.union(chainPairs).distinct()
    val a = base.select(col("__id").as("id_a"), col("__shset").as("sh_a"))
    val b = base.select(col("__id").as("id_b"), col("__shset").as("sh_b"))
    cand.join(a, "id_a").join(b, "id_b")
      .select(col("id_a"), col("id_b"),
        jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Standing-index signature+set table for
    * [[dedupAgainstPreparedIndex]]: compute and persist ONCE, then dedup
    * any number of incoming micro-batches against it — the
    * continuous-ingestion shape, where re-deriving the index signatures
    * per batch would re-scan the (large) index on every trigger. The
    * returned handle is persisted and owned by `tracker`; release it
    * when ingestion stops.
    */
  def prepareDedupIndex(index: DataFrame, idCol: String, textCol: String,
                        shingleSize: Int = 3, numHashes: Int = 8,
                        tracker: CacheTracker = CacheTracker.unmanaged): DataFrame = {
    require(numHashes % 2 == 0, "bands are 2 lanes wide: numHashes must be even")
    tracker.own(
      minhashSignatureMd5WithSets(index, idCol, textCol, shingleSize, numHashes)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
  }

  /** Incremental dedup: match a (small) ingestion batch against an
    * existing corpus INDEX without re-deduping the corpus. Returns one row
    * per batch document that near-dup-matches an index document:
    * (`idCol`, `dup_of` = smallest matching index id).
    *
    * This is the shape continuous ingestion needs at 100 TB: the corpus
    * signature/band table is computed once (in production: precomputed and
    * stored, bucketed by band value) and NEVER reshuffles per batch — the
    * batch's band table is broadcast into it, so candidate generation is a
    * map-side join over the index. Verification joins only the candidate
    * ids back to the two shingle-set tables; the corpus text itself never
    * moves. Uses the md5-portable signature flavor so the whole path is
    * oracle-checkable; semantics (3-shingles, 8 lanes, 2-lane bands,
    * integer-arithmetic jaccard >= 1/2 verify) match [[minhashSignatureMd5]]
    * / the dedup_pairs_md5 pipeline exactly.
    */
  def dedupAgainstIndex(index: DataFrame, batch: DataFrame,
                        idCol: String, textCol: String,
                        shingleSize: Int = 3, numHashes: Int = 8,
                        tracker: CacheTracker = CacheTracker.unmanaged): DataFrame =
    dedupAgainstPreparedIndex(
      prepareDedupIndex(index, idCol, textCol, shingleSize, numHashes, tracker),
      batch, idCol, textCol, shingleSize, numHashes, tracker)

  /** [[dedupAgainstIndex]] against a pre-built [[prepareDedupIndex]]
    * table — the per-micro-batch half of streaming ingestion. Only the
    * (small) batch side is signatured and persisted here; the index
    * table arrives already persisted and is never reshuffled (the
    * candidate join broadcasts the batch bands into it).
    */
  def dedupAgainstPreparedIndex(idx: DataFrame, batch: DataFrame,
                                idCol: String, textCol: String,
                                shingleSize: Int = 3, numHashes: Int = 8,
                                tracker: CacheTracker = CacheTracker.unmanaged): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // the batch side is referenced twice (banding + verify join-back);
    // Catalyst does not CSE subplans, so persist the signature+set
    // table. Cache ownership: see [[CacheTracker]].
    val bat = tracker.own(
      minhashSignatureMd5WithSets(batch, idCol, textCol, shingleSize, numHashes).persist(lvl))
    dedupPreparedPair(idx, bat, idCol, numHashes)
  }

  /** The match core of [[dedupAgainstPreparedIndex]] with BOTH sides
    * already in [[minhashSignatureMd5WithSets]] shape — the entry point
    * an ACCRETING pipeline uses, where the batch's signatures must
    * outlive the match (they append to the standing index afterwards) so
    * signaturing inside the matcher would compute them twice. Returns
    * one row per batch document that near-dup-matches an index document:
    * (`idCol`, `dup_of` = smallest matching index id).
    */
  def dedupPreparedPair(idx: DataFrame, bat: DataFrame, idCol: String,
                        numHashes: Int = 8): DataFrame = {
    require(numHashes % 2 == 0, "bands are 2 lanes wide: numHashes must be even")
    // band value = band index ++ its two lanes — band-equality join needs
    // no (band, value) composite key
    def bands(df: DataFrame, as: String): DataFrame = df.select(col(idCol).as(as),
      explode(array((0 until numHashes / 2).map(b =>
        concat(lit(b.toString), col(s"mh${2 * b}"), col(s"mh${2 * b + 1}"))): _*)).as("bv"))
    val cand = bands(idx, "index_id")
      .join(broadcast(bands(bat, "batch_id")), "bv")
      .select(col("batch_id"), col("index_id")).distinct()
    cand
      .join(broadcast(bat.select(col(idCol).as("batch_id"), col("sh").as("sh_b"))), "batch_id")
      .join(idx.select(col(idCol).as("index_id"), col("sh").as("sh_a")), "index_id")
      .filter(size(array_intersect(col("sh_a"), col("sh_b"))) * 2 >=
        size(array_union(col("sh_a"), col("sh_b"))))
      .groupBy(col("batch_id").as(idCol))
      .agg(min(col("index_id")).as("dup_of"))
  }

  // ---------------------------------------------------- paragraph dedup

  /** Corpus-level repeated-paragraph removal (the MassiveText/CCNet
    * boilerplate rule): drop every paragraph whose exact text occurs at
    * least `minCount` times across the WHOLE corpus, then reassemble each
    * document from its surviving paragraphs in original order.
    *
    * Input is a pre-split paragraph ARRAY column — the splitting policy
    * (blank lines, fixed token windows, sentence breaks) is the caller's.
    * Output: one row per document that keeps at least one paragraph:
    * (`idCol`, `n_paras`, `n_kept`, `clean_text`).
    *
    * Scale shape: the corpus-wide occurrence count aggregates ONLY a
    * 16-byte md5 digest (paragraph text never enters that shuffle); the
    * blocklist holds just the digests appearing >= minCount times. Its
    * size is DATA-DEPENDENT — usually tiny, but a boilerplate-heavy
    * corpus with a small minCount can make it large — so the anti-join
    * strategy is deliberately left to the planner: AQE broadcasts it when
    * its runtime size is under the threshold and falls back to a
    * digest-keyed shuffle join when it is not, instead of a forced
    * broadcast OOMing the driver at exactly the corpus scale this
    * operator targets. Reassembly sorts within each document's collected
    * paragraphs; there is no global sort anywhere.
    *
    * The exploded frame is deliberately NOT persisted even though two
    * branches read it: a cached plan is AQE-wrapped and reports unknown
    * partitioning, which re-adds a corpus-wide exchange of PARAGRAPH TEXT
    * before the final per-doc rebuild. Un-cached, the repartition's
    * hash(id) stays statically known, so when the blocklist broadcasts
    * the rebuild is exchange-free and paragraph text never crosses the
    * wire; the two branches re-run only the partition-local explode+md5
    * above the stage-reused shuffle (the blocklist branch prunes to the
    * digest column).
    */
  def dropRepeatedParagraphs(df: DataFrame, idCol: String, parasCol: String,
                             minCount: Long, sep: String = " ",
                             tracker: CacheTracker = CacheTracker.unmanaged): DataFrame =
    dropRepeatedParagraphsExpr(df, idCol, col(parasCol), minCount, sep, tracker)

  /** Column-expression flavor of [[dropRepeatedParagraphs]]: `paras` is
    * EVALUATED ABOVE the fixed-width doc exchange, so an expensive
    * construction expression (the interpreted `transform`/`slice` token
    * windowing callers use) runs at the session's width instead of the
    * scan's — measured 1-task/0.8 s vs 32-way on a single-file local
    * scan. r19 shape: the digest branch carries only (id, pos, md5);
    * docs are REBUILT by filtering the original paragraph array against
    * the (dup-doc-sized, AQE-broadcast) blocked-position set — no
    * corpus-wide collect_list aggregate, and the one exchange that moves
    * text is stage-reused between the digest branch and the rebuild.
    * Null-id rows are dropped (the non-null key contract every dedup
    * operator here follows).
    */
  def dropRepeatedParagraphsExpr(df: DataFrame, idCol: String, paras: Column,
                                 minCount: Long, sep: String = " ",
                                 tracker: CacheTracker = CacheTracker.unmanaged): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    // one filter + repartition subtree shared by BOTH consumers (digest
    // branch and rebuild) — canonically identical, so AQE stage-reuses
    // the single text shuffle (the exciseDuplicateSpans discipline)
    val based = df.filter(col(idCol).isNotNull)
      .repartition(p, col(idCol))
      .select(col(idCol), paras.as("__paras"))
      .filter(col("__paras").isNotNull && size(col("__paras")) > 0)
    val ex = based
      .select(col(idCol), posexplode(col("__paras")).as(Seq("__pos", "__para")))
      .select(col(idCol), col("__pos"), md5(col("__para")).as("__h"))
    val blocklist = ex.select(col("__h"))
      .groupBy(col("__h")).agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= minCount)
      .select(col("__h"))
    // per-doc blocked POSITIONS (dup docs only — small); null-hash paras
    // (null elements) never match the inner join, so they are kept, as
    // the old anti-join kept them
    val blocked = ex.join(blocklist, Seq("__h"))
      .groupBy(col(idCol)).agg(collect_set(col("__pos")).as("__bpos"))
    // no broadcast hint — blocked size is data-dependent; AQE picks
    // broadcast when the materialized size allows it
    based.join(blocked, Seq(idCol), "left")
      .withColumn("__bp", coalesce(col("__bpos"), array().cast("array<int>")))
      .select(col(idCol),
        size(col("__paras")).cast("long").as("n_paras"),
        (size(col("__paras")) - size(col("__bp"))).cast("long").as("n_kept"),
        array_join(filter(col("__paras"),
          (_, i) => !array_contains(col("__bp"), i)), sep).as("clean_text"))
      // a doc whose every paragraph was blocked yields no row (the old
      // groupBy-over-anti-join semantics)
      .filter(col("n_kept") > 0)
  }

  // -------------------------------------------------------------- simhash

  /** 64-bit SimHash over word tokens: one [[PerDoc]] pass behind the
    * fixed-width doc exchange — distinct-token counts, votes and the bit
    * assembly are all doc-local. Tokens are counted per distinct token
    * BEFORE hashing: the vote sum per occurrence (±1 each) equals ±count
    * per distinct token, so the hash runs once per distinct token per
    * doc — a 2-5× CPU cut on natural text.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    PerDoc.texts(df, idCol, textCol, StructField("simhash", LongType, false)) {
      (_, text) => Iterator.single(Seq(simhashVotesJvm(normTextJvm(text))))
    }

  /** One document's 64 SimHash bit-votes folded to the final BIGINT
    * value — [[simhash]]'s xxhash64 algebra verbatim.
    */
  private def simhashVotesJvm(norm: String): Long = {
    val counts = new java.util.HashMap[String, Int]()
    norm.split(" ", -1).foreach { t =>
      counts.put(t, counts.get(t) + 1) // unboxToInt(null) == 0
    }
    val votes = new Array[Long](64)
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(
        org.apache.spark.unsafe.types.UTF8String.fromString(e.getKey), 42L)
      val c = e.getValue.toLong
      var j = 0
      while (j < 64) {
        votes(j) += (if (((h >>> j) & 1L) == 1L) c else -c)
        j += 1
      }
    }
    var out = 0L
    var j = 0
    while (j < 64) { if (votes(j) > 0) out |= (1L << j); j += 1 }
    out
  }

  /** One document's portable SimHash: 64 votes from the first 16 hex
    * chars of md5(token), emitted as the 16-hex-char string —
    * [[simhashMd5]]'s algebra verbatim.
    */
  private def simhashHexJvm(md: java.security.MessageDigest,
                            norm: String): String = {
    val counts = new java.util.HashMap[String, Int]()
    norm.split(" ", -1).foreach { t =>
      counts.put(t, counts.get(t) + 1) // unboxToInt(null) == 0
    }
    val votes = new Array[Long](64)
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      // hex char j/4 == nibble (high for even index) of byte j/8 —
      // byte math replaces the per-token 32-char hex build (r20)
      val d = md5Bytes(md, e.getKey)
      val c = e.getValue.toLong
      var j = 0
      while (j < 64) {
        val hi = j / 4
        val nib = if ((hi & 1) == 0) (d(hi >> 1) >> 4) & 0xf else d(hi >> 1) & 0xf
        votes(j) += (if (((nib >> (j % 4)) & 1) == 1) c else -c)
        j += 1
      }
    }
    val out = new Array[Char](16)
    var h = 0
    while (h < 16) {
      var nib = 0
      var b = 0
      while (b < 4) { if (votes(4 * h + b) > 0) nib |= (1 << b); b += 1 }
      out(h) = hexChars(nib)
      h += 1
    }
    new String(out)
  }

  /** Portable SimHash flavor: 64 bit-votes from the first 16 hex chars of
    * `md5(token)`, emitted as a 16-hex-char string — bit-identical in any
    * engine with md5 (the DuckDB oracle reproduces it). A hex-string
    * output sidesteps cross-engine signed-64-bit shift/overflow semantics
    * entirely; the production path stays [[simhash]] (xxhash64, BIGINT).
    *
    * In SQL (the DuckDB oracle) nibble decoding is
    * `ascii(c) - (c >= 'a' ? 87 : 48)` — portable where hex→int
    * conversion functions are not.
    */
  def simhashMd5(df: DataFrame, idCol: String, textCol: String): DataFrame =
    PerDoc.texts(df, idCol, textCol, StructField("simhash_hex", StringType)) {
      (md, text) => Iterator.single(Seq(simhashHexJvm(md, normTextJvm(text))))
    }

  /** SimHash near-dup candidates: docs within `maxHamming` bits. Blocking
    * on 16-bit chunks (a pair within Hamming distance 3 must agree on at
    * least one of 4 chunks) — bucket-join, never all-pairs.
    */
  def simhashNearDupPairs(sim: DataFrame, idCol: String,
                          maxHamming: Int = 3,
                          maxBucket: Int = maxBucketDefault,
                          tracker: CacheTracker = CacheTracker.unmanaged): DataFrame = {
    val chunks = sim.select(col(idCol), col("simhash"),
      posexplode(array((0 until 4).map(c =>
        shiftrightunsigned(col("simhash"), c * 16).bitwiseAND(0xFFFFL)): _*))
        .as(Seq("chunk", "cv")))
    // same oversized-bucket policy as minhashNearDupPairs: all pairs up
    // to maxBucket, chain pairs beyond it — sorted by the simhash value
    // itself, so identical/near-identical hashes (the actual duplicates)
    // sort adjacent and stay linked. Persisted for the same no-subplan-CSE
    // reason as minhashNearDupPairs — otherwise the upstream simhash
    // aggregation itself runs once per union branch. Ownership:
    // [[CacheTracker]].
    val w = Window.partitionBy("chunk", "cv")
    val withStats = tracker.own(
      chunks.withColumn("__cnt", count(lit(1)).over(w))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // codegen'd self-join candidate enumeration — same rewrite as
    // minhashNearDupPairs / cosineNearDupPairs (no collect_list + the
    // interpreted pair-expansion HOF). The retired HOF ordered pairs by
    // (id, sh) lexicographically, which equals the id-order the join
    // condition applies (ids are unique within a bucket).
    val smallIds = withStats
      .filter(col("__cnt") > 1 && col("__cnt") <= maxBucket)
      .select(col("chunk"), col("cv"), col(idCol), col("simhash"))
    val smallPairs = smallIds.as("x").join(smallIds.as("y"),
      col("x.chunk") === col("y.chunk") && col("x.cv") === col("y.cv") &&
        col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"),
        col("x.simhash").as("sh_a"), col("y.simhash").as("sh_b"))
    val wOrd = Window.partitionBy("chunk", "cv").orderBy(col("simhash"), col(idCol))
    val chainPairs = withStats
      .filter(col("__cnt") > maxBucket)
      .withColumn("__nx", lead(struct(col(idCol).as("id"), col("simhash").as("sh")), 1).over(wOrd))
      .filter(col("__nx").isNotNull)
      .select(
        least(col(idCol), col("__nx.id")).as("id_a"),
        greatest(col(idCol), col("__nx.id")).as("id_b"),
        when(col(idCol) < col("__nx.id"), col("simhash")).otherwise(col("__nx.sh")).as("sh_a"),
        when(col(idCol) < col("__nx.id"), col("__nx.sh")).otherwise(col("simhash")).as("sh_b"))
    smallPairs.union(chainPairs).distinct()
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  // ------------------------------------ standing 64-bit-hash index probe

  /** Chunk-explode a (`extra`..., id, 64-bit hash) frame into the same
    * 4×16-bit blocking rows [[simhashNearDupPairs]] buckets on —
    * (extra..., id, full hash, chunk index, chunk value). `extra` columns
    * (e.g. a modality tag) join into the blocking key, so an image hash
    * can never pair with an audio hash that happens to share chunk bits.
    */
  private def hashChunkRows(df: DataFrame, idCol: String, hashCol: String,
                            extra: Seq[String]): DataFrame = {
    val cols = extra.map(col) ++ Seq(col(idCol), col(hashCol).as("__h"),
      posexplode(array((0 until 4).map(c =>
        shiftrightunsigned(col(hashCol), c * 16).bitwiseAND(0xFFFFL)): _*))
        .as(Seq("chunk", "cv")))
    df.select(cols: _*)
  }

  /** The MEDIA analogue of [[prepareDedupIndex]]: chunk-explode the
    * standing corpus' perceptual hashes (image aHash, audio frame-energy
    * hash — any 64-bit hash) ONCE and persist the blocking table. At
    * corpus scale this is 4 small rows per item — the payload bytes are
    * decoded exactly once upstream and never enter the index. Probe
    * micro-batches with [[hashDedupAgainstPreparedIndex]]; release via
    * `tracker` when ingestion stops.
    */
  def prepareHashIndex(idx: DataFrame, idCol: String, hashCol: String,
                       extra: Seq[String] = Nil,
                       tracker: CacheTracker = CacheTracker.unmanaged): DataFrame =
    tracker.own(hashChunkRows(idx, idCol, hashCol, extra)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Match a (small) ingestion batch of 64-bit perceptual hashes against
    * a standing [[prepareHashIndex]] table: one row per batch item within
    * `maxHamming` bits of some index item — (extra..., `idCol`, `dup_of`
    * = smallest matching index id). Blocking is lossless for maxHamming
    * ≤ 3 by pigeonhole (≤3 differing bits leave one of 4 chunks equal).
    *
    * Scale shape, mirroring [[dedupAgainstPreparedIndex]]: the batch's
    * chunk rows are BROADCAST into the persisted index — the index never
    * reshuffles per trigger, candidate generation is a map-side join,
    * and only the arriving batch is decoded/hashed. A same pair matching
    * on several chunks needs no distinct: the min/groupBy absorbs it.
    */
  def hashDedupAgainstPreparedIndex(idxChunks: DataFrame, batch: DataFrame,
                                    idCol: String, hashCol: String,
                                    extra: Seq[String] = Nil,
                                    maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4x16-bit chunk blocking is lossless only to Hamming 3")
    val b = hashChunkRows(batch, idCol, hashCol, extra)
      .withColumnRenamed(idCol, "__bid").withColumnRenamed("__h", "__bh")
    idxChunks.withColumnRenamed(idCol, "__iid")
      .join(broadcast(b), extra ++ Seq("chunk", "cv"))
      .filter(bit_count(col("__h").bitwiseXOR(col("__bh"))) <= maxHamming)
      .groupBy(extra.map(col) :+ col("__bid"): _*)
      .agg(min(col("__iid")).as("dup_of"))
      .withColumnRenamed("__bid", idCol)
  }

}
