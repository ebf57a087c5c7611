package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Connected components over a pair list — the step that turns near-dup
  * PAIRS (from MinHash/SimHash/embedding LSH) into duplicate GROUPS, so a
  * pipeline can keep one representative per group.
  *
  * Algorithm: hooking + shortcutting. Every node starts labeled with its
  * own id; each round (1) HOOKS: a node adopts the smallest label among
  * itself and its neighbors, then (2) SHORTCUTS: a node jumps to its
  * label's label (pointer doubling). Shortcutting makes label chains
  * collapse exponentially, so convergence is O(log diameter) rounds — a
  * 1000-hop chain resolves in ~10 rounds, not 1000. The driver loop is a
  * loop of DISTRIBUTED jobs (the canonical Spark iterative-graph shape,
  * same as GraphX Pregel): two shuffles per round, state persisted and
  * lineage cut (localCheckpoint) so plans don't snowball.
  *
  * SMALL-GRAPH FAST PATH: up to [[LocalThreshold]] measured edges
  * (1M ≈ 32 MB on the driver, the same bounded-driver-action budget as
  * the IVF training sample), the edge list is collected and solved with
  * a local union-find — identical output, none of the per-round job
  * latency that dominates iterative loops on small data. The distributed
  * loop is the ≥threshold path and the only one that touches
  * unbounded-scale graphs.
  */
object Components {

  /** Raw edge rows up to which [[connectedComponents]] solves on the
    * driver (see the object doc).
    */
  private[operators] val LocalThreshold = 1000000L

  /** (id, component) for every node appearing in `edges`; component = the
    * smallest node id reachable from `id`. Ids are normalized to LONG in
    * the output (both paths), so callers can join on them uniformly.
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIter: Int = 20): DataFrame =
    connectedComponents(edges, srcCol, dstCol, maxIter, LocalThreshold)

  /** [[connectedComponents]] with the small-graph bound as a parameter;
    * specs pass 0 to force the distributed loop.
    */
  private[operators] def connectedComponents(edges: DataFrame, srcCol: String,
                                             dstCol: String, maxIter: Int,
                                             localThreshold: Long): DataFrame = {
    // symmetrize once; hash-partition by the join key BEFORE caching so
    // the per-round hook join never reshuffles the (big) edge side — only
    // the (small) label table moves each round. Partition count adapts to
    // the MEASURED edge count (the count materializes the cache we need
    // anyway): an iterative loop's per-round cost at small scale is task
    // scheduling, not data, so a 4k-edge graph runs on 1 partition while
    // a billion-edge graph still gets full parallelism (~1M edges each).
    val pairs = edges
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
    // the size check counts RAW pairs (r20): union-find is direction-
    // and duplicate-insensitive (find/union touch both endpoints and
    // re-unions are no-ops), so the small path collects the raw pair
    // list directly — the symmetrize-union, its corpus-wide distinct
    // exchange, and its persist exist only for the DISTRIBUTED loop.
    // One bounded collect of at most localThreshold + 1 rows is both the
    // size check and the small path's fetch (one job, as in LinkGraph);
    // the driver-memory bound is unchanged. The threshold counts raw
    // pairs, not distinct-sym edges — strictly more conservative (raw ≥
    // distinct-sym/2, and pair generators upstream already dedup pairs).
    val head = pairs.limit(math.min(localThreshold, Int.MaxValue - 1L).toInt + 1).collect()
    if (head.length <= localThreshold) {
      val result = localUnionFind(head.map(r => (r.getLong(0), r.getLong(1))))
      val spark = edges.sparkSession
      import spark.implicits._
      return result.toSeq.toDF("id", "component")
    }
    // materialize the caller's edge pipeline ONCE before symmetrizing:
    // the self-union references it twice, and without this persist the
    // whole upstream pair-generation plan (LSH banding etc.) executes
    // once per union branch (no subplan CSE in Catalyst)
    val e0 = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    val symRaw = e0
      .union(e0.select(col("b").as("a"), col("a").as("b")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val edgeCount = symRaw.count() // materializes symRaw — e0 is done
    e0.unpersist(blocking = false)
    val defaultP = edges.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val p = math.max(1L, math.min(defaultP.toLong, edgeCount / 1000000L + 1L)).toInt
    // localCheckpoint (not just persist) on the loop-invariant edge table:
    // a persisted DataFrame keeps its full LOGICAL lineage, so every
    // pointer-doubling round would otherwise re-plan the caller's entire
    // pair-generation pipeline ~4× per materialization. Cutting lineage
    // here makes per-round planning O(round shape), independent of
    // upstream depth.
    val sym = symRaw.repartition(p, col("a"))
      .localCheckpoint(eager = true)
    var labels = sym.select(col("a").as("id")).distinct()
      .withColumn("comp", col("id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // monotone convergence witness: sum of labels strictly decreases while
    // any label can still shrink (decimal accumulator — no long overflow).
    // sum of an EMPTY table is NULL — map it to zero so a pair-less input
    // (a clean corpus) converges immediately instead of NPE-ing
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val s = df.agg(sum(col("comp").cast("decimal(38,0)"))).head.getDecimal(0)
      if (s == null) java.math.BigDecimal.ZERO else s
    }
    var prevSum = labelSum(labels)
    var iter = 0
    var converged = false
    // one hook + shortcut pass. hooked is persisted because the shortcut
    // self-join reads it twice — without the persist the whole hook
    // subplan (2 shuffles) would execute once per join side.
    def round(cur: DataFrame): (DataFrame, DataFrame) = {
      val hooked = sym.join(cur, col("a") === col("id"))
        .select(col("b").as("id"), col("comp"))
        .union(cur.select(col("id"), col("comp")))
        .groupBy("id").agg(min("comp").as("comp"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      // shortcut: comp ← comp(comp). Every comp value is a node id (labels
      // start as ids and only copy existing labels), so the inner self-join
      // always matches, and comp(comp) ≤ comp by construction.
      val next = hooked.join(
        hooked.select(col("id").as("__cid"), col("comp").as("__ccomp")),
        col("comp") === col("__cid"))
        .select(col("id"), col("__ccomp").as("comp"))
      (next, hooked)
    }
    // Per-iteration lineage cut with STATS SCRUB. localCheckpoint alone is
    // not enough for an iterative loop: the LogicalRDD it produces carries
    // the origin plan's ESTIMATED statistics forward, and each round's
    // size estimate is a product over its join tree — so the carried
    // sizeInBytes COMPOUNDS multiplicatively across iterations
    // (digits × ~5 per round). By iteration ~8-10 the estimates are
    // BigIntegers with millions of digits and the driver spends minutes
    // per round inside Toom-Cook multiplication in Spark's size-only
    // stats visitor before any executor work starts (observed on the
    // 100×-saturated near-dup corpus, the first input whose pair count
    // crossed the distributed-path threshold). Rebuilding the DataFrame
    // from the checkpointed RDD drops originStats — the leaf reverts to
    // defaultSizeInBytes, so every round plans against flat, bounded
    // stats. The Row round-trip touches only the node-count-sized label
    // table, and AQE still picks broadcast/skew shapes from RUNTIME sizes.
    var labelsCk: DataFrame = null // checkpoint backing `labels` — its
    // cache must outlive every action on the rebuilt DF reading it
    val spark = edges.sparkSession
    while (!converged && iter < maxIter) {
      // TWO logical rounds per materialization + convergence check: the
      // driver-side actions (checkpoint job + sum job) dominate each loop
      // turn at low data volume, and doubling the work between actions
      // halves them — worst case is one wasted (already-converged) round.
      val (mid, h1) = round(labels)
      val (next, h2) = round(mid)
      val ck = next.localCheckpoint(eager = true)
      h1.unpersist(blocking = false)
      h2.unpersist(blocking = false)
      if (labelsCk != null) CacheTracker.freeCheckpoint(labelsCk)
      else labels.unpersist(blocking = false) // iteration 1: the persisted seed
      labelsCk = ck
      labels = spark.createDataFrame(ck.rdd, ck.schema)
      val s = labelSum(labels)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      iter += 1
    }
    CacheTracker.freeCheckpoint(sym)
    symRaw.unpersist(blocking = false)
    labels.select(col("id"), col("comp").as("component"))
  }

  /** Union-find with path halving; roots are always the component MIN id
    * (unions link the larger root under the smaller), so `find` yields
    * the same component labels as the distributed loop. Direction- and
    * duplicate-insensitive: raw (a, b) pairs need no symmetrize/distinct
    * (r20 — the small path feeds them directly).
    */
  private def localUnionFind(sym: Array[(Long, Long)]): Array[(Long, Long)] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = parent.getOrElseUpdate(x, x)
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    sym.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toArray.map(id => id -> find(id))
  }

  /** Keep one row per duplicate group: rows of `df` whose id is NOT in a
    * component, or IS its component's representative (the min id). The
    * standard tail step of near-dup dedup: pairs → components → filter.
    */
  def keepRepresentatives(df: DataFrame, idCol: String,
                          components: DataFrame): DataFrame = {
    val dupIds = components.filter(col("id") =!= col("component"))
      .select(col("id").as("__dup_id"))
    df.join(dupIds, df(idCol) === col("__dup_id"), "left_anti")
  }

  /** Keep the HIGHEST-QUALITY member of each duplicate family instead of
    * the min id — what curation pipelines actually want: when a crawl
    * yields five near-copies, keep the one the quality model scores
    * best, ties to the lowest id (so an all-equal-score family degrades
    * exactly to [[keepRepresentatives]]). Singletons (ids absent from
    * `components`) are their own family and always survive.
    *
    * Output = `df`'s columns plus `family` (the component label, = the
    * family's min id from [[connectedComponents]]; a singleton labels
    * itself).
    *
    * Scale shape: one left join onto the component labels (family-member
    * ids only — small relative to the corpus, AQE may broadcast it) and
    * ONE family-keyed exchange: `max_by(struct(row), struct(score, -id))`
    * is a map-side-combinable aggregate, so each partition sends one
    * candidate row per family it touches — no window sort, no join-back,
    * and hot families (the adversarial all-duplicates corpus) reduce
    * before the shuffle.
    */
  def keepBestRepresentatives(df: DataFrame, idCol: String,
                              components: DataFrame,
                              scoreCol: String): DataFrame = {
    val labeled = df
      .join(components.select(col("id"), col("component")),
        df(idCol) === col("id"), "left")
      .withColumn("family", coalesce(col("component"), df(idCol)))
      .drop("id", "component")
    val valueCols = df.columns.toSeq
    labeled.groupBy(col("family"))
      .agg(max_by(struct(valueCols.map(col): _*),
        struct(col(scoreCol), -col(idCol))).as("__best"))
      .select(col("family") +: valueCols.map(c => col(s"__best.$c").as(c)): _*)
  }
}
