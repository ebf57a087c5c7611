package graft.operators

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Link-graph centrality for crawl-scale corpus curation: rank pages by
  * the structure of who links to whom, the standard signal for deciding
  * which slice of a 100 TB crawl is worth keeping (seed-list quality,
  * crawl frontier ordering, per-domain quality priors).
  *
  * PageRank here is FIXED-POINT INTEGER arithmetic end to end: ranks are
  * scaled longs (`totalScale` = total rank mass, default 1e12), each
  * edge carries `rank div outdeg`, damping is `(num * x) div den`. Two
  * reasons, both load-bearing:
  *   - Exactness/portability: long sums are associative — the result is
  *     bit-identical regardless of partitioning, task order, or engine,
  *     so a SQL oracle can replay the iteration literally. Double-based
  *     PageRank differs per shuffle order and can never be hash-gated.
  *   - Scale: the iterating state is (id long, rank long) — 16 bytes a
  *     node, no growth across iterations.
  *
  * Semantics per iteration (Page et al. 1998, the dangling-mass
  * redistribution variant): every node's rank splits evenly over its
  * out-edges (integer division truncates; parallel edges count twice —
  * multigraph semantics); nodes with NO out-edges (dangling) donate
  * their whole rank to the uniform pool; then
  * `rank' = teleport + (num * (inflow + danglingShare)) div den` with
  * `teleport = ((den-num) * totalScale) div (den * n)` and
  * `danglingShare = danglingMass div n`. Truncation bleeds a few units
  * of mass per iteration (bounded by n + outdeg sum) — irrelevant for
  * ranking and identical in any faithful replay.
  *
  * Scale shape: out-degrees are joined to the edge list ONCE and the
  * result is hash-partitioned by `src` and lineage-cut — the big,
  * loop-invariant side never reshuffles. Each iteration is the
  * canonical two-exchange pair (ranks re-key to `src` for the
  * contribution join, contributions re-key to `dst` for the sum) plus a
  * 1-row dangling-mass aggregate that re-enters as a broadcast — no
  * driver-side collect in the loop. Ranks are localCheckpoint'd each
  * iteration so plan depth and carried stats stay O(1) in the iteration
  * count (same rationale as [[Components.connectedComponents]]).
  *
  * Small inputs: while edge rows + node rows (+ reset rows) ≤
  * [[LocalThreshold]], [[pagerank]] and [[hits]] collect those tables
  * once and run every round on the driver over primitive arrays,
  * returning a local DataFrame. The edges are sized by the count the
  * distributed loop needs anyway (one job, no rows shipped); the node
  * ids and reset rows by one collect each of at most the budget left,
  * so a graph past the bound on edges ships nothing to the driver. At
  * this size each distributed round is pure scheduling (a join, an
  * aggregate, a broadcast and an eager checkpoint), so the local loop
  * pays a few jobs in all instead of several per round. The bound was
  * measured on random graphs of 4 edges per node, 5 rounds, `local[4]`
  * on a 4-core host: at 1M rows (800k edges) the local loop took
  * 2.8–3.2 s against 8.8–9.8 s distributed for PageRank and 2.6–3.1 s
  * against 11.8 s for HITS, within Spark's default 1 GiB driver heap as
  * in a 4 GiB one; at 2M rows it took 6.0 s. The local loop replays the
  * distributed algebra exactly — the same rows the joins keep, the same
  * `div` truncation, `*Exact` arithmetic where ANSI SQL raises on
  * overflow — so both paths return the same rows and schema.
  */
object LinkGraph {

  /** Node rows + edge rows (+ reset rows) up to which [[pagerank]] and
    * [[hits]] run their rounds on the driver (see the object doc).
    */
  private[operators] val LocalThreshold = 1000000L

  /** (id, rank) for every node in `nodes`, after `iters` synchronous
    * power-iteration rounds. `rank` is a long on the `totalScale` scale
    * (sum over nodes ≈ totalScale). Edges pointing outside `nodes` leak
    * their mass (standard open-web semantics); callers wanting a closed
    * graph should pre-filter edges.
    *
    * `reset`: optional personalization vector (must expose `idCol` and
    * a `weight` column) — the TrustRank/topic-sensitive variant. Teleport mass AND dangling mass
    * redistribute proportionally to weight instead of uniformly
    * (`teleport_i = ((den-num)·scale·w_i) div (den·W)`,
    * `danglingShare_i = (dm·w_i) div W`), so rank flows outward from
    * high-weight seed pages — the standard crawl-curation move when a
    * trusted seed list should anchor quality. Weights are small
    * non-negative longs (the product `(den-num)·totalScale·max(w)` must
    * fit a long — fine for weights up to ~1e5 at the default scale);
    * nodes absent from `reset` weigh 0 and receive only link inflow.
    * With no `reset` the math reduces exactly to uniform PageRank
    * (w = 1, W = n).
    *
    */
  def pagerank(edges: DataFrame, nodes: DataFrame,
               srcCol: String, dstCol: String, idCol: String,
               iters: Int,
               totalScale: Long = 1000000000000L,
               dampNum: Long = 85, dampDen: Long = 100,
               reset: Option[DataFrame] = None): DataFrame =
    pagerank(edges, nodes, srcCol, dstCol, idCol, iters, totalScale,
      dampNum, dampDen, reset, LocalThreshold)

  /** [[pagerank]] with the small-graph bound as a parameter; specs pass
    * 0 to force the distributed loop.
    */
  private[operators] def pagerank(edges: DataFrame, nodes: DataFrame,
                                  srcCol: String, dstCol: String, idCol: String,
                                  iters: Int, totalScale: Long,
                                  dampNum: Long, dampDen: Long,
                                  reset: Option[DataFrame],
                                  localThreshold: Long): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters must be in [1, 50], got $iters")
    require(dampNum > 0 && dampNum < dampDen, "need 0 < dampNum < dampDen")
    val spark = nodes.sparkSession
    // driver-side long constant so the SQL literals below never ride on
    // 32-bit intermediate arithmetic (ANSI mode faults int overflow);
    // multiplyExact so an oversized totalScale fails instead of wrapping
    val tnum = Math.multiplyExact(dampDen - dampNum, totalScale)
    // materialize the caller's edge pipeline ONCE: it feeds both the
    // out-degree aggregate and the contribution join side, and the count
    // sizes the loop's partitioning (same measured-width discipline as
    // Components.connectedComponents — an iterative loop's per-round cost
    // at small scale is task scheduling, not data, so a 10k-edge graph
    // runs its rounds on 1 partition while a billion-edge graph still
    // gets full parallelism at ~1M edges per partition, capped at the
    // session's shuffle width)
    val e1 = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val edgeCount = rowCount(e1)
    val ids = nodes.select(col(idCol).cast("long").as("id"))
    val weights = reset.map(_.select(col(idCol).cast("long").as("id"),
      col("weight").cast("long").as("w")))
    collectSmall(e1, edgeCount, ids +: weights.toSeq, localThreshold) match {
      case Some(es :: nodeRows :: resetRows) =>
        val nodeIds = nodeRows.distinct
        require(nodeIds.nonEmpty, "empty node set")
        val ranks = localPagerank(nodeIds, es, resetRows.headOption,
          iters, totalScale / nodeIds.length, tnum, dampNum, dampDen)
        e1.unpersist(blocking = false)
        return spark.createDataFrame(ranks.toSeq.asJava, StructType(Seq(
          ids.schema("id"), StructField("rank", LongType))))
      case _ =>
    }
    val defaultP0 = spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    // the node table is cached, and CACHED plans keep their build-time
    // shuffle width (AQE does not re-coalesce inside InMemoryRelation by
    // default) — so every per-iteration stage that probes or rebuilds the
    // rank table inherits THIS width for the whole loop. Size it like the
    // edge table: measured rows / target, capped at the session width.
    // The repartition is a no-op exchange at full width (distinct
    // already leaves hashpartitioning(id, defaultP)).
    val nsRaw = ids.distinct().persist(StorageLevel.MEMORY_AND_DISK)
    val n = nsRaw.count() // one bounded driver scalar; all per-iteration
    // aggregates stay distributed
    require(n > 0, "empty node set")
    val pn = math.max(1L, math.min(defaultP0.toLong, n / 1000000L + 1L)).toInt
    val ns0 = nsRaw.repartition(pn, col("id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val defaultP = spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val p = math.max(1L, math.min(defaultP.toLong, edgeCount / 1000000L + 1L)).toInt
    // loop-invariant big side: (src, dst, outdeg), pre-keyed by src so
    // the per-round contribution join only moves the narrow rank table
    val deg = e1.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val edgesDeg = e1
      .join(deg, "src")
      .repartition(p, col("src"))
      .localCheckpoint(eager = true)
    // attach the personalization weight (uniform 1 without `reset`, else
    // the caller's `weight` column; absent nodes weigh 0) AND the
    // dangling flag. r20: dangling MEMBERSHIP is loop-invariant, so it
    // rides the node table as a boolean and each round's mass is a
    // flat filtered aggregate over the checkpointed ranks — the old
    // per-round `dangling ⋈ ranks` join (one join + exchange per
    // iteration) is gone.
    val withW = weights match {
      case Some(r) =>
        ns0.join(r, Seq("id"), "left")
          .select(col("id"), coalesce(col("w"), lit(0L)).as("w"))
      case None => ns0.select(col("id"), lit(1L).as("w"))
    }
    val ns = withW
      .join(deg.select(col("src").as("id"), lit(true).as("__has_out")),
        Seq("id"), "left")
      .select(col("id"), col("w"), col("__has_out").isNull.as("__dang"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val bigW = ns.agg(coalesce(sum("w"), lit(0L)).as("s")).head.getLong(0)
    require(bigW > 0, "total reset weight must be positive")
    val tden = Math.multiplyExact(dampDen, bigW)
    e1.unpersist(blocking = false)
    var ranksCk = ns.select(col("id"), col("__dang"), lit(totalScale / n).as("r"))
      .localCheckpoint(eager = true)
    var ranks = ranksCk
    var iter = 0
    while (iter < iters) {
      val contribs = edgesDeg
        .join(ranks.select(col("id").as("src"), col("r")), "src")
        .select(col("dst"), expr("r div outdeg").as("c"))
        .groupBy("dst").agg(sum("c").as("c"))
      // 1-row mass aggregate, broadcast back in — sum of an empty set is
      // NULL, so a dangling-free graph coalesces to 0; the flag makes it
      // a scan of the checkpointed ranks, never a join (r20)
      val dm = ranks.agg(
        coalesce(sum(org.apache.spark.sql.functions.when(col("__dang"), col("r"))),
          lit(0L)).as("dm"))
      val next = ns
        .join(contribs.withColumnRenamed("dst", "id"), Seq("id"), "left")
        .crossJoin(broadcast(dm))
        .select(col("id"), col("__dang"),
          (expr(s"($tnum * w) div $tden") +
            expr(s"($dampNum * (coalesce(c, 0L) + ((dm * w) div $bigW)))" +
              s" div $dampDen")).as("r"))
      val ck = next.localCheckpoint(eager = true)
      CacheTracker.freeCheckpoint(ranksCk)
      ranksCk = ck
      ranks = spark.createDataFrame(ck.rdd, ck.schema)
      iter += 1
    }
    CacheTracker.freeCheckpoint(edgesDeg)
    ns.unpersist(blocking = false)
    ns0.unpersist(blocking = false)
    nsRaw.unpersist(blocking = false)
    ranks.select(col("id"), col("r").as("rank"))
  }

  /** Rows of a frame, counted in one job that ships no rows to the
    * driver and fills the frame's cache when it is persisted.
    */
  private def rowCount(df: DataFrame): Long = df.queryExecution.toRdd.count()

  /** The edges, then each of `others`, collected when `edgeCount` plus
    * the others' rows ≤ `localThreshold`; else None. Each other table is
    * one collect of at most its remaining budget + 1 rows, read only
    * once everything before it fits, so its size check and its fetch are
    * the same job. Above the bound on edges alone nothing is collected;
    * a table past the budget the edges leave costs one discarded collect
    * of at most that budget.
    */
  private def collectSmall(edges: DataFrame, edgeCount: Long,
                           others: Seq[DataFrame],
                           localThreshold: Long): Option[List[Array[Row]]] = {
    def fetch(dfs: List[DataFrame], budget: Long): Option[List[Array[Row]]] =
      dfs match {
        case Nil => Some(Nil)
        case df :: rest =>
          val rows = df.limit(math.min(budget, Int.MaxValue - 1L).toInt + 1).collect()
          if (rows.length > budget) None
          else fetch(rest, budget - rows.length).map(rows :: _)
      }
    if (edgeCount > localThreshold) None
    else fetch(others.toList, localThreshold - edgeCount).map(edges.collect() :: _)
  }

  /** The sorted distinct non-null longs in the given (rows, column)
    * pairs. A value's slot is its index, found by binary search, so the
    * driver loops index primitive arrays, not boxed hash maps.
    */
  private def keysOf(cols: (Array[Row], Int)*): Array[Long] = {
    val b = new mutable.ArrayBuilder.ofLong
    for ((rows, i) <- cols; r <- rows) if (!r.isNullAt(i)) b += r.getLong(i)
    val a = b.result()
    java.util.Arrays.sort(a)
    var n = 0
    for (v <- a) if (n == 0 || a(n - 1) != v) { a(n) = v; n += 1 }
    java.util.Arrays.copyOf(a, n)
  }

  /** Each row's slot of column `i` in `keys`; -1 for a null or absent value. */
  private def slotsOf(rows: Array[Row], i: Int, keys: Array[Long]): Array[Int] =
    rows.map(r => if (r.isNullAt(i)) -1
      else math.max(-1, java.util.Arrays.binarySearch(keys, r.getLong(i))))

  /** [[pagerank]]'s rounds on the driver over the collected node ids,
    * (src, dst) edges and optional (id, weight) reset rows. Node rows are
    * the ones `ns` holds: the left join to `reset` repeats a node once
    * per matching weight row, and weighs a node without one (a null id
    * included) 0. Every edge of a source counts in its out-degree, but
    * only edges between a node row and a non-null `dst` carry rank, as
    * the inner joins keep them; sums for a `dst` outside the nodes are
    * still formed, so they overflow where the aggregate would.
    */
  private def localPagerank(ids: Array[Row], es: Array[Row],
                            resetRows: Option[Array[Row]], iters: Int,
                            r0: Long, tnum: Long,
                            dampNum: Long, dampDen: Long): Array[Row] = {
    import Math.{addExact, multiplyExact}
    import java.util.Arrays.binarySearch
    val weights = resetRows.map(_.filterNot(_.isNullAt(0))
      .groupMap(_.getLong(0))(r => if (r.isNullAt(1)) 0L else r.getLong(1)))
    def weightsOf(id: Option[Long]): Array[Long] =
      weights.fold(Array(1L))(m => id.flatMap(m.get).getOrElse(Array(0L)))
    // node rows: a null id's first, then each key's; row j belongs to
    // keys(rowKey(j)), or to the null id where rowKey(j) = -1
    val keys = keysOf((ids, 0))
    val nullW = if (ids.exists(_.isNullAt(0))) weightsOf(None) else Array.empty[Long]
    val keyW = keys.map(k => weightsOf(Some(k)))
    val w = nullW ++ keyW.flatten
    val rowKey = Array.fill(nullW.length)(-1) ++
      keyW.indices.toArray.flatMap(g => Array.fill(keyW(g).length)(g))
    val bigW = w.foldLeft(0L)(addExact)
    require(bigW > 0, "total reset weight must be positive")
    val tden = Math.multiplyExact(dampDen, bigW)
    val srcKeys = keysOf((es, 0))
    val outdeg = new Array[Long](srcKeys.length)
    val srcDeg = slotsOf(es, 0, srcKeys)
    srcDeg.foreach(s => if (s >= 0) outdeg(s) += 1)
    // inflow sums: one slot per distinct non-null dst
    val dstKeys = keysOf((es, 1))
    val dang = rowKey.map(g => g < 0 || binarySearch(srcKeys, keys(g)) < 0)
    val rowIn = rowKey.map(g => if (g < 0) -1 else math.max(-1, binarySearch(dstKeys, keys(g))))
    // the rank-carrying edges: from a node key to a dst slot
    val srcNode = slotsOf(es, 0, keys)
    val dstSlot = slotsOf(es, 1, dstKeys)
    val live = es.indices.toArray.filter(k => srcNode(k) >= 0 && dstSlot(k) >= 0)
    val eKey = live.map(srcNode)
    val eSlot = live.map(dstSlot)
    val eDeg = live.map(k => outdeg(srcDeg(k)))
    // rows of key g, as a range of row indices
    val keyStart = keyW.scanLeft(nullW.length)(_ + _.length)
    var r = Array.fill(w.length)(r0)
    for (_ <- 1 to iters) {
      val c = new Array[Long](dstKeys.length)
      for (k <- live.indices; j <- keyStart(eKey(k)) until keyStart(eKey(k) + 1))
        c(eSlot(k)) = addExact(c(eSlot(k)), r(j) / eDeg(k))
      val dm = w.indices.foldLeft(0L)((m, j) => if (dang(j)) addExact(m, r(j)) else m)
      r = Array.tabulate(w.length) { j =>
        val cj = if (rowIn(j) < 0) 0L else c(rowIn(j))
        addExact(multiplyExact(tnum, w(j)) / tden,
          multiplyExact(dampNum, addExact(cj, multiplyExact(dm, w(j)) / bigW)) / dampDen)
      }
    }
    Array.tabulate(w.length)(j => Row(if (rowKey(j) < 0) null else keys(rowKey(j)), r(j)))
  }

  /** HITS (Kleinberg): mutually-reinforcing hub and authority scores —
    * the complement to [[pagerank]] for crawl curation, separating
    * navigational HUB pages (link out to good content) from content
    * AUTHORITIES (linked to by good hubs). A directory page scores high
    * hub / low authority; a canonical reference page the reverse —
    * a single centrality can't make that distinction.
    *
    * Same fixed-point integer discipline as [[pagerank]], with HITS'
    * extra wrinkle — per-round normalization — done in integers too:
    * `x_norm = x_raw div max(1, (Σx_raw) div scale)`, which keeps every
    * normalized score in [0, scale] and is exactly replayable in SQL
    * (`greatest(1, …)` guards the sub-scale-total case). Raw sums are
    * bounded by `edges · scale`, so the default 1e6 scale is safe to
    * ~1e12 edges. Per round: authority(v) = Σ hub(u) over in-edges,
    * normalize; hub(u) = Σ authority(v) over out-edges, normalize.
    *
    * Scale shape: TWO lineage-cut edge copies, one hash-partitioned by
    * `src` (for the hub-side join) and one by `dst` (authority side), so
    * neither per-round join reshuffles the edge list — only the narrow
    * (id, score) tables and the grouped partial sums move; the two
    * normalization totals are 1-row aggregates re-entering as
    * broadcasts. Both score tables are localCheckpoint'd per round.
    * Up to [[LocalThreshold]] node rows + edge rows, the rounds run on
    * the driver instead, as in [[pagerank]].
    */
  def hits(edges: DataFrame, nodes: DataFrame,
           srcCol: String, dstCol: String, idCol: String,
           iters: Int, scale: Long = 1000000L): DataFrame =
    hits(edges, nodes, srcCol, dstCol, idCol, iters, scale, LocalThreshold)

  /** [[hits]] with the small-graph bound as a parameter; specs pass 0 to
    * force the distributed loop.
    */
  private[operators] def hits(edges: DataFrame, nodes: DataFrame,
                              srcCol: String, dstCol: String, idCol: String,
                              iters: Int, scale: Long,
                              localThreshold: Long): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters must be in [1, 50], got $iters")
    val spark = nodes.sparkSession
    val defaultP = spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    // same measured-width discipline as [[pagerank]]: the persist also
    // stops the caller's edge pipeline from executing once per keyed copy
    val e0 = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val edgeCount = rowCount(e0)
    val ids = nodes.select(col(idCol).cast("long").as("id"))
    collectSmall(e0, edgeCount, Seq(ids), localThreshold) match {
      case Some(List(es, nodeRows)) =>
        val scores = localHits(nodeRows.distinct, es, iters, scale)
        e0.unpersist(blocking = false)
        return spark.createDataFrame(scores.toSeq.asJava, StructType(Seq(
          ids.schema("id"), StructField("hub", LongType, nullable = false),
          StructField("authority", LongType, nullable = false))))
      case _ =>
    }
    val p = math.max(1L, math.min(defaultP.toLong, edgeCount / 1000000L + 1L)).toInt
    val eBySrc = e0.repartition(p, col("src")).localCheckpoint(eager = true)
    val eByDst = e0.repartition(p, col("dst")).localCheckpoint(eager = true)
    e0.unpersist(blocking = false)
    // node table sized to the measured width too (same rationale as
    // [[pagerank]]: cached plans keep their build-time shuffle width, and
    // every per-round stage inherits it)
    val ns = ids.distinct()
      .repartition(p, col("id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // checkpoints the latest scores still read; each round frees the
    // previous round's once its own are materialized
    val live = mutable.ArrayBuffer.empty[DataFrame]
    def ck(df: DataFrame): DataFrame = {
      val c = df.localCheckpoint(eager = true)
      live += c
      spark.createDataFrame(c.rdd, c.schema)
    }
    // x_raw -> joined back to all nodes (absent = 0), divided by the
    // broadcast scaled total. `raw` is persisted for the duration of the
    // (eager) checkpoint: it feeds TWO broadcast builds — the 1-row total
    // AND the join side itself (AQE broadcasts the small raw relation) —
    // and Catalyst does not CSE subplans, so without the persist the
    // whole join+aggregate subtree executes once per broadcast.
    // r19: the loop carries only nodes with NONZERO raw sums. A node
    // absent from the per-round aggregate would normalize to 0 and
    // contribute 0 to the next round's sums — algebra-identical to
    // carrying it — so the per-round join back to ALL nodes (a full
    // node-table join + checkpoint every half-round, measured as ~5
    // jobs/half-round of pure scheduling at small scale) happens ONCE at
    // the end instead. What gets checkpointed per half-round is the RAW
    // aggregate (one narrow (id, x) table); the normalized view is a
    // flat projection over that LogicalRDD + the broadcast 1-row total,
    // cheap for both consumers (next round's join, final output).
    def normalize(raw: DataFrame, outCol: String): DataFrame = {
      val r = ck(raw)
      val total = r.agg(coalesce(sum("x"), lit(0L)).as("t"))
      r.crossJoin(broadcast(total))
        .select(col("id"),
          expr(s"x div greatest(1L, t div $scale)").as(outCol))
    }
    var hubs = ns.select(col("id"), lit(scale).as("hub"))
    var auths: DataFrame = null
    var iter = 0
    while (iter < iters) {
      val stale = live.toList
      auths = normalize(
        eBySrc.join(hubs.withColumnRenamed("id", "src"), "src")
          .groupBy(col("dst").as("id")).agg(sum("hub").as("x")),
        "authority")
      hubs = normalize(
        eByDst.join(auths.withColumnRenamed("id", "dst"), "dst")
          .groupBy(col("src").as("id")).agg(sum("authority").as("x")),
        "hub")
      stale.foreach(CacheTracker.freeCheckpoint)
      live --= stale
      iter += 1
    }
    // absent = zero, attached once: a node no hub/authority mass ever
    // reached scores 0 under the carried-zeros formulation too. The
    // assembly is checkpointed (one job) so `ns` can be unpinned — the
    // returned plan must not reference the unpersisted cache.
    val out = ck(ns
      .join(hubs, Seq("id"), "left")
      .join(auths, Seq("id"), "left")
      .select(col("id"), coalesce(col("hub"), lit(0L)).as("hub"),
        coalesce(col("authority"), lit(0L)).as("authority")))
    (live.init ++ Seq(eBySrc, eByDst)).foreach(CacheTracker.freeCheckpoint)
    ns.unpersist(blocking = false)
    out
  }

  /** [[hits]]' rounds on the driver over the collected node ids and
    * (src, dst) edges. Scores live in one slot per non-null id on a node
    * or an edge end: a sum reaching an id outside the nodes is carried
    * and propagates, as the distributed tables carry it, and a null
    * end's sum enters the round's normalization total only; the output
    * keeps the node ids, absent scores 0.
    */
  private def localHits(ids: Array[Row], es: Array[Row], iters: Int,
                        scale: Long): Array[Row] = {
    import Math.addExact
    val keys = keysOf((ids, 0), (es, 0), (es, 1))
    val nodeSlot = slotsOf(ids, 0, keys)
    val src = slotsOf(es, 0, keys)
    val dst = slotsOf(es, 1, keys)
    // one half-round: every edge with a known `from` end adds that end's
    // score to its `to` end, then all sums divide by the guarded total
    def half(from: Array[Long], fromEnd: Array[Int], toEnd: Array[Int]): Array[Long] = {
      val raw = new Array[Long](keys.length)
      var nullEnd = 0L
      es.indices.foreach { k =>
        if (fromEnd(k) >= 0) {
          val v = from(fromEnd(k))
          if (toEnd(k) >= 0) raw(toEnd(k)) = addExact(raw(toEnd(k)), v)
          else nullEnd = addExact(nullEnd, v)
        }
      }
      val div = math.max(1L, raw.foldLeft(nullEnd)(addExact) / scale)
      raw.map(_ / div)
    }
    var hub = new Array[Long](keys.length)
    nodeSlot.foreach(i => if (i >= 0) hub(i) = scale)
    var auth = hub
    for (_ <- 1 to iters) {
      auth = half(hub, src, dst)
      hub = half(auth, dst, src)
    }
    ids.indices.map { j =>
      val i = nodeSlot(j)
      Row(if (i < 0) null else ids(j).getLong(0),
        if (i < 0) 0L else hub(i), if (i < 0) 0L else auth(i))
    }.toArray
  }
}
