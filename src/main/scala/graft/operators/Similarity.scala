package graft.operators

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`ARRAY<FLOAT>`).
  *
  * Two tiers, per the scale plan:
  *  - [[bruteForceTopK]] — exact cosine top-k via a broadcast nested-loop
  *    join: the QUERY side is broadcast (it is small by definition), the
  *    corpus side streams. Exact, and the right baseline at any scale
  *    where queries ≪ corpus; cost is O(|Q|·|corpus|·dim) FLOPs with no
  *    shuffle of the corpus at all.
  *  - [[lshTopK]] — random-hyperplane LSH: corpus and queries hash to
  *    sign-bit buckets, candidates are bucket-colocated rows only, then
  *    exact cosine re-rank inside the bucket. Sub-linear candidate sets;
  *    the recall/cost trade is `numPlanes` (more planes → smaller buckets
  *    → faster, lower recall). This is the 100 TB path: bucket ids shuffle,
  *    vectors stay partition-local until the final candidate join.
  *
  * All arithmetic is double-precision and sequential (native codegen
  * [[graft.functions.DotProduct]]/[[graft.functions.SqL2Dist]] folds),
  * keeping results deterministic and engine-comparable.
  */
object Similarity {

  /** Sequential double-precision dot product of two float-array columns —
    * a native codegen Expression ([[graft.functions.DotProduct]]); the
    * interpreted `aggregate`/`zip_with` twin it replaced is ~30× slower
    * per evaluation and bit-identical (`VectorOpsSpec` asserts it).
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorOps.dot_product(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k cosine neighbors for each query vector.
    *
    * @param corpus  (idCol, vecCol) big side — never shuffled before ranking
    * @param queries (idCol, vecCol) small side — broadcast
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val scored = c.crossJoin(q)
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("__qv"), col("__cv")).as("sim"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Hard-negative mining — the contrastive-training data op: for each
    * query (anchor), the top-k corpus rows by cosine INSIDE the band
    * [lo1e3, hi1e3)‰. Above the floor = informative (near the decision
    * boundary, where gradient signal lives); below the ceiling =
    * excludes positives and near-duplicates (training on those teaches
    * the model to push a paraphrase away — SemDeDup's failure mode in
    * reverse). Thresholds are per-mille ints so the CONTRACT is
    * integer; the comparison itself is the same double literal any
    * replaying engine forms.
    *
    * Shape: queries broadcast into one corpus scan (anchor sets are
    * benchmark-sized; the corpus is the big side and never shuffles for
    * scoring); the BAND FILTER runs before the per-query rank window,
    * so the window's exchange carries only in-band rows — on
    * near-orthogonal real embeddings that is a tiny fraction of the
    * corpus, which is exactly why banding before ranking matters. The
    * brute scoring pass swaps for the IVF/PQ shortlist tier when the
    * anchor set itself is corpus-sized.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame,
                    idCol: String, vecCol: String, k: Int,
                    lo1e3: Int, hi1e3: Int): DataFrame = {
    require(0 <= lo1e3 && lo1e3 < hi1e3 && hi1e3 <= 1000,
      s"need 0 <= lo < hi <= 1000 per-mille, got [$lo1e3, $hi1e3)")
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val scored = c.crossJoin(q)
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("__qv"), col("__cv")).as("__sim"))
      .filter(col("__sim") >= lit(lo1e3 / 1000.0) &&
        col("__sim") < lit(hi1e3 / 1000.0))
    val w = Window.partitionBy("query_id").orderBy(col("__sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** Embedding dimensionality, probed from one row (tiny driver action —
    * constant cost at any corpus scale). Hardcoding a dim would make
    * zip_with silently null-pad mismatched vectors and collapse every
    * row into bucket 0.
    */
  def vecDim(df: DataFrame, vecCol: String): Int =
    df.select(size(col(vecCol))).head.getInt(0)

  /** Deterministic random hyperplanes (driver-side, tiny, broadcast as a
    * literal into the plan).
    */
  def hyperplanes(numPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new Random(seed)
    Array.fill(numPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-bit bucket id of a vector under the given hyperplanes. */
  def lshBucket(vec: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(dot(vec, typedlit(p.toSeq)) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Embedding-cosine near-duplicate pairs: rows whose vectors are closer
    * than `minCosine`. Candidates come from LSH sign-buckets (plus no
    * corpus self-shuffle tricks): two near-identical vectors agree on
    * every hyperplane sign with high probability, so bucket-equality
    * blocking finds them without an all-pairs cross join. `numPlanes`
    * trades recall for bucket size; buckets past `maxBucket` fall back to
    * star pairs against the bucket's min-id member (linear, connectivity-
    * preserving) instead of being dropped.
    */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                         minCosine: Double = 0.95, numPlanes: Int = 8,
                         seed: Long = 42L, maxBucket: Int = 256,
                         numTables: Int = 1,
                         tracker: CacheTracker = CacheTracker.unmanaged): DataFrame = {
    val dim = vecDim(df, vecCol)
    // band-OR: each extra hash table (independent plane set) gives a
    // near-dup pair another chance to collide — recall 1-(1-p)^T for
    // per-table collision probability p, at T× candidate cost.
    val allPlanes = (0 until numTables).map(t => hyperplanes(numPlanes, dim, seed + t))
    // norms are computed ONCE per vector, here, and carried alongside:
    // Spark's array higher-order functions (aggregate/zip_with) are
    // interpreted, not codegen'd, so each cosine() call costs three HOF
    // evaluations (dot + both norms) — on candidate sets that is the
    // dominant term. With precomputed norms each candidate pays one dot.
    // dot/(na*nb) multiplies in the same order as cosine(), so the
    // verified values stay bit-identical.
    // PERSISTED (same discipline as minhashNearDupPairs, and for the same
    // reason): five downstream branches reference this subtree — both
    // small self-join sides, the chain branch, and both verify join-backs
    // — and Catalyst does not CSE subplans, so an unpersisted plan
    // re-scans the corpus parquet and recomputes norms once per branch
    // (the audit showed 12 scans for one logical pass). Cache ownership:
    // [[CacheTracker]].
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val withNorm = tracker.own(df.select(col(idCol), col(vecCol).as("__v"),
      norm(col(vecCol)).as("__n")).persist(lvl))
    val withBucket = withNorm.select(col(idCol), col("__v"), col("__n"),
      posexplode(array(allPlanes.map(p => lshBucket(col("__v"), p)): _*))
        .as(Seq("__table", "__bucket")))
    val w = Window.partitionBy("__table", "__bucket")
    // NOT persisted, deliberately (measured): the small and chain
    // branches re-derive banding + count window from the CACHED withNorm
    // — a narrow projection + one reused exchange shape over in-memory
    // rows, no parquet rescans — and caching this table would write
    // numTables× vector copies, which costs more than the recompute at
    // every scale tried (the vectors dominate the row width; contrast
    // minhashNearDupPairs, whose stats rows are id+hash-only and DO earn
    // their cache).
    val withStats = withBucket.withColumn("__cnt", count(lit(1)).over(w))
    // candidates are enumerated as ID pairs by a codegen'd self-join on
    // the bucket key (not collect_list + an interpreted pair-array HOF,
    // and never carrying vectors: that materializes O(bucket²·dim) per
    // group — the step that blows up on dup-heavy corpora, where a true
    // clique of size m contributes m²/2 vector copies). Pairs are deduped
    // across tables FIRST, then the vectors+norms join back for exactly
    // one codegen'd dot product per distinct candidate.
    val smallIds = withStats
      .filter(col("__cnt") > 1 && col("__cnt") <= maxBucket)
      .select(col("__table"), col("__bucket"), col(idCol))
    val smallPairs = smallIds.as("x").join(smallIds.as("y"),
      col("x.__table") === col("y.__table") &&
        col("x.__bucket") === col("y.__bucket") &&
        col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"))
      .distinct()
      .join(withNorm.select(col(idCol).as("id_a"), col("__v").as("__va"),
        col("__n").as("__na")), "id_a")
      .join(withNorm.select(col(idCol).as("id_b"), col("__v").as("__vb"),
        col("__n").as("__nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        (dot(col("__va"), col("__vb")) / (col("__na") * col("__nb"))).as("cosine"))
    // oversized buckets: chain pairs sorted by a hash of the raw vector —
    // identical vectors (the actual duplicates) sort adjacent and stay
    // linked; links between unrelated members fail the cosine filter
    val wOrd = Window.partitionBy("__table", "__bucket")
      .orderBy(xxhash64(col("__v")), col(idCol))
    val chainPairs = withStats
      .filter(col("__cnt") > maxBucket)
      .withColumn("__nx", lead(struct(col(idCol).as("id"), col("__v").as("v"),
        col("__n").as("n")), 1).over(wOrd))
      .filter(col("__nx").isNotNull)
      .select(least(col(idCol), col("__nx.id")).as("id_a"),
        greatest(col(idCol), col("__nx.id")).as("id_b"),
        (dot(col("__v"), col("__nx.v")) / (col("__n") * col("__nx.n"))).as("cosine"))
    smallPairs.union(chainPairs).filter(col("cosine") >= minCosine).distinct()
  }

  // ---------------------------------------------------- int8 quantization

  /** Symmetric int8 quantization of a float-vector column: per-vector
    * scale = max|x|/127, elements rounded half-up — 4× smaller storage
    * for ANN corpora at a ~0.4%-of-range error. Pure narrow map.
    * Rounding is `floor(x/scale + 0.5)` explicitly (not `round`) so any
    * engine reproduces it bit-for-bit — banker's rounding differs between
    * engines, floor doesn't.
    */
  def quantizeScale(vec: Column): Column =
    (array_max(transform(vec, x => abs(x))).cast("double") / 127.0).as("scale")

  def quantize(vec: Column, scale: Column): Column =
    when(scale === 0.0, transform(vec, _ => lit(0)))
      .otherwise(transform(vec,
        x => floor(x.cast("double") / scale + 0.5).cast("int")))

  def dequantize(q: Column, scale: Column): Column =
    transform(q, x => (x.cast("double") * scale).cast("float"))

  /** Integer-exact cosine per-mille between two QUANTIZED (int-code)
    * vectors: floor(1000·dot / (√ssa·√ssb)), NULL for a zero vector.
    * Engine-portable by construction: dot and the squared norms are
    * exact BIGINTs (int8 codes: |dot| ≤ 64·127² ≪ 2⁵³, so the double
    * casts are exact), and `sqrt` is IEEE-correctly-rounded in every
    * engine (the same argument as [[graft.operators.Sampling]]'s
    * tau = 0.5 path) — so the whole expression is bit-identical in any
    * replaying engine, unlike a float-accumulated cosine.
    */
  def quantizedCosinePm(qa: Column, qb: Column): Column = {
    def dot(x: Column, y: Column): Column = aggregate(
      zip_with(x, y, (a, b) => (a * b).cast("long")), lit(0L), (acc, v) => acc + v)
    val d = dot(qa, qb).cast("double")
    val na = sqrt(dot(qa, qa).cast("double"))
    val nb = sqrt(dot(qb, qb).cast("double"))
    when(na === 0.0 || nb === 0.0, lit(null).cast("long"))
      .otherwise(floor(lit(1000.0) * d / (na * nb)).cast("long"))
  }

  // ------------------------------------------------------------- IVF

  /** Train an IVF coarse quantizer: k-means on a driver-collected sample.
    * The sample is bounded (`sampleSize`), so driver memory is constant
    * regardless of corpus scale; iterations run locally (centroids are
    * tiny). Deterministic under `seed`.
    */
  def trainIvfCentroids(df: DataFrame, vecCol: String, nlist: Int,
                        iters: Int = 5, sampleSize: Int = 2000,
                        seed: Long = 42L): Array[Array[Double]] = {
    // unbiased bounded sample: limit(n) is prefix-biased (first file
    // splits only), so take a seeded Bernoulli sample across the whole
    // corpus instead. count() on parquet is metadata-cheap; the 1.2×
    // oversample absorbs Bernoulli variance before the final limit.
    // Deterministic for a fixed input layout + seed.
    val n = df.count()
    val fraction = math.min(1.0, if (n == 0) 1.0 else sampleSize * 1.2 / n)
    val sample = df.select(col(vecCol)).sample(withReplacement = false, fraction, seed)
      .limit(sampleSize).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    require(sample.nonEmpty, "empty corpus")
    val rnd = new Random(seed)
    var centroids = Array.fill(nlist)(sample(rnd.nextInt(sample.length)).clone())
    (0 until iters).foreach { _ =>
      val sums = Array.fill(nlist)(new Array[Double](sample.head.length))
      val counts = new Array[Long](nlist)
      sample.foreach { v =>
        val c = nearestCentroid(v, centroids)
        counts(c) += 1
        var i = 0
        while (i < v.length) { sums(c)(i) += v(i); i += 1 }
      }
      centroids = centroids.indices.map { c =>
        if (counts(c) == 0) centroids(c)
        else sums(c).map(_ / counts(c))
      }.toArray
    }
    centroids
  }

  /** Executor-side Lloyd refinement of a coarse quantizer — the k-means||
    * shape: each iteration assigns EVERY corpus vector to its nearest
    * centroid with [[ivfCellCol]] (a narrow map, centroids ride as plan
    * literals) and reduces per-cell dimension sums + counts through a
    * map-side-combined aggregate, so the shuffle carries nlist partial
    * rows per task and the driver collects exactly `nlist` rows per
    * iteration — bounded at ANY corpus scale. This removes
    * [[trainIvfCentroids]]'s sample-bias caveat for 100 TB IVF/SemDeDup:
    * the bounded driver sample only SEEDS the quantizer; the full corpus
    * shapes the final cell means. Opt-in (costs `iters` extra scans);
    * empty cells keep their previous centroid; deterministic for a fixed
    * input + seed.
    */
  def refineCentroidsDistributed(df: DataFrame, vecCol: String,
                                 centroids: Array[Array[Double]],
                                 iters: Int = 2): Array[Array[Double]] = {
    require(centroids.nonEmpty && iters >= 0, "need centroids and iters >= 0")
    val dim = centroids.head.length
    var cs = centroids
    (0 until iters).foreach { _ =>
      val aggs = count(lit(1)).as("__n") +: (0 until dim).map(i =>
        sum(element_at(col(vecCol), i + 1).cast("double")).as(s"__s$i"))
      val rows = df
        // degrade-not-throw: a null or wrong-dimension vector would yield a
        // null __cell group / null dimension sums and fail the whole job at
        // getInt/getDouble below — skip such rows like decodeImage does
        .filter(col(vecCol).isNotNull && size(col(vecCol)) === dim)
        .select(ivfCellCol(col(vecCol), cs).as("__cell"), col(vecCol))
        .groupBy(col("__cell"))
        .agg(aggs.head, aggs.tail: _*)
        .collect() // nlist rows — bounded by construction
      val next = cs.map(_.clone())
      rows.foreach { r =>
        val c = r.getInt(0)
        val n = r.getLong(1)
        if (n > 0 && !(2 until 2 + dim).exists(r.isNullAt))
          (0 until dim).foreach(i => next(c)(i) = r.getDouble(2 + i) / n)
      }
      cs = next
    }
    cs
  }

  /** [[trainIvfCentroids]] + [[refineCentroidsDistributed]]: seed from the
    * bounded driver sample, then let the WHOLE corpus refine the means on
    * executors. The production 100 TB training path.
    */
  def trainIvfCentroidsDistributed(df: DataFrame, vecCol: String, nlist: Int,
                                   sampleIters: Int = 5, refineIters: Int = 2,
                                   sampleSize: Int = 2000,
                                   seed: Long = 42L): Array[Array[Double]] =
    refineCentroidsDistributed(df, vecCol,
      trainIvfCentroids(df, vecCol, nlist, sampleIters, sampleSize, seed),
      refineIters)

  private def nearestCentroid(v: Array[Double], cs: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < cs.length) {
      var d = 0.0; var i = 0
      while (i < v.length) { val t = v(i) - cs(c)(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Cell id (argmin L2 distance to a centroid) as a Column expression:
    * centroids ride into the plan as literals (they are tiny), so the
    * assignment is a narrow map over the corpus — no shuffle, no UDF.
    */
  def ivfCellCol(vec: Column, centroids: Array[Array[Double]]): Column = {
    // every distance is evaluated exactly ONCE into an array, then the
    // cell is the first index of the minimum. The least()/CASE-chain
    // formulation this replaces re-evaluated each distance up to ~nlist
    // times per row: conditionally-evaluated branches are excluded from
    // Spark's common-subexpression elimination, so nothing deduped them.
    // array_position picks the FIRST occurrence of the min — the same
    // lowest-index tie-break as the DuckDB oracle's list_position.
    val dists = array(centroids.map(c =>
      graft.functions.VectorOps.sq_l2_dist(vec, typedlit(c.toSeq))): _*)
    (array_position(dists, array_min(dists)) - 1).cast("int")
  }

  /** Deterministic data-INDEPENDENT coarse quantizer: seeded Gaussian
    * centroids, the IVF analogue of [[hyperplanes]]. Cells are less
    * balanced than trained ones, but the whole pipeline becomes
    * engine-reproducible (the centroids embed as literals in another
    * engine's SQL), which is what lets the driver hash-check the IVF
    * mechanism itself (`ann_ivf_fixed`). For production recall, prefer
    * [[trainIvfCentroids]].
    */
  def fixedCentroids(nlist: Int, dim: Int, seed: Long = 7L): Array[Array[Double]] =
    hyperplanes(nlist, dim, seed)

  /** IVF approximate top-k: corpus rows are bucketed by nearest centroid
    * once (narrow map); each query probes its `nprobe` nearest cells and
    * exact-ranks only those cells' rows. The classic recall/cost dial:
    * nprobe=nlist degenerates to exact brute force.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nlist: Int = 16, nprobe: Int = 3,
              seed: Long = 42L): DataFrame =
    ivfTopKWith(corpus, queries, idCol, vecCol, k,
      trainIvfCentroids(corpus, vecCol, nlist, seed = seed), nprobe)

  /** [[ivfTopK]] with a caller-supplied coarse quantizer (trained or
    * [[fixedCentroids]]); search path only, no driver sample.
    */
  def ivfTopKWith(corpus: DataFrame, queries: DataFrame, idCol: String,
                  vecCol: String, k: Int, centroids: Array[Array[Double]],
                  nprobe: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      ivfCellCol(col(vecCol), centroids).as("__cell"))
    // queries: explode the nprobe nearest cells per query (driver-side
    // math is per-query-row on executors via the same literal centroids)
    val qCells = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .withColumn("__cells", ivfProbeCellsCol(col("__qv"), centroids, nprobe))
      .withColumn("__cell", explode(col("__cells"))).drop("__cells")
    val scored = c.join(broadcast(qCells), "__cell")
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("__qv"), col("__cv")).as("sim"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** The `nprobe` nearest cell ids for a vector, as an array Column. */
  def ivfProbeCellsCol(vec: Column, centroids: Array[Array[Double]],
                       nprobe: Int): Column = {
    val distStructs = centroids.zipWithIndex.map { case (cArr, i) =>
      struct(
        graft.functions.VectorOps.sq_l2_dist(vec, typedlit(cArr.toSeq)).as("d"),
        lit(i).as("cell"))
    }
    slice(transform(array_sort(array(distStructs: _*)), s => s.getField("cell")),
      1, nprobe)
  }

  /** Approximate top-k: candidates = same LSH bucket, exact cosine re-rank
    * within the bucket. Note the single shuffle on the (small) bucket id;
    * with `numPlanes` ≈ log2(corpus/bucketTarget) buckets stay executor-
    * sized at any corpus scale.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int,
              numPlanes: Int = 8, seed: Long = 42L): DataFrame = {
    val dim = vecDim(corpus, vecCol)
    val planes = hyperplanes(numPlanes, dim, seed)
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      lshBucket(col(vecCol), planes).as("__bucket"))
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      lshBucket(col(vecCol), planes).as("__bucket")))
    val scored = c.join(q, "__bucket")
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("__qv"), col("__cv")).as("sim"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Per-label centroid accumulators — the corpus-diversity profile (and
    * the aggregation step of distributed k-means): for every (label, dim),
    * the vector count and the sum of fixed-point-scaled components.
    *
    * Components are scaled by 2^`scaleBits` and floored to longs BEFORE
    * summing: a binary32 float times a power of two is exact in double
    * (exponent shift, mantissa untouched), and long sums are
    * order-independent — so the result is bit-identical in any engine,
    * unlike a double sum whose value depends on reduction order. The mean
    * is left to the consumer (`sum_q / n` at whatever precision it wants).
    *
    * Scale shape: posexplode fans each vector into `dim` rows, but the
    * hash aggregate's map-side partial reduction bounds the shuffle at
    * (labels × dims) rows PER PARTITION regardless of corpus size — the
    * classic combiner pattern; no vector ever crosses the wire whole.
    */
  def labelCentroidSums(df: DataFrame, labelCol: String, vecCol: String,
                        scaleBits: Int = 20): DataFrame = {
    require(scaleBits > 0 && scaleBits < 40, "scale must stay well inside long range")
    val scale = (1L << scaleBits).toDouble
    df.select(col(labelCol), posexplode(col(vecCol)).as(Seq("__d", "__v")))
      .select(col(labelCol), col("__d").cast("long").as("dim"),
        floor(col("__v").cast("double") * scale).cast("long").as("__q"))
      .groupBy(col(labelCol), col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("__q")).as("sum_q"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication"): assign every vector to its nearest centroid (a
    * narrow literal-centroid argmin — [[ivfCellCol]], no shuffle, no
    * UDF), then flag as a semantic duplicate every doc that has a
    * LOWER-ID cluster member within `threshold` cosine. Returns
    * (`idCol`, `cluster`, `is_semdup`); callers keep `!is_semdup`.
    *
    * The lower-id rule makes pruning a PER-DOC predicate — no connected
    * components, no iteration — at the price of being slightly more
    * aggressive than greedy scan-with-removal (a doc is suppressed by a
    * near-copy even if that copy was itself suppressed). That is the
    * standard SemDeDup trade: ε-balls around earlier docs, applied
    * corpus-wide in one pass.
    *
    * Scale shape: the pairwise cosine work NEVER crosses cluster
    * boundaries — one shuffle per side on the cluster id, quadratic only
    * within a cluster (the IVF cell bounds bucket size the way LSH bands
    * do in [[cosineNearDupPairs]]). Clusters past `maxCluster` degrade
    * to REPRESENTATIVE comparison: each member is checked only against
    * the cluster's min-id row — O(n) per hot cluster instead of O(n²),
    * the same overflow discipline as the near-dup operators' chain/star
    * pairs. That mode misses dup pairs where neither side resembles the
    * representative (recall loss, never false flags) — the standard
    * SemDeDup degradation for a cell the quantizer failed to split, and
    * the measured 100× failure mode (a data-independent quantizer
    * funneling a whole blob into one cell; SURVEY.md §2.4, the round-6
    * SemDeDup quantizer measurement). Centroids come from
    * [[trainIvfCentroids]] in production;
    * [[fixedCentroids]] makes the whole pipeline engine-reproducible.
    */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
               centroids: Array[Array[Double]], threshold: Double,
               maxCluster: Int = 10000,
               tracker: CacheTracker = CacheTracker.unmanaged): DataFrame = {
    // referenced several times (self-join sides, overflow path, final
    // join) and Catalyst does not CSE subplans. r19: eager
    // localCheckpoint instead of persist — same one-materialization
    // blocks, but the five consumers plan against a flat LogicalRDD leaf
    // instead of five InMemoryRelation-wrapped copies of the
    // assign+norm subtree (the AllPairs planning-gap finding).
    // tracked (r20): release() frees the checkpoint's blocks — see
    // CacheTracker.ownCheckpointed for the lineage/lifecycle tradeoffs
    val base = tracker.ownCheckpointed(
      df.select(col(idCol), col(vecCol).as("__v"),
          norm(col(vecCol)).as("__n"),
          ivfCellCol(col(vecCol), centroids).as("cluster"))
        .localCheckpoint(true))
    // cluster occupancy: at most `centroids.length` rows after map-side
    // partials, so it broadcast-joins back — the corpus itself never
    // shuffles for the size check (a per-cluster count WINDOW would have
    // exchanged every row)
    val counts = base.groupBy(col("cluster")).agg(count(lit(1)).as("__cnt"))
    val withCnt = base.join(broadcast(counts), Seq("cluster"))
    val small = withCnt.filter(col("__cnt") <= maxCluster)
    val a = small.select(col("cluster"), col(idCol).as("__ida"),
      col("__v").as("__va"), col("__n").as("__na"))
    val b = small.select(col("cluster"), col(idCol).as("__idb"),
      col("__v").as("__vb"), col("__n").as("__nb"))
    // one codegen'd dot per in-cluster pair; norms precomputed once (the
    // same dot/(na*nb) = cosine() bit-identity as cosineNearDupPairs)
    val dupIds = a.join(b, Seq("cluster"))
      .filter(col("__idb") < col("__ida") &&
        dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")) >= threshold)
      .select(col("__ida").as(idCol)).distinct()
    // overflow: min-id representative per hot cluster, one dot per
    // member against it
    val big = withCnt.filter(col("__cnt") > maxCluster)
    val reps = big.groupBy(col("cluster")).agg(min(col(idCol)).as("__rid"))
    // rep VECTORS are fetched by broadcasting the (≤ nlist) rep-id set
    // against the cached base and broadcasting the tiny result back —
    // never by joining the corpus on id, which would shuffle every
    // vector to fetch a handful of rows
    val repVecs = base.join(broadcast(reps.select(col("__rid"))),
        col(idCol) === col("__rid"))
      .select(col("__rid"), col("__v").as("__rv"), col("__n").as("__rn"))
    val bigDups = big.join(reps, Seq("cluster"))
      .join(broadcast(repVecs), Seq("__rid"))
      .filter(col(idCol) =!= col("__rid") &&
        dot(col("__v"), col("__rv")) / (col("__n") * col("__rn")) >= threshold)
      .select(col(idCol)).distinct()
    base.join(dupIds.unionByName(bigDups).withColumn("__d", lit(true)),
        Seq(idCol), "left")
      .select(col(idCol), col("cluster"),
        coalesce(col("__d"), lit(false)).as("is_semdup"))
  }

  // ----------------------------------------------- PQ (product quantization)
  //
  // The memory-compression ANN tier (Jégou et al. 2011, "Product
  // Quantization for Nearest Neighbor Search"): split each vector into
  // `m` subspaces, vector-quantize each subspace against its own `ksub`
  // codewords, and store only the m codeword indices. A 64-dim float
  // vector (256 bytes) becomes m=8 bytes — a 32× compression that is THE
  // reason a 100 TB embedding store fits a cluster's memory at all.
  // Search is ADC (asymmetric distance computation): the query stays
  // exact, each candidate costs m table lookups instead of `dim`
  // multiplies. [[ivfPqTopKWith]] composes this with the IVF coarse
  // quantizer — the Faiss IndexIVFPQ architecture (no-residual variant:
  // raw vectors are encoded, not cell residuals, keeping the pipeline
  // engine-reproducible at a small recall cost).

  /** Seeded data-INDEPENDENT PQ codebooks (`m` subspaces × `ksub`
    * codewords of `dim/m` dims) — the PQ analogue of [[fixedCentroids]]:
    * worse quantization error than trained ones, but the codebooks embed
    * as literals in another engine's SQL, so the driver hash-checks the
    * encode+ADC mechanism itself (`ann_pq_fixed`/`ann_ivfpq_fixed`). For
    * production recall, prefer [[pqTrainCodebooks]].
    */
  def pqFixedCodebooks(m: Int, ksub: Int, dim: Int,
                       seed: Long = 11L): Array[Array[Array[Double]]] = {
    require(m > 0 && dim % m == 0, s"dim $dim must split into $m subspaces")
    val rnd = new Random(seed)
    Array.fill(m)(Array.fill(ksub)(Array.fill(dim / m)(rnd.nextGaussian())))
  }

  /** Train PQ codebooks: ONE bounded driver sample (the
    * [[trainIvfCentroids]] Bernoulli discipline — constant driver memory
    * at any corpus scale), then an independent local Lloyd per subspace
    * over the sample's sub-vectors. Codebooks are tiny (m × ksub × dim/m
    * doubles), so they ride into every executor plan as literals.
    * Deterministic under `seed` for a fixed input layout.
    */
  def pqTrainCodebooks(df: DataFrame, vecCol: String, m: Int, ksub: Int,
                       iters: Int = 5, sampleSize: Int = 2000,
                       seed: Long = 42L): Array[Array[Array[Double]]] = {
    val n = df.count()
    val fraction = math.min(1.0, if (n == 0) 1.0 else sampleSize * 1.2 / n)
    val sample = df.select(col(vecCol)).sample(withReplacement = false, fraction, seed)
      .limit(sampleSize).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    require(sample.nonEmpty, "empty corpus")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim must split into $m subspaces")
    val ds = dim / m
    Array.tabulate(m) { j =>
      val subs = sample.map(v => java.util.Arrays.copyOfRange(v, j * ds, (j + 1) * ds))
      val rnd = new Random(seed + j)
      var cws = Array.fill(ksub)(subs(rnd.nextInt(subs.length)).clone())
      (0 until iters).foreach { _ =>
        val sums = Array.fill(ksub)(new Array[Double](ds))
        val counts = new Array[Long](ksub)
        subs.foreach { v =>
          val c = nearestCentroid(v, cws)
          counts(c) += 1
          var i = 0
          while (i < ds) { sums(c)(i) += v(i); i += 1 }
        }
        cws = cws.indices.map { c =>
          if (counts(c) == 0) cws(c) else sums(c).map(_ / counts(c))
        }.toArray
      }
      cws
    }
  }

  /** Per-subspace distance table of a vector against every codeword, as
    * an `ARRAY<ARRAY<DOUBLE>>` Column (`m` rows of `ksub` squared-L2
    * distances). This is both halves of PQ in one expression: argmin per
    * row encodes ([[pqCodeCol]]), the rows themselves are a query's ADC
    * lookup table ([[pqTopKWith]]). Codebooks are plan literals; each
    * distance is one codegen [[graft.functions.SqL2Dist]] fold over a
    * `slice` — a narrow map, no shuffle, no UDF.
    */
  def pqDistTableCol(vec: Column, codebooks: Array[Array[Array[Double]]]): Column = {
    val ds = codebooks.head.head.length
    array(codebooks.zipWithIndex.map { case (cb, j) =>
      val sub = slice(vec, j * ds + 1, ds)
      array(cb.map(cw =>
        graft.functions.VectorOps.sq_l2_dist(sub, typedlit(cw.toSeq))): _*)
    }: _*)
  }

  /** PQ code (`ARRAY<INT>`, one codeword index per subspace): argmin of
    * each subspace's distance row, FIRST index on ties — the same
    * lowest-index tie-break as [[ivfCellCol]], so another engine's
    * `list_position(l, list_min(l))` reproduces it exactly.
    */
  def pqCodeCol(vec: Column, codebooks: Array[Array[Array[Double]]]): Column =
    transform(pqDistTableCol(vec, codebooks),
      l => (array_position(l, array_min(l)) - 1).cast("int"))

  /** ADC approximate squared-L2 distance between a query's distance table
    * and a candidate's code: Σ_j lut[j][code[j]] — `m` element lookups
    * per candidate, no vector arithmetic at search time. Left-to-right
    * summation, matching a sequential `list_sum` fold elsewhere.
    */
  def pqAdcDist(lut: Column, code: Column, m: Int): Column =
    (0 until m).map(j =>
      element_at(element_at(lut, j + 1), element_at(code, j + 1) + 1))
      .reduce(_ + _)

  /** PQ-flat approximate top-k (nearest by ADC squared-L2): the corpus is
    * reduced ONCE to (id, m-byte code) — vectors never ship to the
    * search — and each query's exact distance table is broadcast with the
    * (small) query side, [[bruteForceTopK]]'s sanctioned
    * broadcast-nested-loop shape with the per-pair cost cut from `dim`
    * multiplies to `m` lookups and the corpus residency cut ~dim·4/m ×.
    */
  def pqTopKWith(corpus: DataFrame, queries: DataFrame, idCol: String,
                 vecCol: String, k: Int,
                 codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val m = codebooks.length
    val c = corpus.select(col(idCol).as("neighbor_id"),
      pqCodeCol(col(vecCol), codebooks).as("__code"))
    val q = queries.select(col(idCol).as("query_id"),
      pqDistTableCol(col(vecCol), codebooks).as("__lut"))
    val scored = c.crossJoin(broadcast(q))
      .select(col("query_id"), col("neighbor_id"),
        pqAdcDist(col("__lut"), col("__code"), m).as("adist"))
    val w = Window.partitionBy("query_id").orderBy(col("adist").asc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .drop("adist")
  }

  /** [[pqTopKWith]] with trained codebooks — the production path. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, k: Int, m: Int = 8, ksub: Int = 16,
             seed: Long = 42L): DataFrame =
    pqTopKWith(corpus, queries, idCol, vecCol, k,
      pqTrainCodebooks(corpus, vecCol, m, ksub, seed = seed))

  /** IVF-PQ approximate top-k — the billion-vector architecture: the
    * corpus reduces once to (cell, code) with BOTH quantizers in a single
    * narrow map, queries probe their `nprobe` nearest cells
    * ([[ivfProbeCellsCol]]), and only the probed cells' codes are
    * ADC-ranked. The cell equi-join replaces PQ-flat's full scan, so
    * search cost is (probed fraction) × (m lookups); with `nprobe` =
    * `nlist` it degenerates to exactly [[pqTopKWith]]'s ranking (asserted
    * in `SimilaritySpec`). State per corpus row at 100 TB: 4-byte cell +
    * m-byte code.
    */
  def ivfPqTopKWith(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int,
                    centroids: Array[Array[Double]],
                    codebooks: Array[Array[Array[Double]]],
                    nprobe: Int): DataFrame = {
    val m = codebooks.length
    val c = corpus.select(col(idCol).as("neighbor_id"),
      ivfCellCol(col(vecCol), centroids).as("__cell"),
      pqCodeCol(col(vecCol), codebooks).as("__code"))
    val qCells = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .withColumn("__lut", pqDistTableCol(col("__qv"), codebooks))
      .withColumn("__cell", explode(ivfProbeCellsCol(col("__qv"), centroids, nprobe)))
      .select(col("query_id"), col("__lut"), col("__cell"))
    val scored = c.join(broadcast(qCells), "__cell")
      .select(col("query_id"), col("neighbor_id"),
        pqAdcDist(col("__lut"), col("__code"), m).as("adist"))
    val w = Window.partitionBy("query_id").orderBy(col("adist").asc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .drop("adist")
  }

  /** PQ retrieve-then-rerank — the production deployment shape for
    * code-compressed search (Jégou et al. §V): ADC generates a per-query
    * shortlist of `shortlist` candidates from codes alone, then EXACT
    * squared-L2 re-orders only those candidates and keeps the top `k`.
    * Codes can't order near-ties (8 B of quantized state — measured
    * recall@10 caps ~0.44 even with byte-wide codebooks, SURVEY.md
    * §2.4, r11 ANN method-choice table), but they are excellent at not
    * MISSING true neighbors in a 10×-deeper shortlist: rerank lifts
    * recall to ~0.92 at the same 8 B/vec store.
    *
    * Scale shape: the shortlist is queries × `shortlist` id rows —
    * bounded by the query batch, broadcast TO the corpus, so the full
    * vectors needed for exact rerank are fetched by a broadcast hash
    * semi-pattern on the corpus scan (map-side, no corpus shuffle, and
    * only shortlisted rows' vectors leave the scan); exact distances
    * compute on queries × shortlist rows, never queries × corpus. At
    * 100 TB the code store serves the scan and the raw-vector store is
    * touched only for ~shortlist rows per query.
    */
  def pqTopKReranked(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int, shortlist: Int,
                     codebooks: Array[Array[Array[Double]]]): DataFrame = {
    require(shortlist >= k, s"shortlist=$shortlist must cover k=$k")
    val sl = pqTopKWith(corpus, queries, idCol, vecCol, shortlist, codebooks)
      .select(col("query_id"), col("neighbor_id"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val exact = c.join(broadcast(sl), "neighbor_id")
      .join(broadcast(q), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        graft.functions.VectorOps.sq_l2_dist(col("__cv"), col("__qv")).as("d"))
    val w = Window.partitionBy("query_id").orderBy(col("d").asc, col("neighbor_id"))
    exact.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .drop("d")
  }
}
