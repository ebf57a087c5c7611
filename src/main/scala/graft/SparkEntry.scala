package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.config.ConnectProps
import graft.operators.{AllPairs, Dedup, EntityResolution, Expectations, FuzzyJoin, HeavyHitters, IncrementalPipeline, LinkGraph, Merge, Multimodal, NgramLm, Phonetic, Scd2, Similarity, TextAnalysis, UrlOps}
import graft.sources.{Snapshots, Tables}
import graft.transforms.{DropField, ExtendedHoistField, StructuredToJsonString}

/** Driver contract: one demonstration query per implemented operator
  * (SURVEY.md §2 + the LLM-pipeline extensions), each with a DuckDB
  * oracle where the semantics are ANSI-SQL-expressible.
  *
  * Oracle-parity ground rules (learned the hard way, documented for
  * future queries):
  *  - alias every computed column identically in Spark and SQL — the
  *    driver sorts columns BY NAME before hashing;
  *  - no raw double arithmetic in outputs — and NEVER emit DECIMAL either:
  *    the driver reads Spark parquet through pyarrow (decimal.Decimal
  *    objects) but the oracle through DuckDB's .df() (float64), so a
  *    DECIMAL column hash-diverges on representation even when every
  *    value is identical. Money goes through [[cents]]: per-row
  *    `CAST(x AS DECIMAL(18,2)) * 100` → BIGINT, summed as plain longs
  *    (exact, order-independent, map-side-combinable) on both sides;
  *  - `events.ts` is normalized to BIGINT epoch nanos at the source
  *    boundary ([[graft.sources.Tables.normalizeEventTime]]) regardless of
  *    the parquet writer's physical timestamp encoding; DuckDB reads the
  *    same file natively as a timestamp — compare via `epoch_us(ts)`
  *    (== Spark `ts div 1000`) or day-truncation;
  *  - hash/fingerprint parity uses `md5` (identical everywhere);
  *    engine-internal paths use `xxhash64` (fast, Spark-only) and those
  *    queries get rows-only checks.
  *
  * Caching vs stage reuse (the round-7 design rule): persisting a
  * multi-consumer subtree is NOT automatically right. A cached plan is
  * AQE-wrapped with unknown partitioning (downstream groupBy/window
  * re-shuffles what the repartition already clustered), a cached build
  * runs in its own query execution (its exchanges can never be
  * stage-shared with the main plan), and even cache READS block reuse
  * (each branch wraps its own TableCacheQueryStage, breaking canonical
  * equality). When the work ABOVE the shared exchange is cheap
  * (explode/window/hash), prefer UN-persisted branches with canonically
  * identical exchange subtrees — state the per-branch inferred filters
  * (join-key isnotnull, posexplode non-empty) EXPLICITLY below the
  * repartition — and AQE runs the map side once, sharing the shuffle via
  * ReusedExchange (PlanShapeSpec pins this; PLAN_AUDIT's runtime columns
  * measure it). Persist only when the recompute above the exchange is
  * the expensive part (minhash signatures, simhash votes, centroid
  * assignment feeding differently-pruned consumers).
  */
object SparkEntry {

  /** Flagship: schema-ful nested drop over events (the P1 slice). */
  def entry(spark: SparkSession): DataFrame =
    queries("drop_nested")(spark, "/root/testdata/sf0.001")

  // ------------------------------------------------------------ helpers

  private def events(s: SparkSession, dir: String) = Tables.events(s, dir)
  private def docs(s: SparkSession, dir: String) = Tables.documents(s, dir)

  /** documents ∪ planted near-dup copies (doc_id + 100000, last word
    * dropped) — the shared corpus of the near-dup pipelines.
    */
  private def plantedDocs(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("text"))
    d.union(d.filter(col("doc_id") < 20).select(
      (col("doc_id") + 100000).as("doc_id"),
      regexp_replace(col("text"), "\\s+\\S+$", "").as("text")))
  }

  /** The engine-portable md5-lane LSH near-dup pairs over [[plantedDocs]]
    * — signature → 2-lane bands → band-equality candidates →
    * integer-arithmetic shingle-jaccard verify. Shared by
    * `dedup_pairs_md5` (pairs surface) and `dedup_e2e_md5` (pairs → CC →
    * representatives).
    */
  // ONE exploded-shingle pass feeds BOTH the 8-lane md5 signature and the
  // exact shingle sets the verify step needs. Persisted because banding
  // self-joins it and the verify join-backs read it twice more. Memoized
  // per (session, sfDir) so dedup_pairs_md5 and dedup_e2e_md5 share a
  // single cached copy instead of computing and pinning it twice; the
  // storageLevel re-check re-pins after an external clearCache (bench
  // reps clear the cache between runs).
  private val md5Bases =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()
  private def md5Base(s: SparkSession, dir: String): DataFrame = {
    val base = md5Bases.computeIfAbsent((s, dir), _ =>
      Dedup.minhashSignatureMd5WithSets(plantedDocs(s, dir),
        "doc_id", "text", shingleSize = 3, numHashes = 8))
    if (base.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      base.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    base
  }

  /** Candidate pairs with their exact integer shingle-jaccard
    * (per-mille, floor) — the unfiltered surface [[md5Pairs]] thresholds
    * at 500‰ and `q_dedup_pr_sweep` sweeps. `j_1e3 >= 500` is EXACTLY
    * the old `2·|∩| >= |∪|` verify (floor(1000·i/u) >= 500 ⇔
    * 1000·i >= 500·u ⇔ 2·i >= u), so the pairs surface is unchanged.
    */
  private def md5CandJaccard(s: SparkSession, dir: String): DataFrame = {
    val base = md5Base(s, dir)
    val banded = base.select(col("doc_id"), posexplode(array(
      (0 until 4).map(b => concat(col(s"mh${2 * b}"), col(s"mh${2 * b + 1}"))): _*))
      .as(Seq("band", "bv")))
    val cand = banded.as("x").join(banded.as("y"),
      col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()
    cand
      .join(base.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(base.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        expr("(cast(size(array_intersect(sh_a, sh_b)) as bigint) * 1000) div " +
          "cast(size(array_union(sh_a, sh_b)) as bigint)").as("j_1e3"))
  }

  private def md5Pairs(s: SparkSession, dir: String): DataFrame =
    md5CandJaccard(s, dir).filter(col("j_1e3") >= 500)
      .select(col("id_a"), col("id_b"))

  /** Write-once materialization for queries that exercise a write path
    * (layout, CSV/JSONL round trips): runs `write` once per
    * (JVM, key, sfDir) into a process-unique tmp directory. A fixed path
    * keyed only by sfDir let two concurrent drivers (Bench vs Verify vs
    * PlanAudit) race: one process's mode(overwrite) deletes the directory
    * while the other is mid-read. The UUID tag isolates processes; the
    * memoization makes repeated constructions (bench reps, plan audits)
    * reuse the written data instead of re-running the job; the shutdown
    * hook cleans up so directories don't accumulate per run.
    */
  private val layoutTag = java.util.UUID.randomUUID().toString.take(8)
  private val matDirs =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()
  private val matLocks =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Object]()
  /** NOT computeIfAbsent: `write` may itself call materializedDir for a
    * nested key (streaming queries stage a source dir inside their sink
    * builder), and a nested computeIfAbsent on the same CHM is the
    * "Recursive update" IllegalStateException the CHM contract forbids —
    * it killed q_stream_dedup in the round-8 bench (bin-collision
    * dependent, so Verify passed while Bench died). Instead: lock-free
    * read, then a per-key lock around build+put. The lock map's own
    * computeIfAbsent never nests (its lambda allocates an Object and
    * returns), and nested materializedDir calls take DIFFERENT per-key
    * locks in dependency order (outer→inner, acyclic), so no deadlock.
    * Callers still hoist inner dirs before outer builders where natural,
    * but correctness no longer depends on it.
    */
  private[graft] def materializedDir(key: String, dir: String)
                                    (write: String => Unit): String = {
    val k = (key, dir)
    val cached = matDirs.get(k)
    if (cached != null) return cached
    val lock = matLocks.computeIfAbsent(k, _ => new Object)
    lock.synchronized {
      val again = matDirs.get(k)
      if (again != null) again
      else {
        val out = new java.io.File(System.getProperty("java.io.tmpdir"),
          s"graft_${key}_${layoutTag}_" + dir.replaceAll("[^A-Za-z0-9]", "_"))
        write(out.getAbsolutePath)
        sys.addShutdownHook(deleteRecursively(out))
        matDirs.put(k, out.getAbsolutePath)
        out.getAbsolutePath
      }
    }
  }

  /** Scale-gated scan widening for CPU-heavy narrow maps (r20, guide
    * §2 "derive partitioning from input size"): round-robin-repartition
    * to the session parallelism ONLY when the plan's existing width is
    * below it. A single-row-group parquet file plans one scan task no
    * matter what `maxPartitionBytes` says, so per-row-expensive work
    * (variant/JSON parsing, per-doc kernels, Expand aggregates)
    * serializes on one core while the rest idle — the shape PERF_r19's
    * scaling column flagged (8→32 cores barely moved the top queries).
    * At production scale any real scan plans >= the session width and
    * this adds NOTHING (no exchange in the plan), so it is not a
    * local-mode constant: the exchange exists exactly when the input is
    * smaller than the machine. Row order changes under the round-robin,
    * so callers are limited to order-insensitive pipelines (integer/
    * long aggregates, per-row maps, keyed windows) — every adopting
    * query is oracle-gated.
    */
  private def widen(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    graft.operators.Widen(df)

  /** Process-unique bucketed orders+customer tables for q_bucketed_join,
    * registered in `s`'s catalog and written once per (session, sfDir).
    * Gated on catalog existence (not just the path) because a fresh
    * session in the same JVM needs the saveAsTable registration even when
    * the files are already on disk — mode(overwrite) makes the re-write
    * safe. Returns (ordersTable, customerTable).
    */
  private def bucketedTables(s: SparkSession, dir: String): (String, String) = {
    val safe = dir.replaceAll("[^A-Za-z0-9]", "_")
    val oT = s"graft_bkt_orders_${layoutTag}_$safe"
    val cT = s"graft_bkt_customer_${layoutTag}_$safe"
    this.synchronized {
      if (!s.catalog.tableExists(oT) || !s.catalog.tableExists(cT)) {
        val out = new java.io.File(System.getProperty("java.io.tmpdir"),
          s"graft_bktjoin_${layoutTag}_$safe")
        graft.sources.Bucketing.writeBucketed(
          Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"),
            col("o_totalprice")),
          oT, Seq("o_custkey"), numBuckets = 8, Seq("o_custkey"),
          Some(new java.io.File(out, "orders").getAbsolutePath))
        graft.sources.Bucketing.writeBucketed(
          Tables.customer(s, dir).select(col("c_custkey"), col("c_mktsegment")),
          cT, Seq("c_custkey"), numBuckets = 8, Seq("c_custkey"),
          Some(new java.io.File(out, "customer").getAbsolutePath))
        sys.addShutdownHook(deleteRecursively(out))
      }
    }
    (oT, cT)
  }

  private def prunedLayoutDir(s: SparkSession, dir: String): String =
    materializedDir("layout", dir)(out =>
      graft.sources.Layout.writePartitioned(
        events(s, dir).select(col("event_id"), col("user_id"), col("event_type")),
        out, Seq("event_type")))
  /** Register shutdown-hook cleanup for a scratch path at most once —
    * per-invocation registration (bench reps) would stack one hook per
    * rep for the same directory.
    */
  private val cleanupRegistered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def registerCleanup(path: String): Unit =
    if (cleanupRegistered.add(path))
      sys.addShutdownHook(deleteRecursively(new java.io.File(path)))

  private def deleteRecursively(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Write `df` as ONE parquet file `name.parquet` under `base` with a
    * pinned mtime — the ordered-replay fixture unit shared by the
    * streaming queries (the file stream source drains files
    * oldest-mtime-first, so spaced mtimes pin the micro-batch order).
    * An empty slice (possible at tiny SFs) or a failed mtime stamp would
    * silently scramble the replay order the streaming semantics hinge
    * on — fail loudly instead.
    */
  private def dumpBatchFile(base: java.io.File, df: DataFrame, name: String,
                            mtime: Long): Unit = {
    val tmp = new java.io.File(base, name + "_tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val part = tmp.listFiles().find(_.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"replay fixture: batch slice $name produced no parquet file — SF too small"))
    val dst = new java.io.File(base, name + ".parquet")
    java.nio.file.Files.move(part.toPath, dst.toPath)
    deleteRecursively(tmp)
    require(dst.setLastModified(mtime), s"replay fixture: setLastModified failed for $name — replay order would be undefined")
  }

  /** The CDC change stream as three mtime-ordered micro-batch files —
    * the replay fixture shared by q_stream_merge_sink (hand-rolled
    * foreachBatch merges) and q_stream_upsert_sink (the update-mode
    * sink format): seq-1 updates, seq-2 updates, then seq>=3 + the
    * deletes + the inserts.
    */
  private def cdcBatchDir(s: SparkSession, dir: String,
                          changes: DataFrame): String =
    materializedDir("streammergesrc", dir) { inPath =>
      val base = new java.io.File(inPath)
      base.mkdirs()
      val t0 = System.currentTimeMillis() - 600000L
      dumpBatchFile(base, changes.filter(col("seq") === 1L &&
        col("doc_id") < 10000000L), "b0", t0)
      dumpBatchFile(base, changes.filter(col("seq") === 2L), "b1",
        t0 + 60000L)
      dumpBatchFile(base, changes.filter(col("seq") >= 3L)
        .unionByName(changes.filter(col("doc_id") >= 10000000L)), "b2",
        t0 + 120000L)
    }

  /** Adjacent-doc near-dup components — the shared machinery of
    * q_dedup_groups and q_leakage_split: edges between consecutive doc
    * ids with integer-arithmetic jaccard >= 1/2 (inter*2 >= union — no
    * float boundary), resolved to (id, component) via pointer-doubling
    * connected components. Mirrored by [[ccCtes]] on the oracle side.
    */
  private def adjacentDupComponents(s: SparkSession, dir: String): DataFrame = {
    val t = docs(s, dir).select(col("doc_id"), TextAnalysis.tokenSet(col("text")).as("ts"))
    val a = t.select(col("doc_id").as("a"), col("ts").as("ts_a"))
    val b = t.select(col("doc_id").as("b"), col("ts").as("ts_b"))
    val edges = a.join(b, col("b") === col("a") + 1)
      .filter(size(array_intersect(col("ts_a"), col("ts_b"))) * 2 >=
        size(array_union(col("ts_a"), col("ts_b"))))
      .select(col("a"), col("b"))
    graft.operators.Components.connectedComponents(edges, "a", "b")
  }

  /** Money column → exact integer cents (BIGINT). The double→DECIMAL(18,2)
    * rounding step is HALF_UP in both Spark and DuckDB (verified identical
    * on every sf0.01 money column); ×100 on a scale-2 decimal is exact, so
    * the cast to long never truncates anything. Summing longs afterwards
    * is order-independent — no decimal ever reaches an output schema.
    */
  private def cents(c: Column): Column =
    (c.cast(DecimalType(18, 2)) * 100).cast("long")

  /** DuckDB mirror of [[cents]]. */
  private def centsSql(x: String): String =
    s"CAST(CAST($x AS DECIMAL(18,2)) * 100 AS BIGINT)"

  /** q_chunk's window geometry — constants interpolated into BOTH sides. */
  private val chunkSize = 64
  private val chunkOverlap = 16

  /** q_pack's context-window capacity in tokens — one constant
    * interpolated into BOTH the Spark expressions and the DuckDB oracle
    * so the pair can't drift.
    */
  private val packCap = 2048L

  /** q_paragraph_dedup's geometry and planted boilerplate paragraph —
    * interpolated into BOTH sides so the pair can't drift.
    */
  private val paraTokens = 12
  private val boilerPara =
    "subscribe to our newsletter and follow us for daily updates"
  private val paraMinCount = 5

  /** q_mix_sources' config — ONE source of truth rendered into both the
    * Spark literal DataFrame and the oracle's VALUES list.
    */
  private val mixQuotas =
    Seq("src0" -> 20L, "src1" -> 15L, "src2" -> 10L, "src3" -> 5L)
  private val mixDefaultQuota = 8L

  /** Shared oracle of q_token_budget and q_token_budget_large (the two
    * engine formulations select identically by construction). CAST the
    * window sum: DuckDB sum(BIGINT) OVER → HUGEINT → float64.
    */
  private lazy val tokenBudgetSql: String =
    "WITH t AS (SELECT doc_id, lang, " +
      "len(string_split(n, ' '))::BIGINT AS n_tokens, " +
      s"$qScoreSql AS q_score " +
      "FROM (SELECT doc_id, lang, trim(regexp_replace(text, '\\s+', ' ', 'g')) AS n FROM documents)), " +
      "c AS (SELECT doc_id, lang, n_tokens, q_score, " +
      "CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang " +
      "ORDER BY q_score DESC, doc_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before FROM t) " +
      s"SELECT doc_id, lang, n_tokens, q_score, cum_before FROM c " +
      s"WHERE cum_before + n_tokens <= $tokenBudgetCap"

  /** Shared oracle of q_mix_sources and q_mix_sources_large (the two
    * engine formulations select identically by construction).
    */
  private lazy val mixSourcesSql: String =
    "WITH q(source, quota) AS (VALUES " +
      mixQuotas.map { case (k, v) => s"('$k', $v)" }.mkString(", ") + "), " +
      "r AS (SELECT doc_id, source, row_number() OVER (PARTITION BY source " +
      "ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT, doc_id) AS rn " +
      "FROM documents) " +
      "SELECT doc_id, source FROM r LEFT JOIN q USING (source) " +
      s"WHERE rn <= coalesce(quota, $mixDefaultQuota)"

  /** q_token_budget's per-shard token budget — one constant, both sides. */
  private val tokenBudgetCap = 3000L

  /** q_temperature_mix's mix size — one constant, both sides. */
  private val tempMixBudget = 200L

  /** q_temperature_mix's oracle: the mT5/XLM-R temperature-resampling law
    * in plain SQL. Weights = floor(sqrt(cnt)·10⁶) (sqrt is IEEE-exact in
    * BOTH engines — the reason the driver query pins tau = 0.5), targets
    * by exact HUGEINT largest-remainder apportionment (ASC NULLS FIRST
    * pinned to Spark's sort default), selection by the shared md5 hash
    * rank. Mirrors [[graft.operators.Sampling.temperatureTargets]] +
    * [[graft.operators.Sampling.mixToQuotas]].
    */
  private lazy val temperatureMixSql: String =
    "WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS cnt " +
      "FROM documents GROUP BY lang), " +
      "w AS (SELECT lang, CAST(floor(sqrt(cnt) * 1000000) AS BIGINT) AS w FROM c), " +
      "a AS (SELECT lang, " +
      s"CAST((CAST(w AS HUGEINT) * $tempMixBudget) // CAST(sum(w) OVER () AS HUGEINT) AS BIGINT) AS base, " +
      s"(CAST(w AS HUGEINT) * $tempMixBudget) % CAST(sum(w) OVER () AS HUGEINT) AS rem FROM w), " +
      "t AS (SELECT lang, base + CASE WHEN row_number() OVER " +
      "(ORDER BY rem DESC, lang ASC NULLS FIRST) <= " +
      s"$tempMixBudget - sum(base) OVER () THEN 1 ELSE 0 END AS quota FROM a), " +
      "r AS (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang " +
      "ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT, doc_id) AS rn " +
      "FROM documents) " +
      // null-safe join: the Spark side keys quotas with <=> and the
      // null-grouping windows keep a NULL-lang stratum alive, so the
      // oracle must not drop it through a plain equi-join (ADVICE r13)
      "SELECT r.doc_id, r.lang FROM r JOIN t ON r.lang IS NOT DISTINCT FROM t.lang " +
      "WHERE r.rn <= t.quota"

  /** The ONE quality-model weight vector every scoring query shares
    * (q_quality_score, q_token_budget*, q_curation_e2e) — mirrored by
    * [[qScoreSql]]; editing weights means editing BOTH, once each.
    */
  private val qualityWeights = Seq(
    "n_tokens" -> 2L, "mean_tok_len_x100" -> 1L,
    "punct_cnt" -> -5L, "digit_cnt" -> -10L)

  /** (doc_id, lang, n_tokens, q_score) — the shared input of the two
    * token-budget query flavors.
    */
  private def scoredDocs(s: SparkSession, dir: String): DataFrame = {
    val score = TextAnalysis.linearQualityScore(col("text"), qualityWeights)
    docs(s, dir).select(col("doc_id"), col("lang"),
      TextAnalysis.tokenCountWs(col("text")).as("n_tokens"),
      score.as("q_score"))
  }

  /** DuckDB `sum(BIGINT)` returns HUGEINT, which `.df()` renders as
    * float64 — the same repr trap as DECIMAL. Every integer sum in an
    * oracle must come back down to BIGINT explicitly.
    */
  private def sumCentsSql(x: String): String =
    s"CAST(sum(${centsSql(x)}) AS BIGINT)"

  /** events rows wrapped into a Kafka-style value struct:
    * value = {event_id, meta: {user: {user_id, event_type}, v}}.
    */
  private def eventsAsValueStruct(s: SparkSession, dir: String): DataFrame =
    events(s, dir).select(
      col("event_id"),
      struct(
        struct(col("user_id"), col("event_type")).as("user"),
        col("value").as("v")).as("meta"))
      .select(col("event_id").as("__id"),
        struct(col("event_id"), col("meta")).as("value"))

  // ------------------------------------------------------------ queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- parity: DropField (schema-ful, schemaless), SURVEY §2.1 #1
    "drop_nested" -> ((s, dir) => {
      val dropped = DropField("value", Seq("meta.user.event_type"))(eventsAsValueStruct(s, dir))
      dropped.select(
        col("value.event_id").as("event_id"),
        col("value.meta.user.user_id").as("user_id"),
        col("value.meta.v").as("v"))
    }),
    "drop_subtree" -> ((s, dir) => {
      val dropped = DropField("value", Seq("meta.user"))(eventsAsValueStruct(s, dir))
      dropped.select(
        col("value.event_id").as("event_id"),
        col("value.meta.v").as("v"))
    }),
    "drop_schemaless" -> ((s, dir) => {
      val in = events(s, dir).select(col("event_id"),
        to_json(struct(col("user_id"),
          struct(col("event_type"), col("event_id").as("k")).as("meta"))).as("payload"))
      DropField("payload", Seq("meta.k"))(in)
        .select(col("event_id"), col("payload").as("dropped"))
    }),

    // ---- parity: ExtendedHoistField, SURVEY §2.1 #2
    "hoist_keep" -> ((s, dir) => {
      val in = events(s, dir).select(col("event_id"), struct(
        col("event_id").as("id"),
        when(col("event_type") === "error", lit(null)).otherwise(col("user_id")).as("ma"),
        when(col("event_type") === "error", lit(null)).otherwise(col("event_id")).as("mb"))
        .as("key"))
      ExtendedHoistField("key", "payload", Seq("id"))(in).select(
        col("event_id"),
        col("key.payload").isNull.as("payload_is_null"),
        col("key.payload.ma").as("pa"),
        col("key.payload.mb").as("pb"))
    }),
    "hoist_passthrough" -> ((s, dir) => {
      val in = events(s, dir).select(col("event_id"),
        struct(col("event_id").as("id"), col("user_id").as("uid")).as("key"))
      ExtendedHoistField("key", "payload", Seq("id", "uid"))(in)
        .select(col("event_id"), col("key.uid").as("user_id"))
    }),
    "hoist_schemaless" -> ((s, dir) =>
      ExtendedHoistField("props", "wrapped")(events(s, dir))
        .select(col("event_id"), col("props").as("wrapped"))),
    "hoist_schemaless_keep" -> ((s, dir) =>
      ExtendedHoistField("props", "wrapped", Seq("k"))(events(s, dir))
        .select(col("event_id"), col("props").as("kept"))),

    // ---- parity: StructuredSchemalessToJsonString, SURVEY §2.1 #3
    "to_json_map" -> ((s, dir) => {
      val in = widen(events(s, dir)).select(col("event_id"),
        from_json(col("props"), MapType(StringType, LongType)).as("m"))
      StructuredToJsonString("m")(in).select(col("event_id"), col("m").as("j"))
    }),

    // ---- Spark 4 Variant: schemaless extraction without re-parsing
    "variant_extract" -> ((s, dir) => {
      // widen (r20): variant parse + two extracts per row on a
      // single-row-group scan — see the widen scaladoc
      val withV = transforms.VariantOps.withVariant(widen(events(s, dir)), "props", "v")
      withV.select(col("event_id"),
        transforms.VariantOps.extract(col("v"), "$.k", "bigint").as("k_val"),
        transforms.VariantOps.extractLenient(col("v"), "$.missing", "bigint").as("missing_val"))
    }),
    // the reference's schemaless-Map MUTATIONS on VariantType end to end:
    // build a JSON payload, parse ONCE to variant, rewrite via the
    // map<string,variant> cast (drop a nested field / hoist with a
    // keep-list), serialize back. Variant canonicalizes object keys to
    // sorted order, so payload keys are chosen pre-sorted and the oracle
    // string-builds the same canonical text.
    "drop_variant" -> ((s, dir) => {
      val in = widen(events(s, dir)).select(col("event_id"),
        transforms.VariantOps.parseJson(to_json(struct(
          col("event_id").as("k"),
          struct(col("event_type").as("t"), col("user_id").as("u")).as("meta"))))
          .as("v"))
      in.select(col("event_id"),
        transforms.VariantOps.dropFieldJson(col("v"), Seq("meta", "t"))
          .as("dropped"))
    }),
    "hoist_variant" -> ((s, dir) => {
      // widen (r20): r19 left this 1-task variant map alone because
      // parallelizing "needs a corpus exchange that is pure loss at
      // 100 TB" — the SCALE-GATED widen dissolves that objection: the
      // exchange exists only when the scan plans narrower than the
      // session (never at 100 TB)
      val in = widen(events(s, dir)).select(col("event_id"),
        transforms.VariantOps.parseJson(to_json(struct(
          col("event_id").as("id"), col("event_type").as("t"),
          col("user_id").as("u")))).as("v"))
      in.select(col("event_id"),
        transforms.VariantOps.hoistJson(col("v"), "wrapped", Seq("id"))
          .as("hoisted"))
    }),

    // ---- parity: config-driven chain (configure + TransformationChain)
    "chain_props" -> ((s, dir) => {
      val fn = ConnectProps.compile(Map(
        "transforms" -> "dropK,wrap",
        "transforms.dropK.type" -> "DropField$Value",
        "transforms.dropK.column" -> "props",
        "transforms.dropK.fields" -> "k",
        "transforms.wrap.type" -> "ExtendedHoistField$Value",
        "transforms.wrap.column" -> "props",
        "transforms.wrap.field" -> "wrapped"))
      fn(events(s, dir)).select(col("event_id"), col("event_type"), col("props"))
    }),

    // ---- analytics over the star schema (free from Catalyst; here to
    // prove pushdown/broadcast/shuffle shapes at scale)
    "q1_agg" -> ((s, dir) => Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(cents(col("l_quantity"))).as("sum_qty_cents"),
        sum(cents(col("l_extendedprice"))).as("sum_price_cents"),
        count(lit(1)).as("cnt"))),
    "q3_join" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val n = Tables.table(s, dir, "nation")
      o.join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(cents(col("o_totalprice"))).as("rev_cents"),
          count(lit(1)).as("n_orders"))
    }),
    "q_topk_window" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      Tables.customer(s, dir)
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"), col("rank"))
    }),
    // same semantics as q_topk_window, executed by the custom
    // TopKPerKeyExec (bounded per-key heaps, no sort) — plans/TopKPerKey
    "q_topk_custom" -> ((s, dir) =>
      graft.plans.TopKPerKey.topKPerKey(Tables.customer(s, dir),
        Seq("c_mktsegment"), Seq("c_acctbal" -> false, "c_custkey" -> true), 3)
        .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"), col("rank"))),
    "q_per_key_cap" -> ((s, dir) => {
      // per-domain quota: keep at most 40 docs per lang, chosen by
      // deterministic hash order (not "first 40 in file order"), so the
      // capped sample is unbiased and stable across partition layouts,
      // corpus versions, and engines — the dedup-adjacent "no single
      // source dominates" curation step.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("lang")).orderBy(
        graft.operators.Sampling.hashBucket(col("doc_id")), col("doc_id"))
      docs(s, dir).withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 40)
        .select(col("doc_id"), col("lang"))
    }),
    // deterministic data MIXING: per-source quotas from a tiny broadcast
    // config table (src0..src3 explicit, everything else the default 8)
    // — the "N parts web, M parts books" step of corpus assembly, with
    // hash-rank selection so the mix is engine- and layout-stable
    "q_mix_sources" -> ((s, dir) => {
      import s.implicits._
      val quotas = mixQuotas.toDF("source", "quota")
      graft.operators.Sampling.mixToQuotas(
        docs(s, dir).select(col("doc_id"), col("source")),
        "doc_id", "source", quotas, mixDefaultQuota)
    }),
    // the hot-key-safe two-phase variant (hash-threshold prune → rank →
    // underfill-verified fallback) — provably the SAME selection, so it
    // hash-checks against the SAME oracle as q_mix_sources
    "q_mix_sources_large" -> ((s, dir) => {
      import s.implicits._
      val quotas = mixQuotas.toDF("source", "quota")
      // cacheInput = false: the input is a 2-column pruned parquet scan —
      // cheaper to read twice with pushdown than to materialize once
      graft.operators.Sampling.mixToQuotasLarge(
        docs(s, dir).select(col("doc_id"), col("source")),
        "doc_id", "source", quotas, mixDefaultQuota, cacheInput = false)
    }),
    // temperature-based language resampling (the mT5/XLM-R law): targets
    // ∝ cnt^0.5 flatten the en-dominant corpus, exact largest-remainder
    // apportionment lands on the budget to the row, hash-rank selection
    "q_temperature_mix" -> ((s, dir) =>
      graft.operators.Sampling.temperatureMix(
        docs(s, dir).select(col("doc_id"), col("lang")),
        "doc_id", "lang", tau = 0.5, totalBudget = tempMixBudget)),
    // token-BUDGET selection: per lang, the best docs (linear quality
    // score, ties by id) whose running token total fits the budget —
    // "the best N tokens", the cut a fixed-size training run makes
    "q_token_budget" -> ((s, dir) =>
      graft.operators.Sampling.tokenBudget(scoredDocs(s, dir),
        "lang", "doc_id", "q_score", "n_tokens", budget = tokenBudgetCap)),
    // the hot-shard-safe two-phase shape (approx score cutoff → rank →
    // completeness-verified fallback) — identical selection, same oracle
    "q_token_budget_large" -> ((s, dir) =>
      graft.operators.Sampling.tokenBudgetLarge(scoredDocs(s, dir),
        "lang", "doc_id", "q_score", "n_tokens", budget = tokenBudgetCap)),
    "q_rolling_window" -> ((s, dir) => {
      // time-RANGE window frame (value-based, not row-based): per user,
      // the rolling 1h sum/count of purchase value. Peers with equal
      // timestamps are all in-frame by definition, so the result is
      // deterministic even under ts ties. One exchange on user_id.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
        .rangeBetween(-3600L * 1000000L, 0L)
      events(s, dir)
        .select(col("event_id"), col("user_id"),
          expr("ts div 1000").as("us"), cents(col("value")).as("vc"))
        .select(col("event_id"), col("user_id"),
          sum(col("vc")).over(w).as("roll_cents"),
          count(lit(1)).over(w).as("roll_n"))
    }),
    "q_events_daily" -> ((s, dir) => events(s, dir)
      .withColumn("day", to_date(timestamp_seconds(expr("ts div 1000000000"))))
      .groupBy(col("user_id"), col("day"))
      .agg(count(lit(1)).as("n_events"),
        sum(cents(col("value"))).as("sum_value_cents"))),
    // STREAMING execution made driver-visible: the events table replays
    // through a file STREAM (readStream → the same Connect-style
    // transform chain as chain_props → event-time 1-day tumbling windowed
    // aggregate → foreachBatch parquet sink), then the sink is read back
    // as a batch table for the oracle. The filter on the post-chain props
    // is the chain witness: if either transform failed to run in the
    // stream, zero rows survive and the hash check fails. Complete-mode +
    // overwrite-per-batch makes the result independent of micro-batch
    // boundaries (see foreachBatchSink). Runs once per process into a
    // process-unique dir, same memoization as q_partition_prune.
    "q_stream_daily" -> ((s, dir) => {
      // the file-stream source needs a DIRECTORY to watch (a production
      // landing zone); stage the NORMALIZED events table into a
      // process-unique input dir once (a raw file copy would leak the
      // writer's physical ts encoding past the Tables boundary) — BEFORE
      // the sink builder below, so no materializedDir call nests in another
      val srcDir = materializedDir("streamsrc", dir) { inPath =>
        events(s, dir).coalesce(1).write.mode("overwrite").parquet(inPath)
      }
      val out = materializedDir("streamdaily", dir) { outPath =>
        val schema = events(s, dir).schema
        val runner = graft.streaming.StreamRunner
        val src = runner.fileSource(s, srcDir, schema)
        val chained = runner.applyChain(src, Map(
          "transforms" -> "dropK,wrap",
          "transforms.dropK.type" -> "DropField$Value",
          "transforms.dropK.column" -> "props",
          "transforms.dropK.fields" -> "k",
          "transforms.wrap.type" -> "ExtendedHoistField$Value",
          "transforms.wrap.column" -> "props",
          "transforms.wrap.field" -> "wrapped"))
        val prepared = chained
          .filter(col("props") === lit("{\"wrapped\":{}}"))
          .select(timestamp_micros(expr("ts div 1000")).as("ets"),
            col("event_type"), cents(col("value")).as("vc"))
        val agg = runner.windowedStats(prepared, "ets", "vc", "event_type",
          windowLen = "1 day", watermarkDelay = "0 seconds")
        runner.foreachBatchSink(agg,
          (batch, _) => batch.write.mode("overwrite").parquet(outPath),
          outputMode = "complete",
          trigger = Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()))
          .awaitTermination()
      }
      Tables.readCached(s, out)
        .select(unix_micros(col("win_start")).as("win_start_us"),
          col("event_type"), col("n").as("n_events"),
          col("sum_value").as("sum_value_cents"))
    }),

    // APPEND-mode watermarked streaming whose result PROVABLY depends on
    // watermark semantics (VERDICT r6 task 5). The events table is staged
    // as three source files replayed as three ordered micro-batches
    // (maxFilesPerTrigger=1, modification-time order):
    //   b1 = first two days minus a marked subset;  b2 = everything later
    //   (advances the watermark to the global max event time);  b3 = the
    //   marked subset of day-1 rows — now LATE: their window closed when
    //   b2's watermark passed it, so append mode must DROP every one.
    // Two watermark facts are visible in the sink and hash-checked:
    //   1. the b3 late rows are absent from the day-1 aggregate;
    //   2. the LAST day's window never flushes (the watermark never passes
    //      its end), so the sink holds exactly days 1..N-1.
    // If eviction failed, day-1 counts differ; if append flushed eagerly,
    // day-N appears — either way the hash breaks.
    "q_stream_append" -> ((s, dir) => {
      val runner = graft.streaming.StreamRunner
      val ev = events(s, dir).select(
        timestamp_micros(expr("ts div 1000")).as("ets"),
        col("user_id"), col("event_type"), cents(col("value")).as("vc"))
      // stage the replay files BEFORE the sink builder (no nested
      // materializedDir — see its scaladoc)
      val srcDir = materializedDir("streamappendsrc", dir) { inPath =>
        val minDay = ev.agg(min(date_trunc("DAY", col("ets")))).head.getTimestamp(0)
        val day2End = new java.sql.Timestamp(minDay.getTime + 2 * 86400000L)
        val isLate = date_trunc("DAY", col("ets")) === lit(minDay) &&
          col("user_id") % 7 === 3
        val base = new java.io.File(inPath)
        base.mkdirs()
        // one parquet FILE per intended micro-batch; the file stream
        // source drains oldest-mtime-first, so spaced mtimes pin the
        // replay order
        val t0 = System.currentTimeMillis() - 600000L
        dumpBatchFile(base, ev.filter(col("ets") < lit(day2End) && !isLate), "b1", t0)
        dumpBatchFile(base, ev.filter(col("ets") >= lit(day2End)), "b2", t0 + 60000L)
        dumpBatchFile(base, ev.filter(isLate), "b3", t0 + 120000L)
      }
      val out = materializedDir("streamappend", dir) { outPath =>
        val src = runner.fileSource(s, srcDir, StructType(Seq(
          StructField("ets", TimestampType), StructField("user_id", LongType),
          StructField("event_type", StringType), StructField("vc", LongType))),
          maxFilesPerTrigger = Some(1))
        val agg = runner.windowedStats(src, "ets", "vc", "event_type",
          windowLen = "1 day", watermarkDelay = "0 seconds")
        // the checkpoint is a SIBLING of the materialized dir, so the
        // memo's shutdown hook doesn't cover it — register its own
        sys.addShutdownHook(
          deleteRecursively(new java.io.File(outPath + "_ckpt")))
        runner.fileSink(agg, outPath, outPath + "_ckpt").awaitTermination()
      }
      Tables.readCached(s, out)
        .select(unix_micros(col("win_start")).as("win_start_us"),
          col("event_type"), col("n").as("n_events"),
          col("sum_value").as("sum_value_cents"))
    }),

    // WATERMARKED STREAM-STREAM INTERVAL JOIN, driver-visible (VERDICT
    // r10 task 2): two live feeds — purchases and errors, staged from the
    // events table into two watched directories — are correlated with an
    // event-time interval join (each purchase picks up the same user's
    // errors from the preceding 30 minutes), both sides watermarked so
    // Spark evicts join state: error state survives only until the
    // watermark passes e_ts + 30min, purchase state until p_ts (bounds
    // derived from the join condition — state is O(rows per horizon),
    // never O(stream)). The replay is THREE ordered micro-batches per
    // side (mtime-pinned, maxFilesPerTrigger=1): b1 = the first two
    // days (minus a marked purchase subset), b2 = everything later
    // (advances the watermark to the stream's end), b3 = the marked
    // day-1 purchases — now LATE: they arrive below the watermark and
    // the join must DROP them. The hash check proves both halves:
    // missing b1/b2 matches ⇒ eviction fired too early; any b3 match ⇒
    // late rows weren't dropped. Cross-boundary matches are safe by
    // construction: errors an in-order b2 purchase can reach
    // (e_ts ≥ day2End − 30min) are disjoint from errors the b1-end
    // watermark may evict (e_ts < maxB1 − delay − 30min) for any
    // delay ≥ 0.
    "q_stream_ssjoin" -> ((s, dir) => {
      val runner = graft.streaming.StreamRunner
      val ev = events(s, dir).select(
        timestamp_micros(expr("ts div 1000")).as("ets"),
        col("event_id"), col("user_id"), col("event_type"))
      val srcRoot = materializedDir("streamssjoinsrc", dir) { inPath =>
        val minDay = ev.agg(min(date_trunc("DAY", col("ets")))).head.getTimestamp(0)
        val day2End = new java.sql.Timestamp(minDay.getTime + 2 * 86400000L)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("p_event_id"), col("user_id").as("p_user"),
            col("ets").as("p_ts"))
        val errors = ev.filter(col("event_type") === "error")
          .select(col("user_id").as("e_user"), col("ets").as("e_ts"))
        val isLate = date_trunc("DAY", col("p_ts")) === lit(minDay) &&
          col("p_user") % 7 === 3
        val pDir = new java.io.File(inPath, "purchases")
        val eDir = new java.io.File(inPath, "errors")
        pDir.mkdirs(); eDir.mkdirs()
        val t0 = System.currentTimeMillis() - 600000L
        dumpBatchFile(pDir, purchases.filter(col("p_ts") < lit(day2End) && !isLate), "b1", t0)
        dumpBatchFile(pDir, purchases.filter(col("p_ts") >= lit(day2End)), "b2", t0 + 60000L)
        dumpBatchFile(pDir, purchases.filter(isLate), "b3", t0 + 120000L)
        dumpBatchFile(eDir, errors.filter(col("e_ts") < lit(day2End)), "b1", t0)
        dumpBatchFile(eDir, errors.filter(col("e_ts") >= lit(day2End)), "b2", t0 + 60000L)
      }
      val out = materializedDir("streamssjoin", dir) { outPath =>
        val p = runner.fileSource(s, srcRoot + "/purchases", StructType(Seq(
          StructField("p_event_id", LongType), StructField("p_user", LongType),
          StructField("p_ts", TimestampType))), maxFilesPerTrigger = Some(1))
        val e = runner.fileSource(s, srcRoot + "/errors", StructType(Seq(
          StructField("e_user", LongType), StructField("e_ts", TimestampType))),
          maxFilesPerTrigger = Some(1))
        val joined = runner.streamStreamJoin(p, "p_ts", e, "e_ts", "1 hour",
          col("p_user") === col("e_user") &&
            col("e_ts") >= col("p_ts") - expr("INTERVAL 30 minutes") &&
            col("e_ts") <= col("p_ts"))
        sys.addShutdownHook(
          deleteRecursively(new java.io.File(outPath + "_ckpt")))
        runner.fileSink(
          joined.select(col("p_event_id"), unix_micros(col("e_ts")).as("err_us")),
          outPath, outPath + "_ckpt").awaitTermination()
      }
      Tables.readCached(s, out).select(col("p_event_id").as("event_id"), col("err_us"))
    }),

    // LEFT-OUTER flavor of the stream-stream interval join: purchases
    // with NO error in their 30-minute lookback must surface exactly
    // once, null-extended (err_us = -1) — emitted only after BOTH
    // watermarks pass the purchase's join window. Replay = the inner
    // query's three batches per side plus a two-stage sentinel flush
    // (far-future rows on both sides, filtered out of the sink): the
    // first sentinel pair advances both source watermarks past every
    // real purchase, the second guarantees a batch RUNS at that final
    // watermark so outer-state eviction emits even if no trailing
    // no-data batch fires. The hash proves all three behaviors at once:
    // inner matches (eviction-safe), late-input drop (b3 purchases emit
    // NOTHING, not even a null row), and exactly-once null extension.
    "q_stream_ssjoin_outer" -> ((s, dir) => {
      val runner = graft.streaming.StreamRunner
      val ev = events(s, dir).select(
        timestamp_micros(expr("ts div 1000")).as("ets"),
        col("event_id"), col("user_id"), col("event_type"))
      val srcRoot = materializedDir("streamssjooutersrc", dir) { inPath =>
        val bounds = ev.agg(min(date_trunc("DAY", col("ets"))), max(col("ets"))).head
        val minDay = bounds.getTimestamp(0)
        val day2End = new java.sql.Timestamp(minDay.getTime + 2 * 86400000L)
        val flush1 = new java.sql.Timestamp(bounds.getTimestamp(1).getTime + 10L * 86400000L)
        val flush2 = new java.sql.Timestamp(flush1.getTime + 86400000L)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("p_event_id"), col("user_id").as("p_user"),
            col("ets").as("p_ts"))
        val errors = ev.filter(col("event_type") === "error")
          .select(col("user_id").as("e_user"), col("ets").as("e_ts"))
        val isLate = date_trunc("DAY", col("p_ts")) === lit(minDay) &&
          col("p_user") % 7 === 3
        def pSentinel(t: java.sql.Timestamp) = s.range(1).select(
          lit(-1L).as("p_event_id"), lit(-1L).as("p_user"), lit(t).as("p_ts"))
        def eSentinel(t: java.sql.Timestamp) = s.range(1).select(
          lit(-2L).as("e_user"), lit(t).as("e_ts"))
        val pDir = new java.io.File(inPath, "purchases")
        val eDir = new java.io.File(inPath, "errors")
        pDir.mkdirs(); eDir.mkdirs()
        val t0 = System.currentTimeMillis() - 600000L
        dumpBatchFile(pDir, purchases.filter(col("p_ts") < lit(day2End) && !isLate), "b1", t0)
        dumpBatchFile(pDir, purchases.filter(col("p_ts") >= lit(day2End)), "b2", t0 + 60000L)
        dumpBatchFile(pDir, purchases.filter(isLate), "b3", t0 + 120000L)
        dumpBatchFile(pDir, pSentinel(flush1), "b4", t0 + 180000L)
        dumpBatchFile(pDir, pSentinel(flush2), "b5", t0 + 240000L)
        dumpBatchFile(eDir, errors.filter(col("e_ts") < lit(day2End)), "b1", t0)
        dumpBatchFile(eDir, errors.filter(col("e_ts") >= lit(day2End)), "b2", t0 + 60000L)
        dumpBatchFile(eDir, eSentinel(flush1), "b4", t0 + 180000L)
        dumpBatchFile(eDir, eSentinel(flush2), "b5", t0 + 240000L)
      }
      val out = materializedDir("streamssjoouter", dir) { outPath =>
        val p = runner.fileSource(s, srcRoot + "/purchases", StructType(Seq(
          StructField("p_event_id", LongType), StructField("p_user", LongType),
          StructField("p_ts", TimestampType))), maxFilesPerTrigger = Some(1))
        val e = runner.fileSource(s, srcRoot + "/errors", StructType(Seq(
          StructField("e_user", LongType), StructField("e_ts", TimestampType))),
          maxFilesPerTrigger = Some(1))
        val joined = runner.streamStreamJoin(p, "p_ts", e, "e_ts", "1 hour",
          col("p_user") === col("e_user") &&
            col("e_ts") >= col("p_ts") - expr("INTERVAL 30 minutes") &&
            col("e_ts") <= col("p_ts"),
          joinType = "leftOuter")
        sys.addShutdownHook(
          deleteRecursively(new java.io.File(outPath + "_ckpt")))
        // NO sentinel filter on the streaming side: a left-side filter
        // would be PUSHED below the join and the watermark operator into
        // the purchases scan, silently swallowing the flush rows — the
        // watermark would stall and the tail purchases' null rows never
        // emit. Sentinels are excluded from the batch read below instead.
        runner.fileSink(
          joined.select(col("p_event_id"),
            coalesce(unix_micros(col("e_ts")), lit(-1L)).as("err_us")),
          outPath, outPath + "_ckpt").awaitTermination()
      }
      Tables.readCached(s, out).filter(col("p_event_id") >= 0)
        .select(col("p_event_id").as("event_id"), col("err_us"))
    }),

    // STREAMING NEAR-DUP INGESTION — the continuous-ingestion composition
    // of proven pieces, driver-visible: the dedup_incremental batch (20
    // truncated near-copies of index docs) split into THREE ordered
    // micro-batch files (mtime-pinned replay, maxFilesPerTrigger=1), each
    // drained through foreachBatch running dedupAgainstPreparedIndex
    // against a STANDING index whose signatures are computed and
    // persisted ONCE before the stream starts — per trigger only the
    // small batch is signatured and its bands broadcast into the index.
    // Batch-vs-index matching has no batch-vs-batch interaction, so the
    // union of per-batch matches must equal the one-shot batch oracle
    // (dedup_incremental's algebra) EXACTLY — and n_appends counts how
    // many micro-batches emitted each doc, so a replayed/duplicated
    // trigger (a non-idempotent-sink bug) breaks the hash rather than
    // slipping through.
    "q_stream_dedup" -> ((s, dir) => {
      val runner = graft.streaming.StreamRunner
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      // stage the replay files BEFORE the sink builder (no nested
      // materializedDir — the r8 bench died exactly here; see scaladoc)
      val srcDir = materializedDir("streamdedupsrc", dir) { inPath =>
        val batchAll = d.filter(col("doc_id") < 20).select(
          (col("doc_id") + 100000).as("doc_id"),
          regexp_replace(col("text"), "\\s+\\S+$", "").as("text"))
        val base = new java.io.File(inPath)
        base.mkdirs()
        val t0 = System.currentTimeMillis() - 600000L
        (0 until 3).foreach { j =>
          dumpBatchFile(base,
            batchAll.filter((col("doc_id") - 100000) % 3 === j),
            s"b$j", t0 + j * 60000L)
        }
      }
      val out = materializedDir("streamdedup", dir) { outPath =>
        val tracker = new graft.operators.CacheTracker
        val idx = Dedup.prepareDedupIndex(d, "doc_id", "text",
          shingleSize = 3, numHashes = 8, tracker = tracker)
        val src = runner.fileSource(s, srcDir, StructType(Seq(
          StructField("doc_id", LongType), StructField("text", StringType))),
          maxFilesPerTrigger = Some(1))
        runner.foreachBatchSink(src, (batch, _) => {
          val bt = new graft.operators.CacheTracker
          Dedup.dedupAgainstPreparedIndex(idx, batch, "doc_id", "text",
            shingleSize = 3, numHashes = 8, tracker = bt)
            .write.mode("append").parquet(outPath)
          bt.release()
        }, trigger = Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()))
          .awaitTermination()
        tracker.release()
      }
      Tables.readCached(s, out).groupBy("doc_id")
        .agg(min(col("dup_of")).as("dup_of"),
          count(lit(1)).as("n_appends"))
    }),

    // ---- remaining §2.2 categories: rollup, sort/limit, set ops, scalars
    "q_rollup" -> ((s, dir) => Tables.lineitem(s, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping(col("l_returnflag")).cast("int").as("g_rf"),
        grouping(col("l_linestatus")).cast("int").as("g_ls"),
        sum(cents(col("l_quantity"))).as("sum_qty_cents"),
        count(lit(1)).as("cnt"))
      // subtotal rows carry NULL group keys → sentinel for stable compare
      .select(coalesce(col("l_returnflag"), lit("(all)")).as("l_returnflag"),
        coalesce(col("l_linestatus"), lit("(all)")).as("l_linestatus"),
        col("g_rf"), col("g_ls"), col("sum_qty_cents"), col("cnt"))),
    // cube: all four grouping combinations in one pass (rollup's superset;
    // Catalyst plans ONE Expand + one aggregate — not four scans)
    // NOT widened (r20, measured): the cost here is the parquet decimal
    // decode in the scan itself, so a widening exchange just re-ships
    // what the scan already paid for (0.89 s -> 1.21 s profiled)
    "q_cube" -> ((s, dir) => Tables.lineitem(s, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping(col("l_returnflag")).cast("int").as("g_rf"),
        grouping(col("l_linestatus")).cast("int").as("g_ls"),
        sum(cents(col("l_quantity"))).as("sum_qty_cents"),
        count(lit(1)).as("cnt"))
      .select(coalesce(col("l_returnflag"), lit("(all)")).as("l_returnflag"),
        coalesce(col("l_linestatus"), lit("(all)")).as("l_linestatus"),
        col("g_rf"), col("g_ls"), col("sum_qty_cents"), col("cnt"))),
    // window-function family beyond row_number: lag/lead navigation,
    // ntile bucketing, and a running count, all over one window spec —
    // one shuffle + one sort serves all four (integer outputs only; the
    // (o_orderdate, o_orderkey) order is unique so every engine agrees)
    "q_window_funcs" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, dir).select(
        col("o_orderkey"), col("o_custkey"),
        lag(col("o_orderkey"), 1).over(w).as("prev_orderkey"),
        lead(col("o_orderkey"), 1).over(w).as("next_orderkey"),
        ntile(4).over(w).cast("int").as("quartile"),
        count(lit(1)).over(cum).as("n_so_far"))
    }),
    // explicit GROUPING SETS (Spark 4 Dataset.groupingSets): the two
    // one-dimension subtotals only — the shape rollup/cube can't express
    "q_grouping_sets" -> ((s, dir) => Tables.lineitem(s, dir)
      .groupingSets(Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(grouping(col("l_returnflag")).cast("int").as("g_rf"),
        grouping(col("l_linestatus")).cast("int").as("g_ls"),
        sum(cents(col("l_quantity"))).as("sum_qty_cents"),
        count(lit(1)).as("cnt"))
      .select(coalesce(col("l_returnflag"), lit("(all)")).as("l_returnflag"),
        coalesce(col("l_linestatus"), lit("(all)")).as("l_linestatus"),
        col("g_rf"), col("g_ls"), col("sum_qty_cents"), col("cnt"))),
    // full outer join: users seen on either side survive with zero-filled
    // counts — the reconciliation shape (left/anti/semi live in q_range /
    // q_anti_join / q_setops)
    "q_full_outer" -> ((s, dir) => {
      val e = events(s, dir)
      val p = e.filter(col("event_type") === "purchase")
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_purchase"))
      val r = e.filter(col("event_type") === "error")
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_error"))
      p.join(r, Seq("user_id"), "full_outer")
        .select(col("user_id"),
          coalesce(col("n_purchase"), lit(0L)).as("n_purchase"),
          coalesce(col("n_error"), lit(0L)).as("n_error"))
    }),
    // corpus VERSION DIFF — the dataset-versioning primitive: v2 is
    // simulated from v1 (every 31st doc by hash dropped, every 13th
    // edited, 10 new ids planted), then a full-outer join on id compares
    // content digests and counts added/removed/changed/same per source.
    // Only (id, 16-byte digest, source) enters the join — text never
    // shuffles, so a 100 TB diff moves ~25 bytes per document. (The
    // +1000000 planted-id offset assumes the synthetic testdata id space,
    // same as every other planted query; the diff OPERATOR itself —
    // join + digest compare — carries no such assumption.)
    "q_corpus_diff" -> ((s, dir) => {
      val v1 = docs(s, dir).select(col("doc_id"), col("source"),
        md5(col("text")).as("h"))
      val v2base = docs(s, dir)
        .filter(graft.operators.Sampling.hashBucket(col("doc_id")) % 31 =!= 0)
        .select(col("doc_id"), col("source"),
          when(col("doc_id") % 13 === 0, md5(concat(col("text"), lit(" v2"))))
            .otherwise(md5(col("text"))).as("h"))
      val planted = docs(s, dir).filter(col("doc_id") < 10).select(
        (col("doc_id") + 1000000).as("doc_id"), col("source"),
        md5(concat(lit("new:"), col("text"))).as("h"))
      val v2 = v2base.union(planted)
      v1.as("a").join(v2.as("b"),
          col("a.doc_id") === col("b.doc_id"), "full_outer")
        .select(
          coalesce(col("a.source"), col("b.source")).as("source"),
          when(col("a.doc_id").isNull, "added")
            .when(col("b.doc_id").isNull, "removed")
            .when(col("a.h") =!= col("b.h"), "changed")
            .otherwise("same").as("status"))
        .groupBy(col("source"), col("status"))
        .agg(count(lit(1)).as("n_docs"))
    }),
    // distinct aggregation: Catalyst plans Expand + two-phase aggregate,
    // so the distinct runs distributed (never a driver-side set)
    "q_distinct_agg" -> ((s, dir) => events(s, dir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))),
    // pivot: per-user event-type counts as columns. Fixed value list so
    // the output schema is static (Spark's inferred pivot would scan once
    // to discover values — a 100 TB anti-pattern); oracle = conditional
    // aggregation, the relational-algebra equivalent.
    "q_pivot" -> ((s, dir) => events(s, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("view", "click", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      .select(col("user_id"),
        coalesce(col("view"), lit(0L)).as("n_view"),
        coalesce(col("click"), lit(0L)).as("n_click"),
        coalesce(col("purchase"), lit(0L)).as("n_purchase"),
        coalesce(col("signup"), lit(0L)).as("n_signup"),
        coalesce(col("error"), lit(0L)).as("n_error"))),
    // unpivot (melt): wide per-user counts back to (user, metric, value)
    // rows — the inverse of q_pivot, oracled by UNION ALL
    "q_unpivot" -> ((s, dir) => {
      val wide = events(s, dir).groupBy(col("user_id"))
        .agg(count(when(col("event_type") === "view", 1)).as("n_view"),
          count(when(col("event_type") === "error", 1)).as("n_error"))
      wide.unpivot(Array(col("user_id")),
        Array(col("n_view"), col("n_error")), "metric", "n")
    }),
    // anti/semi joins: customers with no orders (anti) — the dedup/orphan
    // primitive; plans as a broadcast/shuffled semi-join, never a product
    "q_anti_join" -> ((s, dir) => Tables.customer(s, dir)
      .join(Tables.orders(s, dir).select(col("o_custkey").as("c_custkey")),
        Seq("c_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_mktsegment"))),
    // semi join, exercised through the SQL-TEXT interface: a correlated
    // EXISTS subquery over registered temp views — Catalyst decorrelates
    // it into the same LeftSemi hash join the DataFrame API plans, and
    // the query proves the engine's SQL surface end-to-end
    "q_semi_join" -> ((s, dir) => {
      Tables.customer(s, dir).createOrReplaceTempView("graft_customer")
      Tables.orders(s, dir).filter(col("o_totalprice") > 300000)
        .createOrReplaceTempView("graft_big_orders")
      s.sql("""SELECT c_custkey, c_mktsegment FROM graft_customer c
               WHERE EXISTS (SELECT 1 FROM graft_big_orders o
                             WHERE o.o_custkey = c.c_custkey)""")
    }),
    // data-quality checks: one row per rule with its violation count —
    // the "expectations" pattern; every rule is one conditional aggregate,
    // so the whole suite is a single scan per table
    "q_quality_checks" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).agg(
        sum(when(col("l_quantity") <= 0, 1).otherwise(0)).as("nonpositive_qty"),
        sum(when(col("l_extendedprice") < 0, 1).otherwise(0)).as("negative_price"),
        sum(when(col("l_orderkey").isNull, 1).otherwise(0)).as("null_orderkey"))
        .select(lit("lineitem").as("tbl"),
          explode(map(
            lit("nonpositive_qty"), col("nonpositive_qty"),
            lit("negative_price"), col("negative_price"),
            lit("null_orderkey"), col("null_orderkey"))).as(Seq("rule", "violations")))
      val orphans = Tables.orders(s, dir)
        .join(Tables.customer(s, dir).select(col("c_custkey").as("o_custkey")),
          Seq("o_custkey"), "left_anti")
        .agg(count(lit(1)).as("violations"))
        .select(lit("orders").as("tbl"), lit("orphan_custkey").as("rule"),
          col("violations"))
      li.unionByName(orphans)
    }),
    // salted two-stage aggregation over the (skewed) events user_id —
    // results must be indistinguishable from a plain GROUP BY (the oracle
    // IS a plain GROUP BY); salting only changes the physical shuffle shape
    "q_skew_salted" -> ((s, dir) => graft.operators.Skew.saltedAggregate(
      events(s, dir), Seq("user_id"), saltBuckets = 16,
      partialAggs = Seq(count(lit(1)).as("n_events"),
        sum(cents(col("value"))).as("sum_value_cents")),
      mergeAggs = Seq(sum(col("n_events")).as("n_events"),
        sum(col("sum_value_cents")).as("sum_value_cents")))),
    // gaps-and-islands sessionization over events, 1-hour gap. Times are
    // epoch MICROS on both sides: `ts` is normalized BIGINT nanos (micro
    // precision), so `ts div 1000` == DuckDB's `epoch_us(ts)` exactly.
    "q_sessionize" -> ((s, dir) => graft.operators.Sessionize.sessions(
      events(s, dir)
        .withColumn("ts_us", expr("ts div 1000"))
        .withColumn("value_cents", cents(col("value"))),
      "user_id", "ts_us", "value_cents", gap = 3600L * 1000000L)
      .select(col("user_id"), col("sid"), col("session_start"),
        col("session_end"), col("n_events"),
        col("sum_value").as("sum_value_cents"))),
    "q_sort_limit" -> ((s, dir) => Tables.orders(s, dir)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)
      .select(col("o_orderkey"), col("o_totalprice"))),
    "q_setops" -> ((s, dir) => {
      // INTERSECT + EXCEPT: BUILDING-segment customers with orders, minus
      // those with any order above 400k (non-empty at every SF)
      val c = Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val o = Tables.orders(s, dir).select(col("o_custkey").as("c_custkey"))
      val big = Tables.orders(s, dir).filter(col("o_totalprice") > 400000)
        .select(col("o_custkey").as("c_custkey"))
      c.intersect(o).except(big)
    }),
    // write-side Layout exercised end-to-end: events land hive-partitioned
    // by event_type, the read-back predicate prunes to ONE directory at
    // planning time (PartitionFilters in the scan — plan-asserted in
    // LayoutSpec), and only that slice is returned. At 100 TB this is the
    // difference between scanning the table and scanning 1/5th of it
    // before any row-level work. The write runs once per JVM into a
    // process-unique directory (see prunedLayoutDir) so concurrent
    // drivers can't race on a shared overwrite.
    "q_partition_prune" -> ((s, dir) =>
      graft.sources.Layout.readPartitioned(s, prunedLayoutDir(s, dir))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"))),
    // layout-MAINTENANCE pass end to end (the write-side half is
    // q_partition_prune): documents' slim columns are deliberately
    // fragmented into 64 tiny parquet files — the state a table is left in
    // by streaming appends / partition-scoped merges — then bin-packed by
    // Layout.compactSmallFiles (FS-listing-sized, rewritten to a sibling
    // temp dir, swapped in by rename) and read back aggregated. Compaction
    // is a pure layout rewrite, so the aggregate hash-matches the oracle
    // computed on the ORIGINAL table: a row dropped or doubled anywhere in
    // the fragment→compact→swap chain fails the round. Fragment + compact
    // run once per JVM into a process-unique dir (same memoization as
    // q_partition_prune).
    "q_compact_roundtrip" -> ((s, dir) => {
      val path = materializedDir("compactq", dir) { out =>
        Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .repartition(64).write.mode("overwrite").parquet(out)
        graft.sources.Layout.compactSmallFiles(s, out,
          targetFileBytes = 4L << 20): Unit
      }
      Tables.readCached(s, path)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    }),
    // bucketed fact-dim join: both sides written bucketed by custkey once
    // per process (see bucketedTables), so the equi-join plans WITHOUT a
    // shuffle exchange on either side — the pay-once answer to repeated
    // 100 TB joins. The MERGE hint pins the SortMergeJoin even at bench
    // SFs where customer fits under the auto-broadcast threshold: the
    // exchange-free SMJ is the plan this feature exists for, and the hint
    // is plan-scoped (no session-conf mutation to leak into other
    // queries). BucketingSpec asserts the exchange-free shape; the driver
    // hash-checks the VALUES against a plain-join oracle.
    "q_bucketed_join" -> ((s, dir) => {
      val (oT, cT) = bucketedTables(s, dir)
      s.table(oT).hint("merge")
        .join(s.table(cT).hint("merge"), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(cents(col("o_totalprice"))).as("sum_price_cents"))
    }),
    "q_zorder" -> ((s, dir) => events(s, dir).select(col("event_id"),
      // Morton code of (user_id, event_id mod 1024) — the sort key behind
      // Layout.writeZOrdered's two-dimensional row-group pruning; pure
      // shift/mask/or integer arithmetic, bit-identical in any engine
      graft.functions.ZOrder.zValue(col("user_id"),
        col("event_id").bitwiseAND(lit(1023L)), bits = 16).as("z"))),
    // Hilbert index of the same two dimensions — the sort key behind
    // Layout.writeHilbertOrdered (unit-step curve → tight per-file
    // envelopes at UNALIGNED file splits, where Morton's boundary jumps
    // stretch them). Codegen Expression (the rotation recurrence as a
    // generated loop — a when-chain would triple the tree per bit
    // level); the oracle UNROLLS the same recurrence as 10 CTE rounds,
    // so the hash pins every rotate/flip branch bit-for-bit in a
    // second engine
    "q_hilbert" -> ((s, dir) => events(s, dir).select(col("event_id"),
      graft.functions.Hilbert.hilbert_index(col("user_id"),
        col("event_id").bitwiseAND(lit(1023L)), bits = 10).as("h"))),
    // CSV landing-format round trip: orders columns written to headered
    // CSV once per JVM (process-unique dir, same memoization as
    // q_partition_prune), read back under an EXPLICIT schema, aggregated.
    // Doubles survive the text round trip exactly (shortest-round-trip
    // rendering), so the cents sums match the parquet-side oracle
    // bit-for-bit.
    "q_csv_roundtrip" -> ((s, dir) => {
      val path = materializedDir("csv", dir)(out =>
        graft.sources.Formats.writeCsv(Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice")), out))
      val schema = StructType(Seq(
        StructField("o_orderkey", LongType),
        StructField("o_orderpriority", StringType),
        StructField("o_totalprice", DoubleType)))
      graft.sources.Formats.readCsv(s, path, schema)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(cents(col("o_totalprice"))).as("sum_price_cents"))
    }),
    // JSON-lines round trip (the other universal landing format), same
    // write-once pattern; events' nanos ts column is deliberately not
    // round-tripped — JSON has no nanos type, the value/type columns do
    "q_jsonl_roundtrip" -> ((s, dir) => {
      val path = materializedDir("jsonl", dir)(out =>
        graft.sources.Formats.writeJsonl(events(s, dir)
          .select(col("event_id"), col("user_id"), col("event_type"), col("value")), out))
      val schema = StructType(Seq(
        StructField("event_id", LongType),
        StructField("user_id", LongType),
        StructField("event_type", StringType),
        StructField("value", DoubleType)))
      graft.sources.Formats.readJsonl(s, path, schema)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(cents(col("value"))).as("sum_value_cents"))
    }),
    // ORC round trip: columnar, self-describing (schema + stats embedded)
    // — the read side gets pruning/pushdown like parquet, asserted in
    // FormatsSpec; binary column values survive exactly, so the oracle
    // off the original parquet hash-matches
    "q_orc_roundtrip" -> ((s, dir) => {
      val path = materializedDir("orc", dir)(out =>
        graft.sources.Formats.writeOrc(Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity")), out))
      graft.sources.Formats.readOrc(s, path)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"),
          sum(cents(col("l_quantity"))).as("sum_qty_cents"))
    }),
    // schema evolution: a v1 writer lands (doc_id, lang), a v2 writer
    // APPENDS (doc_id, lang, n_chars) into the same directory — the
    // standard added-column drift of a long-lived table. The merged read
    // must union the schemas, surface NULL n_chars for v1 rows, and keep
    // per-file column pruning; the oracle recomputes the expected
    // null-aware aggregate from the source table's even/odd split
    "q_schema_evolution" -> ((s, dir) => {
      val path = materializedDir("evolve", dir) { out =>
        val d = Tables.documents(s, dir)
        d.filter(col("doc_id") % 2 === 0).select(col("doc_id"), col("lang"))
          .write.mode("overwrite").parquet(out)
        d.filter(col("doc_id") % 2 === 1)
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .write.mode("append").parquet(out)
      }
      graft.sources.Formats.readParquetMerged(s, path)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          count(col("n_chars")).as("n_evolved"),
          sum(coalesce(col("n_chars"), lit(0L))).as("sum_n_chars"))
    }),
    // Kafka-envelope golden fixture (no broker and no spark-sql-kafka jar
    // in this sandbox, so the envelope path is proven the testable way):
    // a parquet fixture shaped EXACTLY like Spark's Kafka source schema —
    // binary key/value, headers ARRAY<STRUCT<key,value BINARY>>, topic/
    // partition/timestamp (model/Envelope, SURVEY §1.3) — is written from
    // events, read back, binary-decoded, and pushed through the FULL
    // Connect-style chain (DropField + ExtendedHoistField on the
    // schemaless JSON value, default $Value targeting — the reference's
    // newRecord envelope contract, DropField.java:151,
    // ExtendedHoistField.java:193). The output proves per-record fidelity
    // of every envelope part: key bytes, value fields through the chain,
    // header bytes, and the timestamp — all hash-checked against the
    // original events table in DuckDB.
    "q_kafka_envelope" -> ((s, dir) => {
      import graft.model.Envelope
      val path = materializedDir("kafkaenv", dir)(out =>
        events(s, dir).select(
          lit("events").as(Envelope.TopicCol),
          pmod(col("user_id"), lit(4)).cast("int").as(Envelope.PartitionCol),
          encode(col("user_id").cast("string"), "UTF-8").as(Envelope.KeyCol),
          encode(to_json(struct(
            col("event_id"),
            col("event_type"),
            get_json_object(col("props"), "$.k").cast("long").as("k"),
            cents(col("value")).as("amount_cents"))), "UTF-8").as(Envelope.ValueCol),
          col("ts").as(Envelope.TimestampCol),
          array(
            struct(lit("source").as("key"), encode(lit("graft"), "UTF-8").as("value")),
            struct(lit("etype").as("key"), encode(col("event_type"), "UTF-8").as("value")))
            .as(Envelope.HeadersCol))
          .write.mode("overwrite").parquet(out))
      // Kafka delivers bytes: decode key/value, then run the chain.
      // widen: the materialized envelope parquet is one row group, so
      // the decode → chain → from_json per-row work (measured 0.88 s of
      // single-task CPU, JobProfile r20) otherwise serializes
      val decoded = widen(Tables.readCached(s, path))
        .withColumn(Envelope.KeyCol, decode(col(Envelope.KeyCol), "UTF-8"))
        .withColumn(Envelope.ValueCol, decode(col(Envelope.ValueCol), "UTF-8"))
      val chain = ConnectProps.compile(Map(
        "transforms" -> "dropK,wrap",
        "transforms.dropK.type" -> "DropField$Value",
        "transforms.dropK.fields" -> "k",
        "transforms.wrap.type" -> "ExtendedHoistField$Value",
        "transforms.wrap.field" -> "payload",
        "transforms.wrap.keepInRootFieldNames" -> "event_id"))
      // ONE parse of the chained value (a struct schema wide enough to
      // witness the dropped field as null), not one get_json_object
      // re-parse per extracted column
      val vt = StructType(Seq(
        StructField("event_id", LongType), StructField("k", LongType),
        StructField("payload", StructType(Seq(
          StructField("event_type", StringType),
          StructField("amount_cents", LongType),
          StructField("k", LongType))))))
      val parsed = chain(decoded)
        .withColumn("__v", from_json(col(Envelope.ValueCol), vt))
      parsed.select(
        col("__v.event_id").as("event_id"),
        col(Envelope.KeyCol).cast("long").as("user_key"),
        col("__v.payload.event_type").as("etype_payload"),
        col("__v.payload.amount_cents").as("amount_cents"),
        // the chain must have REMOVED k everywhere (root and payload)
        (col("__v.k").isNull && col("__v.payload.k").isNull)
          .cast("int").cast("long").as("k_dropped"),
        decode(element_at(filter(col(Envelope.HeadersCol),
          h => h.getField("key") === lit("etype")), 1).getField("value"), "UTF-8")
          .as("etype_header"),
        expr(s"${Envelope.TimestampCol} div 1000").as("ts_us"))
    }),
    "q_scalar_funcs" -> ((s, dir) => Tables.orders(s, dir).select(
      col("o_orderkey"),
      upper(substring(col("o_orderpriority"), 1, 3)).as("prio3"),
      length(col("o_orderstatus")).cast("int").as("status_len"),
      floor(col("o_totalprice")).cast("long").as("price_floor"),
      month(col("o_orderdate")).cast("int").as("order_month"))),
    // array/map scalar tier (§2.2): size/distinct/contains/slice/position,
    // a fold (`aggregate`), and map build+extract — all narrow codegen'd
    // projections; the DuckDB mirror uses the list_* twins (its
    // list_position yields NULL-if-absent vs Spark's 0 → coalesce)
    "q_array_funcs" -> ((s, dir) => {
      val toks = split(lower(TextAnalysis.normWs(col("text"))), " ")
      docs(s, dir).select(col("doc_id"),
        size(toks).cast("long").as("n_toks"),
        size(array_distinct(toks)).cast("long").as("n_uniq"),
        when(array_contains(toks, "table"), 1L).otherwise(0L).as("has_table"),
        concat_ws("-", slice(toks, 1, 3)).as("first3"),
        array_position(toks, "data").as("pos_data"),
        aggregate(transform(toks, t => length(t).cast("long")),
          lit(0L), (a, b) => a + b).as("sum_len"),
        element_at(map(lit("uniq"), size(array_distinct(toks)).cast("long"),
          lit("all"), size(toks).cast("long")), "uniq").as("map_uniq"))
    }),

    // ---- LLM pipeline: dedup
    "dedup_exact" -> ((s, dir) =>
      Dedup.exactGroups(docs(s, dir), "text", "doc_id")),
    // WHY normalization precedes dedup: the same visible document arrives
    // from the web in composed and decomposed Unicode forms, and
    // byte-level exact dedup calls those different. Twin corpus: every
    // document re-emitted (id + 200000) with a DECOMPOSED prefix
    // (A + U+030A) while the original carries the precomposed one
    // (U+00C5) — visibly identical, different code points. Grouping by
    // md5(normalize_text) folds each pair into ONE group while
    // n_raw_forms=2 proves the raw byte hashes stayed distinct — the
    // query demonstrates the fold rather than assuming it. Same narrow
    // one-shuffle shape as dedup_exact.
    "dedup_unicode" -> ((s, dir) => {
      val base = docs(s, dir).select(col("doc_id"), col("text"))
      val twins = base.select((col("doc_id") + 200000).as("doc_id"),
        concat(lit("A\u030A "), col("text")).as("text"))
      val corpus = base
        .select(col("doc_id"), concat(lit("\u00C5 "), col("text")).as("text"))
        .union(twins)
      corpus
        .select(col("doc_id"),
          md5(TextAnalysis.normalizeText(col("text"))).as("norm_hash"),
          md5(col("text")).as("raw_hash"))
        .groupBy(col("norm_hash"))
        .agg(min(col("doc_id")).as("keep_id"),
          count(lit(1)).as("dup_count"),
          countDistinct(col("raw_hash")).as("n_raw_forms"))
    }),
    "dedup_rows" -> ((s, dir) =>
      Dedup.exact(docs(s, dir), Seq("text"), "doc_id")
        .select(col("doc_id"), col("lang"), col("source"))),
    "dedup_minhash" -> ((s, dir) =>
      Dedup.minhashSignatureMd5(docs(s, dir), "doc_id", "text",
        shingleSize = 3, numHashes = 8)),
    "dedup_minhash_pairs" -> ((s, dir) => {
      // planted near-dups: perturbed copies of docs 0..19 (id + 100000,
      // last word dropped) unioned in; the operator must find them via
      // LSH banding, never all-pairs. xxhash64-based → rows-only check.
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val planted = d.filter(col("doc_id") < 20).select(
        (col("doc_id") + 100000).as("doc_id"),
        regexp_replace(col("text"), "\\s+\\S+$", "").as("text"))
      Dedup.minhashNearDupPairs(d.union(planted), "doc_id", "text",
        shingleSize = 3, numHashes = 16, bands = 4, threshold = 0.5)
        .orderBy(col("id_a"), col("id_b"))
    }),
    // fully ORACLE-CHECKED near-dup pairs: the md5-portable flavor of the
    // whole LSH pipeline — sliced-lane signatures → 2-lane bands →
    // band-equality candidates → integer-arithmetic shingle-jaccard
    // verify (2*inter >= union, no float threshold). The production
    // operator (minhashNearDupPairs) keeps xxhash64 + bucket caps; this
    // flavor trades the caps for exact cross-engine reproducibility.
    "dedup_pairs_md5" -> ((s, dir) => md5Pairs(s, dir)),
    // threshold tuning for the near-dup verify: precision/recall of the
    // WHOLE banding+verify pipeline against the planted truth pairs
    // (d, d+100000), swept over integer jaccard thresholds 300‰..900‰ —
    // how a pipeline owner picks the verify cutoff before spending a
    // cluster pass at a new threshold. All-integer arithmetic
    // (counts, div), so the sweep is engine-exact; thresholds where no
    // candidate survives drop out identically on both sides
    "q_dedup_pr_sweep" -> ((s, dir) =>
      md5CandJaccard(s, dir)
        .select(col("j_1e3"),
          (col("id_b") - col("id_a") === 100000 && col("id_a") < 20).as("t"))
        .select(explode(array((300 to 900 by 100).map(lit): _*)).as("thr"),
          col("j_1e3"), col("t"))
        .filter(col("j_1e3") >= col("thr"))
        .groupBy("thr")
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("t"), 1L).otherwise(0L)).as("n_true"))
        .select(col("thr").cast("int").as("thr"), col("n_pairs"), col("n_true"),
          expr("(n_true * 1000000) div greatest(1L, n_pairs)").as("prec_1e6"),
          expr("(n_true * 1000000) div 20").as("rec_1e6"))),
    // the same portable pipeline carried to the END of dedup: pairs →
    // connected components → keep one representative per group. The
    // composition dedup_e2e runs with production xxhash64 signatures,
    // here fully hash-checked against a recursive-CTE DuckDB mirror.
    "dedup_e2e_md5" -> ((s, dir) =>
      graft.operators.Components.keepRepresentatives(
        plantedDocs(s, dir), "doc_id",
        graft.operators.Components.connectedComponents(
          md5Pairs(s, dir), "id_a", "id_b"))
        .select(col("doc_id"))),
    // quality-ranked representative selection: same pairs → CC spine,
    // but each family keeps its BEST-scoring member (ties to min id) —
    // the curation rule real pipelines use instead of min-id. One
    // map-side-combinable max_by exchange, no window sort; the planted
    // tail-truncated copies score lower than their originals wherever
    // the dropped word shifts the quality features.
    "dedup_quality_rep" -> ((s, dir) => {
      val score = TextAnalysis.linearQualityScore(col("text"), qualityWeights)
      val all = plantedDocs(s, dir)
        .select(col("doc_id"), col("text"), score.as("q_score"))
      val comps = graft.operators.Components.connectedComponents(
        md5Pairs(s, dir), "id_a", "id_b")
      graft.operators.Components
        .keepBestRepresentatives(all, "doc_id", comps, "q_score")
        .select(col("doc_id"), col("family"), col("q_score"))
    }),
    // end-to-end near-dup dedup: pairs → connected components → keep one
    // representative per group. Engine-hash LSH inside → rows-only check;
    // the planted +100000 copies must all be eliminated.
    "dedup_e2e" -> ((s, dir) => {
      val all = plantedDocs(s, dir)
      val pairs = Dedup.minhashNearDupPairs(all, "doc_id", "text",
        shingleSize = 3, numHashes = 16, bands = 4, threshold = 0.5)
      val comps = graft.operators.Components.connectedComponents(pairs, "id_a", "id_b")
      graft.operators.Components.keepRepresentatives(all, "doc_id", comps)
        .select(col("doc_id"))
    }),
    // portable md5 flavor (oracle-checked); _fast = production xxhash64
    // near-dup pairs → duplicate GROUPS via connected components
    // (hooking + shortcutting, O(log diameter) rounds). Edges: adjacent
    // docs with jaccard >= 0.5, tested in INTEGER arithmetic
    // (inter*2 >= union) so the threshold has no float-boundary risk.
    "q_dedup_groups" -> ((s, dir) =>
      adjacentDupComponents(s, dir).select(col("id"), col("component"))),
    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhashMd5(docs(s, dir), "doc_id", "text")),
    // SimHash pair generation hash-checked end to end: 16-bit chunk
    // blocking (a pair within Hamming 3 agrees on ≥1 of 4 chunks, so
    // blocking is lossless at this radius) + per-nibble xor/popcount
    // Hamming verify. Planted exact copies (+200000) land at distance 0.
    "dedup_simhash_pairs_md5" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val dup = d.union(d.filter(col("doc_id") < 15)
        .select((col("doc_id") + 200000).as("doc_id"), col("text")))
      // persisted: the chunk self-join references the signature subtree
      // on both sides, and Catalyst does not CSE subplans — without the
      // cache the whole tokenize+vote aggregation runs twice
      val sim = Dedup.simhashMd5(dup, "doc_id", "text")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // hex → 4×16-bit ints ONCE per doc, so the candidate verify is 4
      // integer xor/popcounts instead of 16 per-nibble string extractions
      // — at 16-bit blocking similar docs collide heavily (~190k
      // candidates for 330 pairs at sf0.1), so per-candidate cost rules
      val ints = sim.select(col("doc_id") +: (0 until 4).map(c =>
        conv(substring(col("simhash_hex"), c * 4 + 1, 4), 16, 10)
          .cast("long").as(s"c$c")): _*)
      val chunks = ints.select(
        (col("doc_id") +: (0 until 4).map(c => col(s"c$c"))) :+
          posexplode(array((0 until 4).map(c => col(s"c$c")): _*))
            .as(Seq("chunk", "cv")): _*)
      val cand = chunks.as("x").join(chunks.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.cv") === col("y.cv") &&
          col("x.doc_id") < col("y.doc_id"))
        .select(Seq(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b")) ++
          (0 until 4).map(c => col(s"x.c$c").as(s"a$c")) ++
          (0 until 4).map(c => col(s"y.c$c").as(s"b$c")): _*)
        .distinct()
      val ham = (0 until 4).map(c =>
        bit_count(col(s"a$c").bitwiseXOR(col(s"b$c")))).reduce(_ + _)
      cand.filter(ham <= 3).select(col("id_a"), col("id_b"))
    }),
    "dedup_simhash_fast" -> ((s, dir) =>
      Dedup.simhash(docs(s, dir), "doc_id", "text")),
    "jaccard_adjacent" -> ((s, dir) => {
      val t = docs(s, dir).select(col("doc_id"), TextAnalysis.tokenSet(col("text")).as("ts"))
      val a = t.select(col("doc_id").as("doc_a"), col("ts").as("ts_a"))
      val b = t.select(col("doc_id").as("doc_b"), col("ts").as("ts_b"))
      a.join(b, col("doc_b") === col("doc_a") + 1)
        .select(col("doc_a"), col("doc_b"),
          size(array_intersect(col("ts_a"), col("ts_b"))).cast("long").as("inter_cnt"),
          size(array_union(col("ts_a"), col("ts_b"))).cast("long").as("union_cnt"))
    }),

    // incremental ingestion dedup: the planted near-dup batch (docs 0..19
    // perturbed, id+100000) matched against the EXISTING corpus as an
    // index — the corpus band table never reshuffles, the batch's bands
    // broadcast into it. Same md5-portable signature/band/verify
    // semantics as dedup_pairs_md5, so the whole incremental path
    // hash-checks against the shared pair oracle restricted to
    // index→batch pairs.
    "dedup_incremental" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val batch = d.filter(col("doc_id") < 20).select(
        (col("doc_id") + 100000).as("doc_id"),
        regexp_replace(col("text"), "\\s+\\S+$", "").as("text"))
      Dedup.dedupAgainstIndex(d, batch, "doc_id", "text",
        shingleSize = 3, numHashes = 8)
    }),

    // ---- LLM pipeline: similarity search
    "ann_cosine" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") < 8)
      Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 10)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
    }),
    // HARD-NEGATIVE MINING for contrastive embedding training: per
    // anchor, the top-10 corpus vectors inside the cosine band
    // [0.1, 0.98) — informative (near the boundary) but NOT positives/
    // near-dups (training on those is SemDeDup's failure mode in
    // reverse). The band filter runs BEFORE the rank window, so the
    // window exchange carries only in-band rows — a tiny fraction on
    // near-orthogonal embeddings. Oracle = the same banded ranking in
    // DuckDB; self-matches (cos = 1) fall to the ceiling.
    "q_hard_negatives" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.hardNegatives(e, e.filter(col("vec_id") < 8),
        "vec_id", "embedding", k = 10, lo1e3 = 100, hi1e3 = 980)
    }),
    "dedup_embedding_pairs" -> ((s, dir) => {
      // embedding-cosine near-dup: planted jittered copies (vec_id+100000,
      // tiny per-dim perturbation) must pair with their originals through
      // LSH sign-bucket blocking. Engine-internal hashing → rows-only.
      val e = Tables.embeddings(s, dir)
      val planted = e.filter(col("vec_id") < 10).select(
        (col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"), x => x + lit(0.001f)).as("embedding"))
      Similarity.cosineNearDupPairs(e.select(col("vec_id"), col("embedding")).union(planted),
        "vec_id", "embedding", minCosine = 0.98, numPlanes = 8, numTables = 3)
        .select(col("id_a"), col("id_b"))
        .orderBy(col("id_a"), col("id_b"))
    }),
    "dedup_emb_pairs_ora" -> ((s, dir) => {
      // DuckDB-mirrorable flavor of dedup_embedding_pairs: identical
      // planted jitter and 3-table sign-bucket blocking + cosine >= 0.98
      // verify, but maxBucket unbounded so the xxhash64 chain-overflow
      // path (engine-internal; covered rows-only by
      // dedup_embedding_pairs) never fires — every candidate is an
      // in-bucket sorted pair the oracle reproduces literally, so the
      // whole blocking+verify mechanism hash-checks.
      val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val planted = e.filter(col("vec_id") < 10).select(
        (col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"), x => x + lit(0.001f)).as("embedding"))
      Similarity.cosineNearDupPairs(e.union(planted), "vec_id", "embedding",
        minCosine = 0.98, numPlanes = 8, numTables = 3,
        maxBucket = Int.MaxValue)
        .select(col("id_a"), col("id_b"))
    }),
    // SemDeDup: cluster to the 8 fixed literal centroids (the
    // engine-reproducible quantizer ann_ivf_fixed proved), flag docs with
    // a lower-id cluster member at cosine >= 0.98. Planted jittered
    // copies (same construction as dedup_emb_pairs_ora) must come out
    // flagged; the oracle recomputes cells + the per-doc EXISTS literally
    "q_semdedup" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val planted = e.filter(col("vec_id") < 10).select(
        (col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"), x => x + lit(0.001f)).as("embedding"))
      Similarity.semDedup(e.union(planted), "vec_id", "embedding",
        Similarity.fixedCentroids(nlist = 8, dim = 64, seed = 7L),
        threshold = 0.98)
    }),
    // int8 quantization: storage-size path for ANN corpora. Quantized
    // codes oracle-checked — floor(x/scale + 0.5) is engine-portable
    // (round() would banker's-round differently across engines)
    "q_quantize" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val scale = Similarity.quantizeScale(col("embedding"))
      // codes joined to a string: the driver's hash compare (and pandas)
      // can't hash array-typed cells, and "1,-3,5" is engine-neutral
      e.select(col("vec_id"), col("embedding"), scale.as("s"))
        .select(col("vec_id"),
          concat_ws(",", Similarity.quantize(col("embedding"), col("s"))
            .cast("array<string>")).as("q_str"))
    }),
    "ann_lsh" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") < 8)
      Similarity.lshTopK(e, q, "vec_id", "embedding", 5, numPlanes = 6)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
    }),
    "ann_ivf" -> ((s, dir) => {
      // IVF scale path: bucket by nearest centroid, probe 3 of 8 cells.
      // Trained (data-dependent) quantizer → rows-only check; the same
      // search path is hash-checked via ann_ivf_fixed below.
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") < 8)
      Similarity.ivfTopK(e, q, "vec_id", "embedding", 5, nlist = 8, nprobe = 3)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
    }),
    "ann_ivf_fixed" -> ((s, dir) => {
      // IVF with the deterministic data-INDEPENDENT coarse quantizer:
      // identical search path to ann_ivf (cell assign → probe 3 of 8 →
      // in-cell exact rank), but the centroids are seeded literals that
      // embed in the DuckDB oracle, so the whole IVF mechanism
      // hash-checks instead of rows-only.
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") < 8)
      Similarity.ivfTopKWith(e, q, "vec_id", "embedding", 5,
        Similarity.fixedCentroids(nlist = 8, dim = 64, seed = 7L), nprobe = 3)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
    }),
    "ann_pq" -> ((s, dir) => {
      // product quantization with TRAINED per-subspace codebooks
      // (production recall): rows-only check like ann_ivf; the same
      // encode+ADC search path is hash-checked via ann_pq_fixed below.
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") < 8)
      Similarity.pqTopK(e, q, "vec_id", "embedding", 5, m = 8, ksub = 16)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
    }),
    "ann_pq_fixed" -> ((s, dir) => {
      // PQ-flat, engine-reproducible flavor: each 64-dim float vector
      // (256 B) compresses to 8 codeword indices; search is ADC — m
      // table lookups per candidate against the corpus CODES, the
      // vectors never reach the ranking. Seeded codebooks embed in the
      // DuckDB oracle, so encode+ADC hash-checks end to end.
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") < 8)
      Similarity.pqTopKWith(e, q, "vec_id", "embedding", 5,
        Similarity.pqFixedCodebooks(m = 8, ksub = 16, dim = 64, seed = 11L))
        .select(col("query_id"), col("neighbor_id"), col("rank"))
    }),
    "ann_ivfpq_fixed" -> ((s, dir) => {
      // the billion-vector composition (Faiss IndexIVFPQ, no-residual
      // variant): IVF cells prune the scan to nprobe/nlist of the
      // corpus, PQ codes compress what remains — per-row search state is
      // 4 B cell + 8 B code at any corpus scale, one narrow map to build.
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") < 8)
      Similarity.ivfPqTopKWith(e, q, "vec_id", "embedding", 5,
        Similarity.fixedCentroids(nlist = 8, dim = 64, seed = 7L),
        Similarity.pqFixedCodebooks(m = 8, ksub = 16, dim = 64, seed = 11L),
        nprobe = 3)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
    }),
    "ann_pq_rerank" -> ((s, dir) => {
      // retrieve-then-rerank: ADC shortlist of 20 from codes alone, then
      // exact L2 over only the shortlisted vectors (fetched map-side by
      // broadcasting the bounded shortlist into the corpus scan) — the
      // production PQ shape; measured 0.92 recall@10 at 8 B/vec where
      // plain ADC caps at 0.44 (SURVEY.md §2.4, r11 ANN table)
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") < 8)
      Similarity.pqTopKReranked(e, q, "vec_id", "embedding", 5, 20,
        Similarity.pqFixedCodebooks(m = 8, ksub = 16, dim = 64, seed = 11L))
        .select(col("query_id"), col("neighbor_id"), col("rank"))
    }),
    "q_url_dedup" -> ((s, dir) => {
      // web-crawl first-pass dedup: five messy spellings of one logical
      // URL (scheme/host case, www, default port, slash runs, trailing
      // slash, param order, utm_*/fbclid tracking params, fragments) are
      // synthesized deterministically from doc_id — each run of 5 docs
      // shares a logical URL — and must collapse to ONE canonical row
      // with keep_id = the run's min doc_id and n_variants = 5.
      val d = Tables.documents(s, dir).select(col("doc_id"))
      val grp = expr("doc_id div 5").cast("string")
      val v = col("doc_id") % 5
      val url = when(v === 0,
          concat(lit("http://example.com/docs/"), grp, lit("?a=1&b=2")))
        .when(v === 1,
          concat(lit("HTTP://WWW.EXAMPLE.COM:80/docs/"), grp, lit("/?b=2&a=1")))
        .when(v === 2,
          concat(lit("http://example.com//docs//"), grp,
            lit("?a=1&utm_source=feed&b=2")))
        .when(v === 3,
          concat(lit("http://example.com:80/docs/"), grp,
            lit("?b=2&a=1&fbclid=XYZ#frag")))
        .otherwise(
          concat(lit("http://www.example.com/docs/"), grp,
            lit("?utm_campaign=c&b=2&a=1#sec")))
      UrlOps.dedupByUrl(d.withColumn("url", url), "doc_id", "url")
    }),
    "q_merge_cdc" -> ((s, dir) => {
      // latest-wins CDC apply over the documents snapshot: a change
      // batch with three competing updates per %7 key (seq 3 wins),
      // a later delete for %5 keys (beats the updates where they
      // overlap), and inserts at +10M for %11 keys. One key-grouped
      // max_by exchange — no join, no window sort; the oracle mirrors
      // with row_number over (prec DESC, seq DESC).
      val (d, changes) = cdcDocsAndChanges(s, dir)
      Merge.applyChanges(d, changes, Seq("doc_id"), "seq", "op")
    }),
    // MERGE-ON-READ through the snapshot store — the OTHER lakehouse
    // merge strategy beside q_merge_partitioned's copy-on-write: the
    // write side stays APPEND-ONLY (base commit + two change-batch
    // commits, write cost O(delta), no partition rewrite), and the
    // reader compacts latest-wins at query time with the SAME
    // one-exchange max_by as q_merge_cdc — whose oracle this query
    // reuses VERBATIM, because storing the stream through manifests
    // must change nothing about the merge contract. The change rows
    // come back via the manifest-diff incremental read, so the base is
    // never re-fetched as "changes".
    "q_merge_on_read" -> ((s, dir) => {
      val root = materializedDir("mergeonread", dir) { path =>
        val t = path + "/t"
        val (d, changes) = cdcDocsAndChanges(s, dir)
        Snapshots.commitOverwrite(s, t,
          d.withColumn("seq", lit(Long.MinValue)).withColumn("op", lit("u")))
        // two append commits split the batch: updates+deletes, then
        // inserts — the arrival shape of a CDC stream
        Snapshots.commitAppend(s, t, changes.filter(col("doc_id") < 10000000L))
        Snapshots.commitAppend(s, t, changes.filter(col("doc_id") >= 10000000L))
      }
      val t = root + "/t"
      val base = Snapshots.read(s, t, Some(1)).drop("seq", "op")
      val deltas = Snapshots.readChangesBetween(s, t, 1)
      Merge.applyChanges(base, deltas, Seq("doc_id"), "seq", "op")
    }),
    "q_merge_partitioned" -> ((s, dir) => {
      // the lakehouse upsert shape end to end THROUGH STORAGE: stage the
      // snapshot hive-partitioned, apply a change batch with
      // applyChangesPartitioned (partition-pruned read, dynamic
      // partition overwrite, emptied-partition cleanup), then hash the
      // read-back snapshot. The partition value is DELIBERATELY hostile:
      // %13 keys remap lang to NULL (__HIVE_DEFAULT_PARTITION__ dirs and
      // the isNull pruning disjunct) or to hive-ESCAPED spellings
      // (space, colon, percent — '%3A'/'%25' directory names), so the
      // r12 escaping/null fixes stay oracle-gated at EVERY scale the
      // driver and the 10×/100× replicas run. Updates keep part — the
      // partition column is stable under update, the operator's
      // documented constraint.
      val d = Tables.documents(s, dir)
        .select(col("doc_id"),
          when(col("doc_id") % 13 === 0, lit(null).cast("string"))
            .when(col("doc_id") % 13 === 1, concat(col("lang"), lit(" x")))
            .when(col("doc_id") % 13 === 2, concat(col("lang"), lit(":")))
            .when(col("doc_id") % 13 === 3, concat(col("lang"), lit("%")))
            .otherwise(col("lang")).as("part"),
          col("n_chars"))
      // process-unique (layoutTag) like materializedDir, so two harness
      // processes benchmarking the same dataset never race on one
      // snapshot mid-merge; hex of the raw hashCode, not math.abs (abs of
      // Int.MinValue is negative)
      val snapDir = s"/tmp/graft_merge_part_${layoutTag}_" +
        Integer.toHexString(dir.hashCode)
      registerCleanup(snapDir)
      d.write.mode("overwrite").partitionBy("part").parquet(snapDir)
      val upd = d.filter(col("doc_id") % 7 === 0)
        .withColumn("s", explode(array(lit(1L), lit(2L), lit(3L))))
        .select(col("doc_id"), col("part"),
          (col("n_chars") + col("s")).as("n_chars"),
          col("s").as("seq"), lit("u").as("op"))
      val del = d.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("part"), col("n_chars"),
          lit(4L).as("seq"), lit("d").as("op"))
      val ins = d.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("part"),
          col("n_chars"), lit(1L).as("seq"), lit("u").as("op"))
      Merge.applyChangesPartitioned(snapDir,
        upd.unionByName(del).unionByName(ins),
        Seq("doc_id"), "seq", "op", "part")
      s.read.parquet(snapDir)
        .select(col("doc_id"), col("part"), col("n_chars"))
    }),
    // incremental materialized-aggregate maintenance: the per-(user,
    // event_type) rollup MV is stored to parquet ONCE, then a fact
    // change batch (%7 events' value +100.00 → retract-old + add-new;
    // %5-not-%7 events deleted → retract) folds in as a SIGNED delta —
    // one key exchange over MV rows ∪ delta, the fact table never
    // re-scanned. The oracle RECOMPUTES the view from the post-change
    // fact table, so any retraction bug — wrong sign, lingering
    // zero-count group, double-applied update — breaks the hash
    "q_mv_incremental" -> ((s, dir) => {
      val f = events(s, dir).select(col("user_id"), col("event_type"),
        cents(col("value")).as("sum_cents"), col("event_id"))
      val stored = materializedDir("mvbase", dir) { path =>
        f.groupBy(col("user_id"), col("event_type"))
          .agg(sum(col("sum_cents")).as("sum_cents"), count(lit(1)).as("n"))
          .write.mode("overwrite").parquet(path)
      }
      val upd = f.filter(col("event_id") % 7 === 0)
      val del = f.filter(col("event_id") % 5 === 0 && col("event_id") % 7 =!= 0)
      val delta = graft.operators.IncrementalAgg.retractionDelta(
        upd.unionByName(del),
        upd.withColumn("sum_cents", col("sum_cents") + 10000L),
        Seq("user_id", "event_type"), Seq("sum_cents"), "n")
      graft.operators.IncrementalAgg.applyDelta(Tables.readCached(s, stored),
        delta, Seq("user_id", "event_type"), Seq("sum_cents"), "n")
    }),
    // the MV fold ON A STREAM: the same signed delta rows replayed as 3
    // mtime-ordered micro-batches, each folded into the STORED view
    // (v0 → v1 → v2 → v3, one parquet generation per batch — the
    // nightly-refresh shape run at micro-batch cadence). Pins the
    // fold's composition law through storage: applyDelta ∘ applyDelta ∘
    // applyDelta over a 3-way split ≡ one fold of the whole delta ≡
    // full recompute (q_mv_incremental's oracle VERBATIM) — including
    // groups that vanish in an intermediate generation and re-open in a
    // later one
    "q_stream_mv" -> ((s, dir) => {
      val runner = graft.streaming.StreamRunner
      val f = events(s, dir).select(col("user_id"), col("event_type"),
        cents(col("value")).as("sum_cents"), col("event_id"))
      val srcDir = materializedDir("streammvsrc", dir) { inPath =>
        val base = new java.io.File(inPath)
        base.mkdirs()
        val upd = f.filter(col("event_id") % 7 === 0)
        val del = f.filter(col("event_id") % 5 === 0 && col("event_id") % 7 =!= 0)
        // fact-level signed rows; an update's retract+add pair shares its
        // event_id, so each pair lands whole in one replay batch
        val signed = upd.unionByName(del)
          .select(col("user_id"), col("event_type"),
            (-col("sum_cents")).as("sum_cents"), lit(-1L).as("n"),
            col("event_id"))
          .unionByName(upd.select(col("user_id"), col("event_type"),
            (col("sum_cents") + 10000L).as("sum_cents"), lit(1L).as("n"),
            col("event_id")))
        val t0 = System.currentTimeMillis() - 600000L
        (0 until 3).foreach { j =>
          dumpBatchFile(base,
            signed.filter(col("event_id") % 3 === j).drop("event_id"),
            s"b$j", t0 + j * 60000L)
        }
      }
      val out = materializedDir("streammv", dir) { outPath =>
        f.groupBy(col("user_id"), col("event_type"))
          .agg(sum(col("sum_cents")).as("sum_cents"), count(lit(1)).as("n"))
          .write.mode("overwrite").parquet(s"$outPath/v0")
        val src = runner.fileSource(s, srcDir, StructType(Seq(
          StructField("user_id", LongType), StructField("event_type", StringType),
          StructField("sum_cents", LongType), StructField("n", LongType))),
          maxFilesPerTrigger = Some(1))
        runner.foreachBatchSink(src, (batch, batchId) => {
          graft.operators.IncrementalAgg.applyDelta(
              s.read.parquet(s"$outPath/v$batchId"), batch,
              Seq("user_id", "event_type"), Seq("sum_cents"), "n")
            .write.mode("overwrite").parquet(s"$outPath/v${batchId + 1}")
        }, trigger = Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()))
          .awaitTermination()
      }
      s.read.parquet(s"$out/v3")
    }),
    "q_scd2" -> ((s, dir) => scd2History(s, dir)),
    // the READ side of SCD2: point-in-time snapshots of the rebuilt
    // timeline at ts 250 (post-update/redelivery, pre-delete) and 350
    // (post-delete — the %11 keys must be absent, except %33 keys are
    // still absent until their 400 re-open). A pure interval-cover
    // filter, so at scale it stays a scan-only op with pushdown
    "q_scd2_asof" -> ((s, dir) => {
      val hist = scd2History(s, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val snaps = Seq(250L, 350L).map(t =>
        Scd2.snapshotAt(hist, "valid_from", "valid_to", t)
          .withColumn("snap_ts", lit(t)))
      snaps.reduce(_ unionByName _)
        .select(col("snap_ts"), col("id"), col("lang"),
          col("valid_from"), col("valid_to"))
    }),
    // SCD2 composition law THROUGH STORAGE: the change stream applied
    // as two SEQUENTIAL batches with the dimension table
    // parquet-persisted between applies must equal the one-shot rebuild
    // (same oracle as q_scd2, verbatim). This is how the operator
    // actually runs in production — nightly batches against a stored
    // table, not one rebuild over all history — so the law is pinned
    // where it matters: through a write/read round trip, schema
    // nullability and all. Constraint (inherent to ANY no-op-collapsing
    // SCD2, stated here because the test would otherwise overclaim):
    // the law needs batch boundaries that respect event time — a
    // collapsed re-delivery cannot be re-split by a later batch
    // splicing BEFORE it. Out-of-order WITHIN a batch remains fine;
    // here late ts {300,400} > early ts {100,200}
    "q_scd2_storage" -> ((s, dir) => {
      val out = materializedDir("scd2store", dir) { path =>
        val (hist, early, late) = scd2Parts(s, dir)
        val h1 = Scd2.applyHistory(hist, early, Seq("id"), "ts", Some("op"))
        h1.write.mode("overwrite").parquet(s"$path/h1")
        val h2 = Scd2.applyHistory(s.read.parquet(s"$path/h1"), late,
          Seq("id"), "ts", Some("op"))
        h2.write.mode("overwrite").parquet(s"$path/final")
      }
      s.read.parquet(s"$out/final")
    }),
    // event-time dimension enrichment — the join the SCD2 history
    // exists FOR: each fact row picks up the dimension version valid at
    // its own event time. Formulated as an AS-OF join (latest version
    // with valid_from <= fact_ts) + a valid_to cover check, NOT an
    // interval/range join: SCD2 intervals are per-key sorted and
    // non-overlapping, so the covering version IS the as-of match, and
    // AsOf's union-window shape shuffles each fact and each version
    // exactly ONCE on the key — no interval explode, no join
    // cross-product. Facts land pre-history (%17 keys at ts -1) and in
    // the %11 keys' delete gap [300, 400); both enrich to NULL via the
    // same cover check.
    "q_scd2_enrich" -> ((s, dir) => {
      val hist = scd2History(s, dir)
      val base = Tables.documents(s, dir).select(col("doc_id").as("id"))
      val facts = base.select(col("id"),
        when(col("id") % 17 === 0, lit(-1L))
          .otherwise((col("id") * 37 + 13) % 550).as("fact_ts"))
      Scd2.enrichAsOf(facts, hist, Seq("id"), "fact_ts")
        .select(col("id"), col("fact_ts"), col("lang"), col("valid_from"))
    }),
    // data-quality gate: the declarative expectations suite routed in
    // ONE narrow pass (all checks evaluate in a single codegen
    // expression — a check-per-job metric API would scan the corpus
    // once per rule). NULL predicates count as violations; two of the
    // five checks pass everywhere (chars_consistent, text_present),
    // pinning that the gate does not over-flag
    "q_quality_gate" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val (_, bad) = Expectations.gate(d, qualityChecks)
      bad.select(col("doc_id"),
        array_join(col("violations"), ",").as("violations"))
    }),
    // the expectations gate ON A STREAM: documents replayed as 3
    // mtime-ordered micro-batches, each routed through the SAME
    // Expectations.gate (stateless projection → streaming ≡ batch by
    // construction, and THIS query pins it: the oracle is
    // q_quality_gate's plus n_appends = 1, so a replayed/duplicated
    // trigger or a row quarantined in two batches breaks the hash)
    "q_stream_quality" -> ((s, dir) => {
      val runner = graft.streaming.StreamRunner
      val d = docs(s, dir).select(col("doc_id"), col("text"), col("lang"),
        col("n_chars"))
      val srcDir = materializedDir("streamqualsrc", dir) { inPath =>
        val base = new java.io.File(inPath)
        base.mkdirs()
        val t0 = System.currentTimeMillis() - 600000L
        (0 until 3).foreach { j =>
          dumpBatchFile(base, d.filter(col("doc_id") % 3 === j),
            s"b$j", t0 + j * 60000L)
        }
      }
      val out = materializedDir("streamqual", dir) { outPath =>
        val src = runner.fileSource(s, srcDir, StructType(Seq(
          StructField("doc_id", LongType), StructField("text", StringType),
          StructField("lang", StringType), StructField("n_chars", LongType))),
          maxFilesPerTrigger = Some(1))
        runner.foreachBatchSink(src, (batch, _) => {
          val (_, bad) = Expectations.gate(batch, qualityChecks)
          bad.select(col("doc_id"),
              array_join(col("violations"), ",").as("violations"))
            .write.mode("append").parquet(outPath)
        }, trigger = Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()))
          .awaitTermination()
      }
      Tables.readCached(s, out).groupBy(col("doc_id"), col("violations"))
        .agg(count(lit(1)).as("n_appends"))
    }),
    // the one-pass table profile beside the row gate: counts, exact
    // distincts (the multi-distinct Expand is one shuffle round; the
    // 100 TB variant swaps in Sketches.approxDistinctByGroup's HLL),
    // and integer-ppm fractions (DIV, never doubles — hash-exact)
    "q_quality_metrics" -> ((s, dir) =>
      Tables.documents(s, dir).agg(
          count(lit(1)).as("n_rows"),
          count(col("text")).as("c_text"),
          countDistinct(col("doc_id")).as("d_doc"),
          countDistinct(col("lang")).as("d_lang"),
          sum(when(col("n_chars").between(100L, 400L), 1L).otherwise(0L))
            .as("c_len"),
          min(col("n_chars")).as("len_lo"), max(col("n_chars")).as("len_hi"))
        .selectExpr("n_rows",
          "CAST(c_text * 1000000 DIV n_rows AS BIGINT) AS completeness_text_ppm",
          "d_doc", "d_lang",
          "CAST(c_len * 1000000 DIV n_rows AS BIGINT) AS conform_len_ppm",
          "len_lo", "len_hi")),
    "q_fuzzy_join" -> ((s, dir) => {
      // entity-resolution fuzzy join: every document carries a
      // deterministically typo-mutated entity name (exact / one-char
      // delete / one-char substitute at position 1 + doc_id % 7 /
      // a distance-2 'xy' suffix, chosen by doc_id % 4) matched back to
      // the 97 clean entity strings with a d=1 deletion-neighborhood
      // join (SymSpell blocking, banded-levenshtein verify, distinct-
      // strings discipline built in). The DuckDB oracle is the BRUTE
      // FORCE levenshtein(name, cname) <= 1 join — pinning the
      // operator's exactness claim, accidental cross-entity matches
      // (e.g. a digit deletion landing near another entity) included.
      val (lft, ref) = fuzzyNames(s, dir, posMod = 7)
      FuzzyJoin.fuzzyJoin(lft, ref, "name", "cname", 1)
    }),
    "q_entity_resolution" -> ((s, dir) => {
      // fuzzy-matching carried to the END of entity dedup: d=1 fuzzy
      // SELF-pairs over the typo-mutated names → connected components
      // (variants group transitively through their shared clean
      // spelling) → keep each family's best member (longest name, ties
      // to min doc_id). Same shape as dedup_e2e_md5 but with
      // edit-distance edges instead of jaccard edges; the oracle
      // mirrors with a brute-force levenshtein pair join feeding the
      // same recursive-CTE min-label component spine.
      // posMod = 4 + doubled digits: mutations touch only the 'ent-'
      // letter prefix and distinct entity bases sit >= 2 edits apart, so
      // families can't bridge across entities and the output keeps ~2
      // families per entity (main + 'xy' cluster) instead of collapsing
      // the whole corpus into a handful of rows
      val (lft, _) = fuzzyNames(s, dir, posMod = 4, doubledDigits = true)
      val scored = lft.withColumn("score", length(col("name")))
      val pairs = FuzzyJoin.fuzzyJoin(
          lft.select(col("doc_id").as("id_a"), col("name").as("name_a")),
          lft.select(col("doc_id").as("id_b"), col("name").as("name_b")),
          "name_a", "name_b", 1)
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"))
      val comps = graft.operators.Components
        .connectedComponents(pairs, "id_a", "id_b")
      graft.operators.Components
        .keepBestRepresentatives(scored, "doc_id", comps, "score")
    }),
    // MULTI-EVIDENCE entity resolution — the production ER shape on top
    // of the three blocking primitives: candidate pairs from the UNION
    // of the edit-distance pass (d<=1, catches consonant doubling) and
    // the phonetic pass (key equality + lev<=2, catches the 'ey' vowel
    // tail d=1 blocking misses); each pair scored by all three evidence
    // channels (exact distance, phonetic agreement, quantized-embedding
    // cosine per-mille — entities share a base vector, so same-entity
    // pairs read cos_pm 999..1000 while sound-alike STRANGERS like
    // 'nmab'/'nmaf' read <= ~400); scores rank-calibrated per
    // provenance (rankCalibrate — raw scales are not comparable across
    // passes), then thresholded BOTH ways: rank_pm <= 250 bounds each
    // pass's edge volume, cos_pm >= 800 is the absolute precision bar
    // that kills every cross-entity edge (measured gap: same-ent 999+,
    // cross-ent <= ~400 at every SF). Surviving name edges -> connected
    // components over each name's canonical id (min doc_id) -> every
    // record labeled with its family. All-integer evidence: the oracle
    // replays quantization, cosine per-mille (IEEE-exact sqrt), the
    // calibration windows, and a recursive-CTE component spine.
    "q_er_scored" -> ((s, dir) => {
      val (names, _) = phoneticNames(s, dir)
      // localCheckpoint (NOT persist — a cached relation here measured
      // WORSE in r13, 2.78 -> 3.42 s warm: re-materialization latency
      // plus TableCacheQueryStage wrapping beat four cheap recomputes):
      // the checkpoint's value is PLAN TRUNCATION, not recompute
      // avoidance. Four blocking/scoring consumers re-derive this
      // 240-row aggregate, so without the cut the logical tree repeats
      // the scan+derivation subtree once per consumer and the optimizer
      // pays ~1.5 s of driver time per action on the multiplied tree
      // (JobProfile r19: the gap before the first real job dominated the
      // query). A LogicalRDD leaf is flat: nothing to re-optimize.
      val nn = names.groupBy("name").agg(min(col("doc_id")).as("nid"),
        min(col("doc_id") % 40).as("ent"))
        .localCheckpoint(true)
      val cand = EntityResolution.candidatePairs(nn, "name",
        maxEdit = 1, maxPhoneticDist = 2)
      erResolve(s, dir, names, nn, cand)
    }),
    // INCREMENTAL entity resolution — the delta-fold production ER runs
    // instead of recomputing from scratch: the name universe splits into
    // a STANDING half (entities < 20, already resolved) and a FRESH
    // delta (entities >= 20); candidate generation runs only
    // standing×standing (the already-paid batch part) plus
    // new×(standing ∪ new) (candidatePairsIncrement — the delta-sized
    // increment). By the exact complement law the union IS
    // candidatePairs(all), and the population-dependent rank
    // calibration re-runs over the (small) unioned pair ledger, so the
    // result must equal q_er_scored EXACTLY — same oracle. A missed
    // cross-split candidate, a double-counted new-new pair, or
    // calibration over only the increment all break the hash.
    "q_er_incremental" -> ((s, dir) => {
      val (names, _) = phoneticNames(s, dir)
      // plan-truncating checkpoint: see q_er_scored — this query's tree
      // repeats the nn subtree SIX times (two blocking passes in each of
      // candidatePairs + candidatePairsIncrement, plus the two scoring
      // join-backs), so the cut matters even more here
      val nn = names.groupBy("name").agg(min(col("doc_id")).as("nid"),
        min(col("doc_id") % 40).as("ent"))
        .localCheckpoint(true)
      val standing = nn.filter(col("ent") < 20)
      val freshNames = nn.filter(col("ent") >= 20)
      val cand = EntityResolution.candidatePairs(standing, "name",
          maxEdit = 1, maxPhoneticDist = 2)
        .unionByName(EntityResolution.candidatePairsIncrement(standing,
          freshNames, "name", maxEdit = 1, maxPhoneticDist = 2))
      erResolve(s, dir, names, nn, cand)
    }),
    // link-graph centrality over a deterministic synthetic web: doc k
    // links to (k*31 + j*97) % N for j in 1..3, minus the %5-filtered
    // edges and the %17-selected pages which have NO out-links at all
    // (the dangling-mass path must redistribute their rank). Five
    // fixed-point power-iteration rounds — every sum is a long on the
    // 1e12 scale, so the DuckDB oracle replays the iteration literally
    // as five unrolled CTEs and the hash match is exact, which a
    // double-based PageRank could never give
    "q_pagerank" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"))
      LinkGraph.pagerank(pagerankEdges(d), d, "src", "dst", "doc_id", iters = 5)
        .select(col("id").as("doc_id"), col("rank"))
    }),
    // the TrustRank flavor: ONLY the %50-selected seed pages carry
    // teleport weight, so every other page's rank is pure link inflow
    // from the seed neighborhood — the crawl-curation move when a
    // trusted seed list should anchor quality. Nodes absent from the
    // reset vector weigh 0 (that path is what this query pins); same
    // fixed-point algebra, weights folded into teleport and
    // dangling-mass redistribution
    "q_pagerank_seeded" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"))
      val seeds = d.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id"), lit(1L).as("weight"))
      // 3 rounds (vs the uniform query's 5): the weighted path runs the
      // same per-round algebra, and a graph this size runs it in
      // LinkGraph's driver-side loop, where a round is no Spark job
      LinkGraph.pagerank(pagerankEdges(d), d, "src", "dst", "doc_id",
          iters = 3, reset = Some(seeds))
        .select(col("id").as("doc_id"), col("rank"))
    }),
    // HITS hubs/authorities over the same link graph: separates
    // navigational hub pages from content authorities — a distinction
    // one centrality can't make. Per-round integer normalization
    // (x div greatest(1, total div scale)) keeps scores on the 1e6
    // scale and exactly SQL-replayable
    "q_hits" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"))
      LinkGraph.hits(pagerankEdges(d), d, "src", "dst", "doc_id", iters = 3)
        .select(col("id").as("doc_id"), col("hub"), col("authority"))
    }),
    // sound-alike entity blocking: names mutated in ways edit-distance
    // blocking treats as ordinary edits but a phonetic key collapses
    // entirely — %3-selected consonant doubling at position p or an
    // appended vowel tail — block on phonetic-key equality, verify
    // levenshtein <= 2. The oracle rebuilds the SAME key from portable
    // SQL (translate + backreference-free run collapse), so the hash
    // match pins the key algebra across engines
    "q_phonetic_block" -> ((s, dir) => {
      val (names, refs) = phoneticNames(s, dir)
      Phonetic.phoneticJoin(names, refs, "name", "cname", maxDist = 2)
        .select(col("doc_id"), col("name"), col("cname"), col("dist"))
    }),
    // tokenizer round trip: decode(encodeDeep(text)) must reproduce the
    // normalized corpus byte-for-byte. Decode is `sep -> space` (each
    // merge only ever replaced an inter-token space with the separator,
    // recursively), and the oracle never sees the tokenizer at all — it
    // hashes the normalization chain directly, so any encode/decode
    // drift at any merge depth breaks the match
    "q_bpe_roundtrip" -> ((s, dir) => {
      val d = docs(s, dir)
      val merges = TextAnalysis.bpeTrain(d.filter(col("doc_id") % 4 === 0),
          "doc_id", "text", nMerges = 6)
        .orderBy("merge_idx").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      TextAnalysis.bpeEncodeDeep(d, "doc_id", "text", merges)
        .select(col("doc_id"),
          replace(col("bpe_text"), lit("\u001f"), lit(" ")).as("__dec"))
        .select(col("doc_id"), md5(col("__dec")).as("dec_md5"),
          length(col("__dec")).cast("long").as("n_chars"))
    }),
    "q_heavy_hitters" -> ((s, dir) =>
      // corpus vocabulary heavy hitters: tokens holding >= 1/500 of all
      // token occurrences, exact by the two-pass Misra-Gries contract
      // (candidates bounded per partition, long tail never shuffled);
      // integer share arithmetic (cnt*500 >= N) keeps the threshold
      // engine-exact at any corpus size
      HeavyHitters.frequentTokens(Tables.documents(s, dir), "text",
        denom = 500L, capacity = 4096)),

    // per-label centroid accumulators (the aggregation step of
    // distributed k-means / a corpus-diversity profile): fixed-point
    // component sums so the result is reduction-order-independent and
    // engine-exact; the shuffle is bounded at labels × dims rows per
    // partition by map-side partial aggregation
    "q_centroids" -> ((s, dir) =>
      Similarity.labelCentroidSums(Tables.embeddings(s, dir),
        "label", "embedding", scaleBits = 20)),

    // as-of join: each purchase event picks up the user's most recent
    // PRIOR error-event timestamp (point-in-time lookup). Epoch micros on
    // both sides; DuckDB oracles it with a native ASOF LEFT JOIN.
    "q_asof" -> ((s, dir) => {
      val e = events(s, dir).withColumn("us", expr("ts div 1000"))
      val l = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("us"))
      val r = e.filter(col("event_type") === "error")
        .select(col("user_id"), col("us"))
      graft.operators.AsOf.asofJoin(l, r, Seq("user_id"), "us", "us", Seq("us"))
        .select(col("event_id"), col("asof.us").as("prior_error_us"))
    }),

    // range join: purchases counted against the 5-minute windows opened
    // by each of the user's error events — bin-bucketed equi-join, exact
    // predicate re-checked; left join back preserves zero-match purchases
    "q_range" -> ((s, dir) => {
      val e = events(s, dir).withColumn("us", expr("ts div 1000"))
      val p = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("us"))
      val iv = e.filter(col("event_type") === "error")
        .select(col("user_id"), col("us").as("start"),
          (col("us") + 300000000L).as("end"))
      val matches = graft.operators.RangeJoin.pointInInterval(
        p, iv, Seq("user_id"), "us", "start", "end", binWidth = 300000000L)
      val counts = matches.groupBy(col("event_id")).agg(count(lit(1)).as("n_intervals"))
      p.join(counts, Seq("event_id"), "left")
        .select(col("event_id"), coalesce(col("n_intervals"), lit(0L)).as("n_intervals"))
    }),

    // sketch tier: HLL++ approx distinct per group, audited in-query —
    // the emitted columns are the exact counts plus a within-bound
    // boolean (expected TRUE for every group), so the oracle HASH-checks
    // the sketch's error contract without pretending the approx value
    // itself is portable across engines
    "q_approx_stats" -> ((s, dir) => graft.operators.Sketches
      .approxDistinctAudit(events(s, dir), "event_type", "user_id")),
    // Bloom-prefiltered selective join: the big side is filtered by a
    // broadcast bitmap of the small side's keys BEFORE the shuffle (where
    // a selective 100 TB join spends its time); false positives are
    // removed by the real join, so the result is EXACT and hash-checks
    // against the plain-join oracle. NOTE: constructing this DataFrame
    // runs the bloom-build job (an inherent action, same as Spark's own
    // runtime filters building during execution). Map invariant:
    // construction may run driver-side jobs for q_bloom_join (bloom
    // build, every construction), q_partition_prune, q_bucketed_join,
    // q_stream_daily (the streaming replay job, first construction per
    // JVM+sfDir — later constructions read the sink back) and
    // the q_csv/jsonl/orc_roundtrip family (layout/bucket/format writes,
    // first construction per JVM+key+sfDir — see materializedDir /
    // bucketedTables), ann_ivf
    // (bounded centroid-training sample: count + collect), and the
    // entries probing the embedding dim with a 1-row head (ann_lsh,
    // dedup_embedding_pairs, dedup_emb_pairs_ora). All are constant-cost
    // by construction; every other entry's plan is free to construct.
    "q_bloom_join" -> ((s, dir) => {
      val big = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_quantity"))
      val small = Tables.orders(s, dir).filter(col("o_totalprice") > 400000)
        .select(col("o_orderkey"))
      val pre = graft.operators.Sketches.bloomPrefilter(
        big, "l_orderkey", small, "o_orderkey", expectedItems = 100000L)
      pre.join(small.select(col("o_orderkey").as("l_orderkey")), Seq("l_orderkey"))
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_items"),
          sum(cents(col("l_quantity"))).as("sum_qty_cents"))
    }),

    // ---- LLM pipeline: deterministic sampling / splits / profiling
    "q_split" -> ((s, dir) => graft.operators.Sampling.deterministicSplit(
      docs(s, dir), "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select(col("doc_id"), col("split"))),
    // LEAKAGE-SAFE split: near-dup cluster members must land on the SAME
    // side of a train/val cut or eval leaks into training. Split key =
    // the doc's connected-component id (own id when no near-dup), then
    // the ordinary deterministic hash split — one extra left join over
    // plain q_split, and the guarantee is structural: same component ⇒
    // same key ⇒ same split.
    "q_leakage_split" -> ((s, dir) => {
      val comps = adjacentDupComponents(s, dir)
      val keyed = docs(s, dir).select(col("doc_id"))
        .join(comps.select(col("id").as("doc_id"), col("component")), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("split_key"))
      graft.operators.Sampling.deterministicSplit(keyed, "split_key",
        Seq("train" -> 0.8, "val" -> 0.2))
        .select(col("doc_id"), col("split_key"), col("split"))
    }),
    "q_stratified" -> ((s, dir) => graft.operators.Sampling.stratifiedSample(
      docs(s, dir), "doc_id", "lang",
      Map("en" -> 0.5, "de" -> 0.25), defaultFraction = 0.1)
      .select(col("doc_id"), col("lang"))),
    "q_weighted_sample" -> ((s, dir) => {
      // quality-weighted deterministic sampling: keep probability =
      // min(n_tokens, 80)/80 — longer docs kept more often; same doc →
      // same decision at any corpus size, partition layout, or engine.
      val toks = TextAnalysis.tokenCountWs(col("text"))
      graft.operators.Sampling.weightedSample(
        docs(s, dir).select(col("doc_id"),
          (least(toks, lit(80L)).cast("double") / 80.0).as("w")),
        "doc_id", "w")
        .select(col("doc_id"))
    }),
    "q_quantiles" -> ((s, dir) => graft.operators.Stats.discreteQuantilesByKey(
      Tables.orders(s, dir).select(col("o_orderpriority"),
        cents(col("o_totalprice")).as("price_cents")),
      "o_orderpriority", "price_cents",
      Seq("p50_cents" -> 0.5, "p90_cents" -> 0.9, "p99_cents" -> 0.99))),
    "q_histogram" -> ((s, dir) => graft.operators.Stats.histogram(
      Tables.orders(s, dir).select(cents(col("o_totalprice")).as("price_cents")),
      "price_cents", width = 2500000L, nBuckets = 20)),
    // contiguous sample ordinals via two-phase zipWithIndex — a global
    // row_number() window would funnel the corpus through ONE task; this
    // stays parallel (range partition + partition-local index + offsets)
    // and produces the identical ranking, which is exactly what the
    // single-window oracle checks
    "q_row_ids" -> ((s, dir) => graft.operators.Stats.globalOrdinals(
      docs(s, dir).select(col("doc_id"), col("lang")), "doc_id",
      partitions = 8)),
    // deterministic training-order shuffle: global position = rank by a
    // seeded md5 of the id — reproducible across runs/engines, and scalable
    // because it reuses globalOrdinals' range-partitioned two-phase ranks
    // (a row_number() OVER (ORDER BY ...) would funnel 100 TB through one
    // task). Changing the seed string re-shuffles the whole corpus.
    "q_shuffle_order" -> ((s, dir) => graft.operators.Stats.globalOrdinals(
      docs(s, dir).select(col("doc_id"),
        md5(concat(lit("s42:"), col("doc_id").cast("string"))).as("shuffle_key")),
      "shuffle_key", partitions = 8)
      .select(col("doc_id"), col("shuffle_key"), col("ordinal").as("shuffle_pos"))),
    "q_vocab" -> ((s, dir) => TextAnalysis.topTokens(docs(s, dir), "text", 50)),
    // BPE-training prep: corpus-wide ADJACENT-PAIR frequencies — the
    // merge-candidate table a byte-pair-encoding trainer consumes each
    // round. Reuses the codegen'd shingle stage at size 2 (a "pair" is a
    // 2-gram); map-side partial counts; top-k plans as TakeOrdered.
    // (r19) the counting stage is the trainer's mapPartitions kernel:
    // per-partition pair partials, vocabulary-sized shuffle, TakeOrdered.
    // Only docs with >= 2 tokens contribute, as before (a 1-token doc has
    // no adjacent pair).
    "q_bpe_pairs" -> ((s, dir) =>
      TextAnalysis.adjacentPairCounts(docs(s, dir), "text")
        .orderBy(col("cnt").desc, col("pair"))
        .limit(50)),
    // ...and the full trainer loop on top: six sequential merge rounds,
    // each one corpus scan + a TakeOrdered top-1 (ONE row to the driver
    // per round). Trains on a deterministic 25% sample — production
    // tokenizer training samples the corpus anyway, and the sample
    // bounds the sequential-scan cost in the bench. The oracle replays
    // the identical greedy double-space merge algebra in DuckDB CTEs.
    "q_bpe_train" -> ((s, dir) =>
      TextAnalysis.bpeTrain(docs(s, dir).filter(col("doc_id") % 4 === 0),
        "doc_id", "text", nMerges = 6)),
    // ...and the deploy half: train on the sample (6 bounded driver
    // rows, the sanctioned BPE budget), freeze the merges, tokenize the
    // FULL corpus with the chained-replace encoder — ONE codegen'd
    // scan, zero exchanges, so corpus scale is free and the token
    // counts feed straight into token-budget packing.
    "q_bpe_encode" -> ((s, dir) => {
      val d = docs(s, dir)
      val merges = TextAnalysis.bpeTrain(d.filter(col("doc_id") % 4 === 0),
          "doc_id", "text", nMerges = 6)
        .orderBy("merge_idx").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      TextAnalysis.bpeEncode(d, "doc_id", "text", merges)
        .select(col("doc_id"), col("n_tokens"), col("n_tokens_ws"),
          md5(col("bpe_text")).as("enc_md5"))
    }),
    "q_bpe_encode_deep" -> ((s, dir) => {
      // the deep-vocabulary encoder (per-partition pass-gated symbol
      // arrays, no codegen depth bound) on the SAME trained merges and
      // oracle as q_bpe_encode: the hash match proves the mapPartitions
      // path reproduces the chained-replace algebra symbol-for-symbol
      val d = docs(s, dir)
      val merges = TextAnalysis.bpeTrain(d.filter(col("doc_id") % 4 === 0),
          "doc_id", "text", nMerges = 6)
        .orderBy("merge_idx").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      TextAnalysis.bpeEncodeDeep(d, "doc_id", "text", merges)
        .select(col("doc_id"), col("n_tokens"), col("n_tokens_ws"),
          md5(col("bpe_text")).as("enc_md5"))
    }),
    "q_profile" -> ((s, dir) => docs(s, dir)
      .select(col("lang"), TextAnalysis.tokenCountWs(col("text")).as("n_tokens"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        percentile(col("n_tokens"), lit(0.25)).as("p25"),
        percentile(col("n_tokens"), lit(0.5)).as("p50"),
        percentile(col("n_tokens"), lit(0.75)).as("p75"))),

    // ---- LLM pipeline: text analysis
    "text_tokens" -> ((s, dir) => docs(s, dir).select(col("doc_id"),
      TextAnalysis.tokenCountWs(col("text")).as("n_tokens_ws"),
      TextAnalysis.tokenCountBpe(col("text")).as("n_tokens_bpe"))),
    // Unicode cleanup chain (NFC compose → NBSP → control strip → ws
    // collapse) through the codegen NfcNormalize Expression. The fixture
    // corpus is clean ASCII, so each document is first deterministically
    // DIRTIED with the cases that matter: a decomposed 'Å' (A + U+030A),
    // an NBSP, a decomposed 'é' (e + U+0301), a BEL control char, and
    // tab/space tails — built from code-point literals both engines spell
    // identically (Scala \\uXXXX ↔ DuckDB chr()). The oracle applies the
    // same chain with DuckDB's utf8proc-backed nfc_normalize, so the hash
    // check pins java.text.Normalizer ≡ utf8proc on the composed forms
    // plus the exact regex-class semantics of both strip steps.
    "q_text_normalize" -> ((s, dir) => docs(s, dir)
      .withColumn("dirty", concat(lit("A\u030A "), col("text"),
        lit("\u00A0e\u0301\u0007 end\t ")))
      .withColumn("norm", TextAnalysis.normalizeText(col("dirty")))
      .select(col("doc_id"),
        length(col("norm")).as("n_norm"),
        substring(col("norm"), 1, 6).as("head"),
        expr("substring(norm, length(norm) - 9, 10)").as("tail"))),
    "text_quality" -> ((s, dir) => {
      val feats = TextAnalysis.qualityFeatures(col("text")).map { case (n, c) => c.as(n) }
      widen(docs(s, dir)).select(col("doc_id") +: feats: _*)
    }),
    "text_langid" -> ((s, dir) => widen(docs(s, dir)).select(col("doc_id"),
      TextAnalysis.langId(col("text")).as("lang_pred"))),
    "q_filter_funnel" -> ((s, dir) => {
      // Gopher-style curation funnel: survivors after each cumulative
      // rule, all integer-exact over the normalized text features
      // (word-count bounds, mean token length, type-token ratio).
      val feats = TextAnalysis.qualityFeatures(col("text")).toMap
      val toks = feats("n_tokens")
      val uniq = size(array_distinct(
        split(TextAnalysis.normWs(col("text")), " "))).cast("long")
      TextAnalysis.filterFunnel(docs(s, dir), Seq(
        "word_count" -> toks.between(20, 90),
        "mean_tok_len" -> feats("mean_tok_len_x100").between(400, 520),
        "ttr" -> (uniq * 1000 >= toks * 450)))
    }),
    // the one-scan bundle: every text feature (lang-id, fingerprint, BPE
    // tokens, quality stats) in a single projection — how the text suite
    // actually runs at 100 TB (one pass, not one scan per feature)
    "text_analyze_all" -> ((s, dir) =>
      TextAnalysis.analyze(widen(docs(s, dir)), "doc_id", "text")),
    // classifier-shaped quality filter: a linear model with integer
    // weights over the quality features — one narrow codegen'd
    // projection, zero shuffles; `keep` as 0/1 so the output stays
    // integer-typed in every reader
    "q_quality_score" -> ((s, dir) => {
      val score = TextAnalysis.linearQualityScore(col("text"), qualityWeights)
      widen(docs(s, dir)).select(col("doc_id"), score.as("q_score"),
        when(score >= 600L, 1L).otherwise(0L).as("keep"))
    }),
    // PER-SOURCE SCORE CALIBRATION: raw quality scores are not
    // comparable across sources (each has its own distribution), so a
    // global raw cutoff silently over-prunes whole sources — q_score
    // is first rank-normalized WITHIN source to integer per-mille, and
    // "top quarter of EACH source" becomes one comparable predicate.
    // Output = the kept set per source (balanced counts by
    // construction — that balance IS the feature) + id_sum, which
    // pins exactly WHICH docs each source kept.
    "q_score_calibrate" -> ((s, dir) => {
      val score = TextAnalysis.linearQualityScore(col("text"), qualityWeights)
      val scored = docs(s, dir)
        .select(col("doc_id"), col("source"), score.as("q_score"))
      graft.operators.Stats
        .rankCalibrate(scored, "source", "q_score", "doc_id")
        .filter(col("rank_pm") <= 250)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"))
    }),
    // cross-document boilerplate: distinct 3-grams per doc scored by
    // corpus-wide document frequency; grams in >= 5 docs count as
    // boilerplate (the CCNet-style repeated-span signal)
    "q_boilerplate" -> ((s, dir) =>
      TextAnalysis.boilerplateStats(docs(s, dir), "doc_id", "text",
        shingleSize = 3, minDocs = 5)),
    // corpus-level repeated-PARAGRAPH removal (the MassiveText rule):
    // "paragraphs" = non-overlapping 12-token windows of the normalized
    // text; every 7th doc gets a planted boilerplate paragraph appended
    // (as its own paragraph — web boilerplate arrives that way). The
    // corpus-wide >= 5 occurrences rule must strip exactly the planted
    // paragraph and reassemble every other doc byte-identically.
    "q_paragraph_dedup" -> ((s, dir) => {
      val toks = split(lower(TextAnalysis.normWs(col("text"))), " ")
      val paras = transform(
        sequence(lit(0), greatest(size(toks) - 1, lit(0)), lit(paraTokens)),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(paraTokens))))
      // paras passed as an EXPRESSION: the interpreted transform/slice
      // construction evaluates above the operator's doc exchange at
      // session width, not at the (1-task) scan width — see
      // dropRepeatedParagraphsExpr (r19)
      Dedup.dropRepeatedParagraphsExpr(docs(s, dir), "doc_id",
        when(col("doc_id") % 7 === 0, concat(paras, array(lit(boilerPara))))
          .otherwise(paras), paraMinCount)
    }),
    "text_fingerprint" -> ((s, dir) => docs(s, dir).select(col("doc_id"),
      TextAnalysis.fingerprint(col("text")).as("fp"))),
    // custom codegen'd Catalyst Expression flavor (engine hash → rows-only)
    "text_fingerprint_fast" -> ((s, dir) => docs(s, dir).select(col("doc_id"),
      graft.functions.RollingHash.rolling_hash(lower(TextAnalysis.normWs(col("text"))))
        .as("fp_fast"))),

    // TF-IDF scaffold: per-doc top-3 tokens by term frequency, joined to
    // each token's document frequency — the (tf, df) table IS the tf-idf
    // input; the final float multiply is left to the caller so every
    // emitted column stays integer-exact across engines. Shape: explode →
    // per-(doc,token) count → per-doc window top-k + per-token doc count,
    // both reusing the first aggregate's output.
    "q_tfidf" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // pre-partition by doc BEFORE the explode (narrower rows) — the
      // (doc_id, token) aggregate AND the per-doc ranking window are both
      // satisfied by doc_id clustering, so the whole tf → top-3 path runs
      // off this one exchange (plan-asserted in PlanShapeSpec); only the
      // df branch re-shuffles, by token, at vocab size.
      val pPar = s.sparkContext.defaultParallelism
      val tok = docs(s, dir).repartition(pPar, col("doc_id"))
        .select(col("doc_id"),
          explode(split(Dedup.normText(col("text")), " ")).as("token"))
      // deliberately NOT persisted even though the df branch re-reads it:
      // a cached tf table is AQE-wrapped and reports unknown partitioning,
      // which re-adds a corpus-wide (doc, token, tf) exchange before the
      // ranking window. Un-cached, the repartition's hash(doc_id) stays
      // statically known, so the agg AND the window run off that one
      // exchange; both branches re-run only the partition-local
      // tokenize+count above the stage-reused shuffle, and the df branch
      // prunes to the token column before its vocab-sized re-shuffle.
      val tf = tok.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("tf").desc, col("token"))
      tf.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 3)
        .join(dfreq, "token")
        .select(col("doc_id"), col("token"), col("tf"), col("df"),
          col("rnk").cast("int").as("rnk"))
    }),
    // BM25 retrieval (the ranking tier above q_tfidf): top-5 docs per
    // query term by EXACT integer fixed-point BM25 saturation — no
    // doubles, no ln(), so the ranking hash-matches any engine with
    // 64-bit integer division; idf ingredients (df, n_docs) ride as
    // exact integers. One explode + one map-side-combined per-doc
    // aggregate + a broadcast one-row totals join + one window.
    "q_bm25" -> ((s, dir) =>
      graft.operators.TextAnalysis.bm25TopK(
        docs(s, dir), "doc_id", "text",
        terms = Seq("join", "filter", "slow"), k = 5)),
    // winnowing fingerprints (the MOSS algorithm): sliding-window minima
    // over md5-lane shingle hashes — any shared run of >= w+k-1 tokens
    // between two docs shares a fingerprint; kept set ~2/(w+1) of
    // shingles. Output is the distinct-set digest, fully md5-portable.
    "q_winnow" -> ((s, dir) =>
      Dedup.winnowFingerprints(docs(s, dir), "doc_id", "text",
        shingleSize = 4, window = 5)),
    // winnow-overlap candidate pairs end to end: planted copies keep the
    // middle of each short doc (guaranteed >= w+k-1 run) behind changed
    // edges; pairs = fp-equality join (the LSH-banding shape) with a
    // >= 2 shared-fingerprint vote to damp single-hash coincidences.
    // Fully md5-portable, so the WHOLE pipeline is hash-checked.
    "q_winnow_pairs" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val planted = d.filter(col("doc_id") < 15).select(
        (col("doc_id") + 300000).as("doc_id"),
        concat(lit("prefix words changed here "), col("text"),
          lit(" and a different tail")).as("text"))
      Dedup.winnowOverlapPairs(d.union(planted), "doc_id", "text",
        shingleSize = 4, window = 5, minShared = 2L,
        maxBucket = 64L, maxDocFreq = 4096L)
    }),
    // substring-level dedup (the ExactSubstr shape): every 8-token window
    // occurring more than once corpus-wide is excised from ALL its
    // occurrences. Planted copies re-duplicate the first 10 docs behind
    // changed edges, so each original/copy pair loses its shared middle
    // while keeping its unique edges; organic exact-dup groups empty out.
    "q_span_dedup" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val planted = d.filter(col("doc_id") < 10).select(
        (col("doc_id") + 500000).as("doc_id"),
        concat(lit("fresh lead-in words here "), col("text"),
          lit(" plus an unshared closing remark")).as("text"))
      Dedup.exciseDuplicateSpans(d.union(planted), "doc_id", "text", k = 8)
        .filter(col("n_removed") > 0)
        .select(col("doc_id"), col("n_tokens"), col("n_removed"),
          md5(col("clean_text")).as("clean_md5"))
    }),
    // Gopher repetition signals: top-bigram/trigram char mass + repeated-
    // 5-gram coverage per doc, one corpus exchange for the whole bundle.
    // Docs 0-19 are doubled (text ‖ text) so the within-doc-repetition
    // tier has planted mass: a doubled n-token doc repeats every 5-gram
    // except the 4 seam grams, so dup5_cov == n_tokens for them.
    "q_gopher_repeat" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"),
        when(col("doc_id") < 20, concat_ws(" ", col("text"), col("text")))
          .otherwise(col("text")).as("text"))
      TextAnalysis.repetitionSignals(d, "doc_id", "text")
    }),
    // bigram fluency: the integer-exact cousin of CCNet's LM-perplexity
    // quality filter — mean corpus conditional bigram probability per
    // doc in floor-division fixed point (no floats, no smoothing).
    "q_ngram_fluency" -> ((s, dir) =>
      graft.operators.TextAnalysis.bigramFluency(docs(s, dir), "doc_id", "text")),
    // PII redaction: inject deterministic synthetic PII per doc, audit
    // match counts, mask, and fingerprint the masked text — all narrow
    // codegen'd regexp work, zero shuffle.
    "q_pii_redact" -> ((s, dir) => {
      val withPii = widen(docs(s, dir)).select(col("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com or 555-"), col("doc_id"), lit(".")).as("t"))
      withPii.select(col("doc_id"),
        TextAnalysis.patternCount(col("t"), TextAnalysis.emailPattern).as("n_emails"),
        TextAnalysis.patternCount(col("t"), TextAnalysis.phonePattern).as("n_phones"),
        md5(TextAnalysis.redactPii(col("t"))).as("masked_md5"))
    }),
    // benchmark decontamination: docs 0-24 act as the "eval set"; the
    // corpus is everything else ∪ planted contaminated copies (eval texts
    // re-id'd +200000). A corpus doc flags with the count of distinct
    // 8-gram digests it shares with the eval set — the ten planted docs
    // must all surface (natural 8-gram collisions are ~0 in this corpus).
    "q_decontaminate" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val ev = d.filter(col("doc_id") < 25)
      val corpus = d.filter(col("doc_id") >= 25)
        .union(ev.filter(col("doc_id") < 10)
          .select((col("doc_id") + 200000).as("doc_id"), col("text")))
      graft.operators.Decontaminate.overlapCounts(corpus, ev, "doc_id", "text", n = 8)
    }),
    // the flip-side contamination report: per EVAL doc, distinct 8-grams,
    // how many leaked into the corpus, and the integer-permille fraction.
    // Docs 0-9 have verbatim planted copies (expect 1000‰); 10-24 are
    // clean (expect 0 — natural 8-gram collisions are ~0 here). The
    // corpus side only streams past the broadcast eval digest set.
    "q_decontam_report" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val ev = d.filter(col("doc_id") < 25)
      val corpus = d.filter(col("doc_id") >= 25)
        .union(ev.filter(col("doc_id") < 10)
          .select((col("doc_id") + 200000).as("doc_id"), col("text")))
      graft.operators.Decontaminate.evalContamination(corpus, ev, "doc_id", "text", n = 8)
    }),
    // SEMANTIC decontamination: the embedding-level complement of the
    // two n-gram checks above — eval vectors 0-24, corpus = the rest ∪
    // planted jittered eval copies (+200000, the bit-identical-across-
    // engines +0.001f construction dedup_emb_pairs_ora proved). The ten
    // planted rows must flag with first_eval_id = their source; the
    // oracle is the plain cosine-threshold join (the operator's exact
    // broadcast flavor makes that the literal contract, no recall model)
    "q_decontam_semantic" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val ev = e.filter(col("vec_id") < 25)
      val corpus = e.filter(col("vec_id") >= 25)
        .union(ev.filter(col("vec_id") < 10).select(
          (col("vec_id") + 200000).as("vec_id"),
          transform(col("embedding"), x => x + lit(0.001f)).as("embedding")))
      graft.operators.Decontaminate.semanticFlags(
        corpus, ev, "vec_id", "embedding", threshold = 0.98)
    }),
    // Gopher-style repetition filter: fraction of duplicated 3-grams per
    // doc, in integer permille (no float boundary anywhere). Reuses the
    // minhash pipeline's exploded-shingle stage — total vs distinct counts
    // of the SAME rows, one aggregate.
    "q_ngram_repeat" -> ((s, dir) => Dedup
      // doc-local total/distinct shingle counts — per-doc kernel on long
      // ids (r19; exploded groupBy + countDistinct before)
      .shingleRepeatStats(docs(s, dir), "doc_id", "text", shingleSize = 3)
      .select(col("doc_id"),
        col("total_shingles").as("total_3grams"),
        col("distinct_shingles").as("distinct_3grams"),
        expr("(total_shingles - distinct_shingles) * 1000 div total_shingles")
          .as("dup_permille"))),

    // overlapping token-window chunking: the RAG/pretraining windowing op
    // (64-token chunks, 16-token overlap; trailing chunk short, not
    // padded) — narrow map + explode, no shuffle
    "q_chunk" -> ((s, dir) => TextAnalysis.chunkDocs(
      docs(s, dir), "doc_id", "text", chunkSize, chunkOverlap)),
    // context-window packing (concat-then-chunk): docs are concatenated in
    // id order WITHIN their shard (lang) and split every `cap` tokens; a
    // doc's bin is its start-offset div cap. Partitioned by shard — the
    // window never needs a global sort, so packing scales with shards the
    // way production pretraining packers do. Pure integer arithmetic.
    "q_pack" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      docs(s, dir)
        .select(col("doc_id"), col("lang"),
          TextAnalysis.tokenCountWs(col("text")).as("n_tokens"))
        .withColumn("start_off", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          expr(s"start_off div $packCap").as("bin"),
          expr(s"start_off % $packCap").as("bin_offset"))
    }),

    // the composite CURATION pipeline, end to end in ONE hash-checked
    // query: quality filter → exact text dedup (keep min id per digest)
    // → per-lang hash-rank cap → deterministic train cut. Stage order is
    // the production order (cheap narrow filters first, dedup before
    // caps so duplicates can't eat a language's quota); three window
    // exchanges, everything else narrow.
    "q_curation_e2e" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val score = TextAnalysis.linearQualityScore(col("text"), qualityWeights)
      // NOT widened (r20, measured): the md5-dedup window exchanges the
      // text right after the score filter anyway, so a widen just adds
      // a second text exchange — flat-to-worse in the A/B
      val scored = docs(s, dir).select(col("doc_id"), col("lang"), col("text"))
        .filter(score >= 600L)
      val wd = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
      val deduped = scored.withColumn("__rn", row_number().over(wd))
        .filter(col("__rn") === 1).drop("__rn")
      val wc = Window.partitionBy(col("lang")).orderBy(
        graft.operators.Sampling.hashBucket(col("doc_id")), col("doc_id"))
      val capped = deduped.withColumn("__rn", row_number().over(wc))
        .filter(col("__rn") <= 40).drop("__rn")
      capped
        .filter(graft.operators.Sampling.hashBucket(col("doc_id")) < 3435973836L)
        .select(col("doc_id"), col("lang"))
    }),

    // ---- LLM pipeline: multimodal columns
    "multimodal_meta" -> ((s, dir) =>
      Multimodal.attachFakeMedia(docs(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("media.mime").as("mime"),
          col("media.width").as("width"), col("media.duration_ms").as("duration_ms"),
          octet_length(col("media.bytes")).cast("long").as("byte_len"))),
    "multimodal_features" -> ((s, dir) =>
      Multimodal.extractFeatures(
        Multimodal.attachFakeMedia(docs(s, dir), "doc_id", "text"), "doc_id")
        .select(col("doc_id"), col("byte_len"))),
    // REAL multi-frame decode (video tier): synthesize a 4-frame animated
    // GIF per doc (the one multi-frame container the JDK codecs write),
    // decode EVERY frame with javax.imageio, emit exact per-frame gray
    // sums. The oracle recomputes the sums from the frame-pixel closed
    // form with no image library — a frame-order, palette, or
    // multi-image-read bug hash-fails. (The byte-slice sampleFrames
    // operator remains, spec-tested — this query is the decode proof.)
    // widen (r20): media bytes are SYNTHESIZED from (doc_id, text)
    // inside the map, so widening the narrow input parallelizes the
    // encode/decode CPU while payload bytes still never shuffle.
    // Adopted ONLY where the A/B won (frames -0.25 s, resize/decode
    // small wins); the perceptual-hash bases and the audio synth
    // measured WORSE widened (their pair queries persist and self-join
    // the hash tables — the extra exchange cost more than the
    // parallelism) and stay narrow.
    "multimodal_frames" -> ((s, dir) =>
      Multimodal.frameStats(
        Multimodal.attachSyntheticGifs(widen(docs(s, dir)), "doc_id", 8, 5, 4),
        "doc_id")),
    // REAL image decode round trip: synthesize a 30×17 BMP per doc (30
    // exercises the 4-byte row padding), decode it with javax.imageio,
    // emit exact integer channel sums. The oracle recomputes the sums
    // from the pixel-formula closed forms with no image library — any
    // header, padding, channel-order, or pixel-loop bug hash-fails. Two
    // narrow mapPartitions, zero shuffles; payload bytes never leave the
    // partition.
    "multimodal_decode" -> ((s, dir) =>
      Multimodal.imageStats(
        Multimodal.attachSyntheticImages(widen(docs(s, dir)), "doc_id", 30, 17),
        "doc_id")),
    // REAL audio decode round trip, same shape as multimodal_decode:
    // synthesize a 400-sample 16-bit PCM WAV per doc, decode it with
    // javax.sound.sampled, emit the exact sample sum the oracle
    // recomputes from the closed form. Narrow mapPartitions, zero
    // shuffles.
    "multimodal_audio" -> ((s, dir) =>
      Multimodal.audioStats(
        Multimodal.attachSyntheticAudio(docs(s, dir), "doc_id", nSamples = 400),
        "doc_id")),
    // REAL resize round trip: synthesize a 32×16 BMP per doc, decode,
    // INTEGER box-filter downscale to 8×4 (each output pixel = the
    // floor-average of its 4×4 block — pure integer arithmetic, unlike
    // a float bilinear kernel), re-encode through the BMP writer, decode
    // AGAIN, emit the resized image's exact channel sums. The oracle
    // recomputes the block averages from the pixel closed forms with no
    // image library — any kernel, block-alignment, rounding, or
    // re-encode bug hash-fails. One narrow mapPartitions, zero
    // shuffles; payload bytes never leave the partition.
    "multimodal_resize" -> ((s, dir) =>
      Multimodal.resizedImageStats(
        Multimodal.attachSyntheticImages(widen(docs(s, dir)), "doc_id", 32, 16),
        "doc_id", 8, 4)),
    // Perceptual image hash (aHash) from REAL decode: 200 pattern 32×16
    // BMPs (near-independent hashes via a per-cell Knuth mix) + 20
    // planted near twins (+500000: same pattern, two seed-chosen cells
    // reflected). Emitted as 4×16-bit chunks — the same blocking chunks
    // the pair query joins on — so the oracle rebuilds the hash from the
    // pixel closed forms with no image library and any cell-grid,
    // mean-compare, or bit-order bug hash-fails.
    "multimodal_ahash" -> ((s, dir) => ahashChunks(s, dir)),
    // ...and the dedup tier on top: the image analogue of simhash
    // near-dup pairs — the BIGINT aHash flows through the SAME
    // chunk-blocked pair generator (maxBucket above the fixed input size
    // → pure all-pairs tier, exactly mirrorable in SQL; blocking lossless
    // to Hamming 3 by pigeonhole). Payload bytes never shuffle; blocking
    // operates on the 8-byte hash.
    "multimodal_ahash_pairs" -> ((s, dir) =>
      Dedup.simhashNearDupPairs(
        ahashed(s, dir).select(col("doc_id"), col("ahash").as("simhash")),
        "doc_id", maxHamming = 3, maxBucket = 1 << 20)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))),
    // Perceptual AUDIO hash from REAL decode — closing the multimodal
    // near-dup matrix (images had aHash since r7; audio had only exact
    // PCM sums): 200 pattern clips of 64 constant-valued frames
    // (near-independent frame-energy profiles via the same per-frame
    // Knuth mix) + 20 planted near twins (+500000: two seed-chosen
    // frames reflected). javax.sound decodes the WAV the synth encoded;
    // the 64-bit frame-energy hash emits as the same 4×16-bit blocking
    // chunks, so the oracle rebuilds it from the frame closed forms with
    // no audio library — any header, frame-grid, abs-energy, or
    // bit-order bug hash-fails.
    "multimodal_audiohash" -> ((s, dir) => audioHashChunks(s, dir)),
    // ...and the dedup tier: the BIGINT audio hash flows through the SAME
    // chunk-blocked pair generator as simhash and image aHash — payload
    // bytes never shuffle, blocking operates on the 8-byte hash. Twin
    // drift past Hamming 3 is parity-safe: both sides compute identical
    // hashes, so blocking and the ≤3 filter agree exactly.
    "multimodal_audiohash_pairs" -> ((s, dir) =>
      Dedup.simhashNearDupPairs(
        audioHashed(s, dir).select(col("doc_id"), col("audiohash").as("simhash")),
        "doc_id", maxHamming = 3, maxBucket = 1 << 20)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))),

    // ---- n-gram LM quality filter (CCNet-style, stupid backoff)
    // Train a bigram stupid-backoff model on the ENGLISH slice (the
    // trusted-corpus role) and emit the STORED model rows seen at least
    // twice — (w1, w2, c12, bi_score) with bi_score = (1e6·c12) div
    // c(w1), all BIGINT, so the oracle replays the fixed-point model
    // bit-for-bit. The model table is the reusable artifact; scoring
    // queries join against it without recomputing denominators.
    "q_lm_train" -> ((s, dir) => {
      val (bi, _) = NgramLm
        .trainBigram(docs(s, dir).filter(col("lang") === "en"), "text")
      bi.filter(col("c12") >= 2)
    }),
    // ...and the filter itself: score EVERY document (all languages)
    // against the en-trained model — CCNet's cross-lingual fluency
    // screen. Seen bigram → (1e6·c12) div c(w1); unseen → stupid
    // backoff (2e6·c(w2)) div (5·N); OOV word → 0. Per-doc sums and
    // the div average are pure longs, so the DuckDB oracle (same model
    // CTEs + the same two left joins) hash-matches exactly — a float
    // log-prob LM could never be oracle-gated like this.
    "q_lm_score" -> ((s, dir) => {
      val d = docs(s, dir)
      val (bi, uni) = NgramLm.trainBigram(d.filter(col("lang") === "en"), "text")
      NgramLm.scoreBigram(d, "doc_id", "text", bi, uni)
    }),
    // ...the ORDER-3 model: the trigram → bigram → unigram → 0 backoff
    // CHAIN, every hop exercised by the corpus (seen trigrams, bigram
    // backoffs for novel contexts, α²-weighted unigram floors for
    // novel continuations, hard 0 for OOV). Same fixed-point algebra,
    // one more join; the stored tables fold every denominator.
    "q_lm_trigram" -> ((s, dir) => {
      val d = docs(s, dir)
      val (tri, bi, uni) = NgramLm
        .trainTrigram(d.filter(col("lang") === "en"), "text")
      NgramLm.scoreTrigram(d, "doc_id", "text", tri, bi, uni)
    }),
    // ...and the filter COMPOSITION: keep only documents above a fixed
    // fluency cutoff and report the per-language survivor profile — the
    // decision step a curation pipeline actually ships (the en-trained
    // model enriches en: its median 35.2k sits above the 34k cutoff,
    // the other languages' ~32.9k below; the fixture languages share
    // one vocabulary, so full separation is not available by design).
    // The corpus join is id-equi after the narrow score aggregate; text
    // never reenters.
    "q_lm_filter" -> ((s, dir) => {
      val d = docs(s, dir)
      val (bi, uni) = NgramLm.trainBigram(d.filter(col("lang") === "en"), "text")
      NgramLm.scoreBigram(d, "doc_id", "text", bi, uni)
        .filter(col("score_avg") >= 34000)
        .join(d.select(col("doc_id"), col("lang")), "doc_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"))
    }),
    // Exact all-pairs cosine over 4-gram shingle sets (Bayardo et al.
    // WWW'07 prefix + PPJoin positional filtering): the EXACT near-dup
    // adjudicator next to the probabilistic minhash/simhash tier.
    // Shingle size is the corpus-distinctiveness knob and the fixture
    // corpus draws from only ~31 distinct tokens: unigram sets make
    // everything a neighbor (measured: 117k of 124k pairs at t=0.5),
    // k=3 still leaves 11.5k chance-collision pairs with ANY overlap
    // (random short strings saturate the 31³ shingle space), while k=4
    // (31⁴ ≫ corpus) drops that to 402 and isolates the same 25
    // genuinely near-identical pairs found at every threshold 0.4–0.9.
    // The oracle is the brute-force quadratic join — pinning the
    // exactness claim: filtering must change NOTHING but the cost.
    "q_allpairs_cosine" -> ((s, dir) =>
      AllPairs.cosinePairs(docs(s, dir), "doc_id", "text",
        tPerMille = 700, shingleSize = 4)),
    // Blocklist/watchlist tagging: exact token-boundary term hits via
    // the exploded-token BROADCAST join (a regex alternation is
    // O(tokens·terms) and stops compiling at real blocklist sizes; the
    // join costs one corpus scan regardless of term count). 'dup' is
    // the rare marker token, 'join'/'stream' are frequent, and the
    // never-occurring term pins the no-match path.
    "q_keyword_tag" -> ((s, dir) => {
      import s.implicits._
      TextAnalysis.keywordTags(docs(s, dir), "doc_id", "text",
        Seq("join", "stream", "dup", "zzz_blocked").toDF("term"))
    }),

    // Manifest-based snapshot storage through its WHOLE lifecycle:
    // commit v1 (the %3=0 orders), append v2 (%3=1), overwrite v3
    // (%3=2), COMPACT (v4 — same rows as v3, new files), then VACUUM
    // everything below v3 — all BEFORE the reads, so both aggregated
    // states are read through post-vacuum manifests. The oracle
    // hash-fails if overwrite leaks appended rows, compaction drops or
    // doubles rows, time travel resolves the wrong manifest, or vacuum
    // deletes a file the kept versions still reference. (v1/v2 are
    // intentionally vacuumed away — reading them must fail, which the
    // spec pins; the oracle pins what must SURVIVE.)
    "q_time_travel" -> ((s, dir) => {
      val root = materializedDir("snapshots", dir) { path =>
        val o = Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_totalprice"))
        val t = path + "/t"
        Snapshots.commitOverwrite(s, t, o.filter(col("o_orderkey") % 3 === 0))
        Snapshots.commitAppend(s, t, o.filter(col("o_orderkey") % 3 === 1))
        Snapshots.commitOverwrite(s, t, o.filter(col("o_orderkey") % 3 === 2))
        Snapshots.compactCommit(s, t, targetFileBytes = 1L << 30)
        Snapshots.vacuum(s, t, keepFrom = 3)
      }
      val t = root + "/t"
      def slice(v: Int, tag: String) = Snapshots.read(s, t, Some(v))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_orderkey")).as("key_sum"),
          sum(cents(col("o_totalprice"))).as("cents_sum"))
        .select(lit(tag).as("state"), col("n_rows"), col("key_sum"),
          col("cents_sum"))
      slice(3, "v3_timetravel").unionAll(slice(4, "v4_compacted"))
    }),

    // k-ANONYMITY AUDIT beside the PII-redaction pass: redaction strips
    // direct identifiers; this finds the INDIRECT ones — quasi-identifier
    // combinations (lang, source, 10-char length band) carried by fewer
    // than k=25 rows, each a re-identification risk set. One map-side-
    // combinable grouped count; k=25 keeps the audit non-degenerate at
    // every replica scale (the 10× exact-copy tiles densify every group
    // ×10 — "more data genuinely anonymizes" — so a k below 10× group
    // sizes would return the trivially-empty set there).
    "q_k_anonymity" -> ((s, dir) => Expectations.kAnonymityViolations(
      docs(s, dir).withColumn("len_band", expr("n_chars div 10")),
      Seq("lang", "source", "len_band"), k = 25)),

    // MANIFEST-LEVEL DATA SKIPPING: the snapshot is committed
    // range-clustered (repartitionByRange + local sort on event_id)
    // with per-file (min, max) stats in the manifest, and the range
    // read plans ONLY the overlapping files — a skipped file costs no
    // footer open, no GET (the planning cost parquet row-group pruning
    // cannot remove at 10⁶ objects). Correctness never rests on the
    // stats: the predicate is re-applied to surviving rows, so the
    // oracle (plain WHERE over events) hash-fails on any pruning or
    // stats defect; the file-skip COUNT itself is pinned in
    // SnapshotsSpec (1 of 4 files planned for a one-file band).
    "q_manifest_prune" -> ((s, dir) => {
      val root = materializedDir("manifestprune", dir) { path =>
        val e = Tables.events(s, dir).select(col("event_id"), col("value"))
        Snapshots.commitOverwrite(s, path + "/t",
          e.repartitionByRange(8, col("event_id"))
            .sortWithinPartitions("event_id"),
          statsCols = Seq("event_id"))
      }
      Snapshots.readPruned(s, root + "/t", "event_id", 100, 299)
        .agg(count(lit(1)).as("n_rows"),
          sum(col("event_id")).as("id_sum"),
          sum(cents(col("value"))).as("cents_sum"))
    }),

    // MULTI-COLUMN, MULTI-TYPE manifest pruning: the snapshot is
    // committed HILBERT-clustered on (event_id, user_id) — every file a
    // tight blob in BOTH long dimensions — with per-file (min, max)
    // stats for two LONG columns AND a STRING column, and the read
    // prunes on the CONJUNCTION of three ranges. String bounds compare
    // in binary/UTF-8 order on both engines; the oracle is the plain
    // three-predicate WHERE, so any stats, encoding, comparison-order,
    // or residual-filter defect hash-fails. The 2-D files-touched win
    // over 1-D clustering is measured in SURVEY.md Appendix A (r14)
    // and pinned in SnapshotsSpec.
    "q_manifest_prune_multi" -> ((s, dir) => {
      val root = materializedDir("manifestprunemulti", dir) { path =>
        val e = Tables.events(s, dir).select(col("event_id"), col("user_id"),
          col("event_type"), col("value"))
        // the two dims must land on COMPARABLE grid scales or the curve
        // degenerates to a linear sort in the wider one: user_id runs
        // ~87x denser than event_id in this star schema, so it is
        // spread by 87 onto the 2^17 grid (sized for the sf0.1 bench
        // corpus; beyond it the masked wrap only softens pruning, never
        // correctness — the predicate re-applies per row)
        val h = graft.functions.Hilbert.hilbert_index(
          col("event_id"), col("user_id") * 87L, 17)
        Snapshots.commitOverwrite(s, path + "/t",
          e.withColumn("__h", h).repartitionByRange(8, col("__h"))
            .sortWithinPartitions("__h").drop("__h"),
          statsCols = Seq("event_id", "user_id", "event_type"))
      }
      Snapshots.readPrunedWhere(s, root + "/t", Seq(
          Snapshots.LongRange("event_id", 100, 2099),
          Snapshots.LongRange("user_id", 2, 11),
          Snapshots.StringRange("event_type", "click", "purchase")))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("event_id")).as("id_sum"),
          sum(col("user_id")).as("user_sum"),
          sum(cents(col("value"))).as("cents_sum"))
    }),

    // ADDITIVE SCHEMA EVOLUTION through the snapshot format: v1 commits
    // (doc_id, lang); v2 appends WITH the new nullable n_chars column
    // (evolve = true — the manifest schema widens, v1's files are
    // untouched and null-fill at read); v3 appends OLD-shape rows after
    // the evolution (they null-fill too). The output reads BOTH sides
    // of the boundary: v1 time-traveled under its own 2-column schema
    // (v1_cols pins the column count), the head under the evolved
    // 3-column schema, with the null-filled row count and the evolved
    // column's sum per lang — so a leaked column, wrong-schema time
    // travel, lost rows, or mis-null-filled file all break the hash.
    // The reject paths (type change, rename, reorder) are spec-pinned.
    "q_snapshot_evolve" -> ((s, dir) => {
      val root = materializedDir("snapevolve", dir) { path =>
        val d = docs(s, dir).select(col("doc_id"), col("lang"), col("n_chars"))
        val t = path + "/t"
        Snapshots.commitOverwrite(s, t,
          d.filter(col("doc_id") % 3 === 0).select(col("doc_id"), col("lang")))
        Snapshots.commitAppend(s, t,
          d.filter(col("doc_id") % 3 === 1), evolve = true)
        Snapshots.commitAppend(s, t,
          d.filter(col("doc_id") % 3 === 2).select(col("doc_id"), col("lang")),
          evolve = true)
      }
      val t = root + "/t"
      val v1df = Snapshots.read(s, t, Some(1))
      val headDf = Snapshots.read(s, t)
      val v1 = v1df.groupBy("lang").agg(count(lit(1)).as("n_v1"))
      val head = headDf.groupBy("lang")
        .agg(count(lit(1)).as("n_head"),
          sum(col("n_chars")).as("chars_evolved"),
          sum(when(col("n_chars").isNull, 1L).otherwise(0L)).as("n_nullfilled"))
      v1.join(head, "lang")
        .withColumn("v1_cols", lit(v1df.columns.length.toLong))
        .withColumn("head_cols", lit(headDf.columns.length.toLong))
    }),

    // NAMED TAGS pin snapshots against retention — the reproducible-
    // training-run contract the format's scaladoc promises: tag v2 as
    // run-1 (immutable, create-once through the same atomic slot as
    // manifests), then vacuum everything below v3. The tag's version —
    // manifest AND bytes — must survive the horizon; the output reads
    // BOTH the tagged snapshot and the post-vacuum head, so a vacuum
    // that honors only the numeric horizon (dropping the pinned v2)
    // fails loudly, and a mis-resolved tag breaks the hash.
    "q_snapshot_tag" -> ((s, dir) => {
      val root = materializedDir("snaptag", dir) { path =>
        val t = path + "/t"
        val d = docs(s, dir).select(col("doc_id"), col("lang"))
        Snapshots.commitOverwrite(s, t, d.filter(col("doc_id") % 3 === 0))
        Snapshots.commitAppend(s, t, d.filter(col("doc_id") % 3 === 1))
        Snapshots.commitOverwrite(s, t, d.filter(col("doc_id") % 3 === 2))
        Snapshots.tagVersion(s, t, "run-1", 2)
        Snapshots.vacuum(s, t, keepFrom = 3) // v1 goes; v2 pinned by the tag
      }
      val t = root + "/t"
      def slice(df: DataFrame, tag: String) =
        df.agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
          .select(lit(tag).as("state"), col("n_docs"), col("id_sum"))
      slice(Snapshots.readTag(s, t, "run-1"), "tagged_v2")
        .unionAll(slice(Snapshots.read(s, t), "head_v3"))
    }),

    // SNAPSHOT DIFF — the audit answer "what exactly did that commit do"
    // once an overwrite/purge/compaction rewrote files and the manifest
    // diff can no longer say: one full-outer key join with the non-key
    // columns packed into a struct per side (narrow shuffle rows,
    // null-safe struct equality), emitting one (key, change) row per
    // insert/delete/update and nothing for unchanged keys. v2 rewrites
    // the table with %7 values bumped, %5 keys dropped, and inserts at
    // +1e9 (clear of every replica id space); the oracle rebuilds the
    // three change sets from the same arithmetic.
    "q_snapshot_diff" -> ((s, dir) => {
      val root = materializedDir("snapdiff", dir) { path =>
        val t = path + "/t"
        val d = docs(s, dir).select(col("doc_id"), col("lang"), col("n_chars"))
        Snapshots.commitOverwrite(s, t, d)
        val v2 = d.filter(col("doc_id") % 5 =!= 0)
          .select(col("doc_id"), col("lang"),
            when(col("doc_id") % 7 === 0, col("n_chars") + 1)
              .otherwise(col("n_chars")).as("n_chars"))
          .unionByName(d.filter(col("doc_id") % 11 === 0)
            .select((col("doc_id") + 1000000000L).as("doc_id"),
              col("lang"), col("n_chars")))
        Snapshots.commitOverwrite(s, t, v2)
      }
      Snapshots.diffSnapshots(s, root + "/t", 1, 2, Seq("doc_id"))
    }),

    // ROLLBACK / RESTORE — the undo button: v2 is a BAD overwrite, the
    // rollback commits a new head with v1's exact segment references
    // (zero data movement, the bad version stays auditable), and life
    // goes on with a normal append on top of the restored head. The
    // output reads all three states; a rollback that rewrote data,
    // missed rows, or broke the subsequent append chain breaks a hash.
    "q_snapshot_rollback" -> ((s, dir) => {
      val root = materializedDir("snaprollback", dir) { path =>
        val t = path + "/t"
        val d = docs(s, dir).select(col("doc_id"), col("lang"))
        Snapshots.commitOverwrite(s, t, d.filter(col("doc_id") % 3 === 0))
        Snapshots.commitOverwrite(s, t, d.filter(col("doc_id") % 3 === 1))
        Snapshots.rollbackCommit(s, t, toVersion = 1)
        Snapshots.commitAppend(s, t, d.filter(col("doc_id") % 3 === 2))
      }
      val t = root + "/t"
      def slice(df: DataFrame, tag: String) =
        df.agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
          .select(lit(tag).as("state"), col("n_docs"), col("id_sum"))
      slice(Snapshots.read(s, t, Some(2)), "bad_v2")
        .unionAll(slice(Snapshots.read(s, t, Some(3)), "restored_v3"))
        .unionAll(slice(Snapshots.read(s, t), "head_v4"))
    }),

    // WRITEABLE BRANCHES — the experimentation contract a curation team
    // runs on a shared table: fork 'exp' off main v1 (the fork copies
    // segment REFERENCES, zero data movement), land two appends on the
    // branch while main stays untouched, row-diff the branch head
    // against main, then fast-forward merge (main's new head = the
    // branch's segment list, again zero data movement). The output
    // reads all four states — pre-merge main, branch head, the diff's
    // insert set, post-merge main — so a branch commit leaking into
    // main early, a mis-resolved branch read, a wrong diff, or a merge
    // that drops/doubles rows each break the hash.
    "q_snapshot_branch" -> ((s, dir) => {
      val root = materializedDir("snapbranch", dir) { path =>
        val t = path + "/t"
        val d = docs(s, dir).select(col("doc_id"), col("lang"))
        Snapshots.commitOverwrite(s, t, d.filter(col("doc_id") % 3 === 0))
        Snapshots.createBranch(s, t, "exp")
        Snapshots.commitAppendToBranch(s, t, "exp",
          d.filter(col("doc_id") % 3 === 1))
        Snapshots.commitAppendToBranch(s, t, "exp",
          d.filter(col("doc_id") % 3 === 2))
        Snapshots.fastForwardMerge(s, t, "exp")
      }
      val t = root + "/t"
      def slice(df: DataFrame, tag: String) =
        df.agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
          .select(lit(tag).as("state"), col("n_docs"), col("id_sum"))
      val diffIns = Snapshots.diff(Snapshots.read(s, t, Some(1)),
          Snapshots.readBranch(s, t, "exp"), Seq("doc_id"))
        .filter(col("change") === "insert")
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
        .select(lit("diff_insert").as("state"), col("n_docs"), col("id_sum"))
      slice(Snapshots.read(s, t, Some(1)), "main_v1")
        .unionAll(slice(Snapshots.readBranch(s, t, "exp"), "branch_head"))
        .unionAll(diffIns)
        .unionAll(slice(Snapshots.read(s, t), "main_merged"))
    }),

    // DIVERGED-BRANCH MERGE — the append-append case fastForwardMerge
    // refuses: main and the branch BOTH appended since the fork, and
    // because each commit is an immutable segment reference the merge
    // is a pure metadata union (main's body + the branch's appended
    // references; zero data movement — the builder proves main rejects
    // the fast-forward first). A conflicting branch-side rewrite is
    // rejected LOUDLY and leaves no version behind. Three states
    // hashed — pre-merge main, branch head, merged head — so a merge
    // that drops either side's delta, doubles the shared base, or a
    // rejected conflict that half-commits all break the hash.
    "q_snapshot_merge_diverged" -> ((s, dir) => {
      val root = materializedDir("snapmergediv", dir) { path =>
        val t = path + "/t"
        val d = docs(s, dir).select(col("doc_id"), col("lang"))
        Snapshots.commitOverwrite(s, t, d.filter(col("doc_id") % 3 === 0))
        Snapshots.createBranch(s, t, "exp")
        Snapshots.commitAppend(s, t, d.filter(col("doc_id") % 3 === 1))
        Snapshots.commitAppendToBranch(s, t, "exp",
          d.filter(col("doc_id") % 3 === 2))
        val ffRejected =
          try { Snapshots.fastForwardMerge(s, t, "exp"); false }
          catch { case _: IllegalArgumentException => true }
        require(ffRejected, "fastForwardMerge must reject a diverged main")
        Snapshots.mergeBranch(s, t, "exp")
        // the conflict face: a branch that rewrote its history since
        // forking is a data decision, not a merge — and the rejection
        // must leave main exactly where it was
        Snapshots.createBranch(s, t, "bad")
        Snapshots.commitOverwriteToBranch(s, t, "bad",
          d.filter(col("doc_id") === 0))
        val headBefore = Snapshots.versions(s, t).last
        val rejected =
          try { Snapshots.mergeBranch(s, t, "bad"); false }
          catch { case _: IllegalArgumentException => true }
        require(rejected && Snapshots.versions(s, t).last == headBefore,
          "a conflicting rewrite must reject without committing")
        Snapshots.dropBranch(s, t, "bad")
      }
      val t = root + "/t"
      def slice(df: DataFrame, tag: String) =
        df.agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
          .select(lit(tag).as("state"), col("n_docs"), col("id_sum"))
      slice(Snapshots.read(s, t, Some(2)), "main_pre")
        .unionAll(slice(Snapshots.readBranch(s, t, "exp"), "branch_head"))
        .unionAll(slice(Snapshots.read(s, t), "merged"))
    }),

    // GDPR ERASE through the snapshot format — the three-move deletion
    // protocol over the q_merge_on_read table: (1) LOGICAL delete now —
    // op='d' tombstones for the %9=3 keys append through the
    // merge-on-read lane (O(delta), latest-wins readers stop surfacing
    // them immediately); (2) PHYSICAL purge — erasePurgeCommit rewrites
    // the head with every row of those keys dropped, tombstones
    // included (O(table), the honest price of removing bytes); (3)
    // vacuum past the purge version — the pre-purge files, which still
    // contain the keys, leave the disk (SnapshotsSpec scans every
    // surviving data file for the erased keys and pins the manifests
    // are gone). The output is the latest-wins merge over the purged
    // head: q_merge_cdc's oracle minus the erased base keys, so a key
    // surviving anywhere in the MoR history — base, update, tombstone —
    // breaks the hash.
    "q_gdpr_erase" -> ((s, dir) => {
      val root = materializedDir("gdprerase", dir) { path =>
        val t = path + "/t"
        val (d, changes) = cdcDocsAndChanges(s, dir)
        Snapshots.commitOverwrite(s, t,
          d.withColumn("seq", lit(Long.MinValue)).withColumn("op", lit("u")))
        Snapshots.commitAppend(s, t, changes.filter(col("doc_id") < 10000000L))
        Snapshots.commitAppend(s, t, changes.filter(col("doc_id") >= 10000000L))
        val erased = d.filter(col("doc_id") % 9 === 3).select(col("doc_id"))
        val tomb = erased.select(col("doc_id"),
          lit(null).cast("string").as("lang"),
          lit(null).cast("string").as("source"),
          lit(null).cast("long").as("n_chars"),
          lit(5L).as("seq"), lit("d").as("op"))
        Snapshots.commitAppend(s, t, tomb)                          // logical
        val pv = Snapshots.erasePurgeCommit(s, t, "doc_id", erased) // physical
        Snapshots.vacuum(s, t, keepFrom = pv)                       // bytes gone
      }
      val head = Snapshots.read(s, root + "/t")
      Merge.applyChanges(
        head.filter(col("seq") === Long.MinValue).drop("seq", "op"),
        head.filter(col("seq") =!= Long.MinValue),
        Seq("doc_id"), "seq", "op")
    }),

    // CHANGELOG CONSUMER GROUPS over the snapshot format — the
    // exactly-once incremental-consumer contract ("process only what
    // landed since my offset") with Spark streaming's
    // offset-log/commit-log dance re-expressed at the format level:
    // plan-before-process (the window is durable BEFORE any effect),
    // deterministic per-generation tokens, token-idempotent sink. The
    // query replicates a source table into a destination across two
    // ticks, then SIMULATES the worst crash (processed, offset not yet
    // committed — the offset file is deleted) and re-ticks: recovery
    // must reuse the SAME window and token, so the sink no-ops and the
    // destination holds exactly one generation per tick. A skipped
    // window, a grown recovery window, or a double delivery all break
    // the per-lang hash.
    "q_snapshot_consume" -> ((s, dir) => {
      val root = materializedDir("snapconsume", dir) { path =>
        val src = path + "/src"
        val dst = path + "/dst"
        val d = docs(s, dir).select(col("doc_id"), col("lang"))
        Snapshots.commitOverwrite(s, src, d.filter(col("doc_id") % 3 === 0))
        Snapshots.registerConsumer(s, src, "repl", startVersion = 1)
        def tick() = Snapshots.consumeChanges(s, src, "repl")((df, token) => {
          Snapshots.commitAppendOnce(s, dst, df, token); ()
        })
        Snapshots.commitAppend(s, src, d.filter(col("doc_id") % 3 === 1))
        require(tick().contains(2), "tick 1 must consume v2")
        require(tick().isEmpty, "caught up after tick 1")
        Snapshots.commitAppend(s, src, d.filter(col("doc_id") % 3 === 2))
        require(tick().contains(3), "tick 2 must consume v3")
        // the worst crash window: processing done, offset commit lost
        java.nio.file.Files.delete(java.nio.file.Paths.get(src,
          "_consumers", "repl", "o00000003.txt"))
        java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(src,
          "_consumers", "repl", ".o00000003.txt.crc"))
        require(tick().contains(3), "recovery tick re-commits the offset")
        require(Snapshots.versions(s, dst).size == 2,
          "token-deduped recovery: exactly one generation per tick")
      }
      Snapshots.read(s, root + "/dst").groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
    }),

    // RETENTION DELETE through the snapshot format — deleteWhereCommit
    // drops every row matching a CONJUNCTION of ranges (the "expire the
    // old raw tier" maintenance move) as a stats-pruned partial rewrite:
    // on this doc_id-clustered table only the files overlapping the
    // [100, 499] band rewrite; the rest carry into the new version BY
    // REFERENCE (SnapshotsSpec pins the k-of-N split; here the HASH pins
    // the semantics). The conjunction's second range has NO committed
    // stats (lang), exercising the conservative plan + exact row
    // predicate path. Output reads the pre-delete v1 AND the post-delete
    // head: a leaked doomed row, an over-deleted survivor, or a carried
    // file gone missing all break the per-state hash.
    "q_retention_delete" -> ((s, dir) => {
      val root = materializedDir("retentiondel", dir) { path =>
        val t = path + "/t"
        val d = docs(s, dir).select(col("doc_id"), col("lang"))
        Snapshots.commitOverwrite(s, t,
          d.repartitionByRange(8, col("doc_id")).sortWithinPartitions("doc_id"),
          statsCols = Seq("doc_id"))
        Snapshots.deleteWhereCommit(s, t, Seq(
          Snapshots.LongRange("doc_id", 100L, 499L),
          Snapshots.StringRange("lang", "de", "en")),
          statsCols = Seq("doc_id"))
      }
      val t = root + "/t"
      def slice(df: DataFrame, tag: String) =
        df.groupBy("lang").agg(count(lit(1)).as("n_docs"),
            sum(col("doc_id")).as("id_sum"))
          .select(lit(tag).as("state"), col("lang"), col("n_docs"), col("id_sum"))
      slice(Snapshots.read(s, t, Some(1)), "pre")
        .unionAll(slice(Snapshots.read(s, t), "post"))
    }),

    // UPDATE ... SET ... WHERE through the snapshot format — the third
    // DML verb beside deleteWhereCommit and mergeIntoCommit, same
    // stats-pruned partial-rewrite shape: only the files overlapping
    // the WHERE conjunction rewrite (matched rows get every SET
    // expression applied against the PRE-update row — simultaneous
    // assignment; unmatched and NULL-conjunction rows pass through
    // unchanged), the rest carry BY REFERENCE (SnapshotsSpec pins the
    // k-of-N split). Pre- and post-update states both hashed.
    "q_update_where" -> ((s, dir) => {
      val root = materializedDir("updatewhere", dir) { path =>
        val t = path + "/t"
        val d = docs(s, dir).select(col("doc_id"), col("lang"), col("n_chars"))
        Snapshots.commitOverwrite(s, t,
          d.repartitionByRange(8, col("doc_id")).sortWithinPartitions("doc_id"),
          statsCols = Seq("doc_id"))
        Snapshots.updateWhereCommit(s, t,
          Seq(Snapshots.LongRange("doc_id", 100L, 499L),
            Snapshots.StringRange("lang", "de", "en")),
          set = Map("n_chars" -> (col("n_chars") + lit(1000L)),
            "lang" -> concat(lit("u-"), col("lang"))),
          statsCols = Seq("doc_id"))
      }
      val t = root + "/t"
      def slice(df: DataFrame, tag: String) =
        df.groupBy("lang").agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"))
          .select(lit(tag).as("state"), col("lang"), col("n_docs"),
            col("sum_chars"))
      slice(Snapshots.read(s, t, Some(1)), "pre")
        .unionAll(slice(Snapshots.read(s, t), "post"))
    }),

    // STREAMING CDC UPSERT SINK — the change log arrives as three
    // mtime-ordered micro-batches (seq 1 updates; seq 2 updates; seq 3
    // updates + the seq-4 deletes + the inserts) and each trigger
    // applies its batch through the format-level mergeIntoCommit.
    // Sequential seq-ordered merges ≡ the one-shot latest-wins apply,
    // so the head shares q_merge_cdc's oracle VERBATIM. Exactly-once
    // EFFECTS without tokens: merge is idempotent in effect, and each
    // trigger PROVES it by re-running its merge and requiring a
    // row-level diff of the two versions to be empty — the contract an
    // at-least-once foreachBatch retry leans on.
    "q_stream_merge_sink" -> ((s, dir) => {
      val runner = graft.streaming.StreamRunner
      val (d, changes) = cdcDocsAndChanges(s, dir)
      val srcDir = cdcBatchDir(s, dir, changes)
      val root = materializedDir("streammerge", dir) { outPath =>
        val t = outPath + "/t"
        Snapshots.commitOverwrite(s, t,
          d.repartitionByRange(8, col("doc_id")).sortWithinPartitions("doc_id"),
          statsCols = Seq("doc_id"))
        val src = runner.fileSource(s, srcDir, StructType(Seq(
          StructField("doc_id", LongType), StructField("lang", StringType),
          StructField("source", StringType), StructField("n_chars", LongType),
          StructField("seq", LongType), StructField("op", StringType))),
          maxFilesPerTrigger = Some(1))
        runner.foreachBatchSink(src, (batch, batchId) => {
          val v1 = Snapshots.mergeIntoCommit(s, t, "doc_id", batch,
            seqCol = Some("seq"), opCol = Some("op"), statsCols = Seq("doc_id"))
          val v2 = Snapshots.mergeIntoCommit(s, t, "doc_id", batch,
            seqCol = Some("seq"), opCol = Some("op"), statsCols = Seq("doc_id"))
          require(Snapshots.diff(Snapshots.read(s, t, Some(v1)),
            Snapshots.read(s, t, Some(v2)), Seq("doc_id")).isEmpty,
            s"batch $batchId replayed merge changed the snapshot")
        }, trigger = Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()))
          .awaitTermination()
      }
      Snapshots.read(s, root + "/t")
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_chars").cast("long").as("n_chars"))
    }),

    // STREAMING *FROM* THE SNAPSHOT TABLE — the format as a first-class
    // Structured Streaming SOURCE (readStream.format("graft-snapshot")):
    // offsets are table versions, each micro-batch a manifest-planned
    // window (initial load = the v1 snapshot, then one version per
    // trigger), flowing THROUGH the reference's Connect chain
    // (DropField$Value on the nested meta struct) into a tokened
    // snapshot sink. The worst crash window is SIMULATED mid-query: the
    // sink's effect is durable but Spark's commit-log entry for the
    // last batch is deleted; the restart must replay the SAME window
    // into the SAME batch id, so the commitAppendOnce token no-ops —
    // the builder requires exactly one sink generation per logical
    // batch, and the hash breaks on any skipped, doubled, or
    // mis-windowed row. A post-crash commit then flows incrementally.
    "q_stream_from_snapshot" -> ((s, dir) => {
      val root = materializedDir("streamfromsnap", dir) { path =>
        val src = path + "/src"
        val dst = path + "/dst"
        val ckpt = path + "/ckpt"
        val d = docs(s, dir).select(col("doc_id"), col("lang"),
          struct(col("source").as("src"),
            col("n_chars").cast("long").as("nc")).as("meta"))
        Snapshots.commitOverwrite(s, src, d.filter(col("doc_id") % 4 === 0))
        Snapshots.commitAppend(s, src, d.filter(col("doc_id") % 4 === 1))
        Snapshots.commitAppend(s, src, d.filter(col("doc_id") % 4 === 2))
        def run(): Unit = {
          val stream = s.readStream.format("graft-snapshot")
            .option("maxVersionsPerTrigger", "1")
            .option("pinConsumer", "repl").load(src)
          val shaped = graft.streaming.StreamRunner.applyChain(stream, Map(
            "transforms" -> "dropSrc",
            "transforms.dropSrc.type" -> "DropField$Value",
            "transforms.dropSrc.column" -> "meta",
            "transforms.dropSrc.fields" -> "src"))
          val q = shaped.writeStream.option("checkpointLocation", ckpt)
            .foreachBatch { (b: DataFrame, id: Long) =>
              Snapshots.commitAppendOnce(s, dst, b, s"sink:$id"); ()
            }.start()
          try q.processAllAvailable() finally q.stop()
        }
        run() // batches 0 (snapshot@v1), 1 (v2), 2 (v3)
        require(Snapshots.versions(s, dst).size == 3,
          "one sink generation per micro-batch")
        // the crash: sink effect durable, Spark's commit-log entry torn
        val commits = new java.io.File(s"$ckpt/commits").listFiles()
          .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
        require(commits.last.delete(), "crash simulation needs the commit log")
        new java.io.File(commits.last.getParent,
          s".${commits.last.getName}.crc").delete()
        Snapshots.commitAppend(s, src, d.filter(col("doc_id") % 4 === 3))
        run() // replays batch 2 with the same token (no-op), then batch 3
        require(Snapshots.versions(s, dst).size == 4,
          "the replayed window must token-dedup; the new version must flow")
      }
      Snapshots.read(s, root + "/dst")
        .select(col("doc_id"), col("lang"), col("meta.nc").as("n_chars"))
    }),

    // TABLE -> TABLE IN THE PURE DATASTREAM API — the sink face of the
    // streaming format: readStream.format("graft-snapshot") out of the
    // source table, a narrow projection, writeStream.format(
    // "graft-snapshot") into the destination — no foreachBatch, no
    // hand-rolled tokens: the sink commits each micro-batch under
    // <checkpointLocation>#b<batchId> via commitAppendOnce, so the
    // torn-commit-log crash simulated mid-query (same move as
    // q_stream_from_snapshot, but now the SINK's idempotence is what
    // recovery leans on) replays into a token no-op. statsCols ride
    // every batch commit, so the destination stays prunable as it
    // grows — the builder requires the per-file id cells and exactly
    // one generation per logical batch.
    "q_stream_table_to_table" -> ((s, dir) => {
      val root = materializedDir("streamtbl2tbl", dir) { path =>
        val src = path + "/src"
        val dst = path + "/dst"
        val ckpt = path + "/ckpt"
        val d = docs(s, dir).select(col("doc_id"), col("lang"),
          col("source"), col("n_chars").cast("long").as("n_chars"))
        Snapshots.commitOverwrite(s, src, d.filter(col("doc_id") % 4 === 0))
        Snapshots.commitAppend(s, src, d.filter(col("doc_id") % 4 === 1))
        Snapshots.commitAppend(s, src, d.filter(col("doc_id") % 4 === 2))
        def run(): Unit = {
          val q = s.readStream.format("graft-snapshot")
            .option("maxVersionsPerTrigger", "1").load(src)
            .drop("source")
            .writeStream.format("graft-snapshot")
            .option("checkpointLocation", ckpt)
            .option("statsCols", "doc_id")
            .start(dst)
          try q.processAllAvailable() finally q.stop()
        }
        run()
        require(Snapshots.versions(s, dst).size == 3,
          "one sink generation per micro-batch")
        require(Snapshots.entries(s, dst).forall(e =>
          e.stats.contains("doc_id") && e.rows.isDefined),
          "stats cells must ride every sink commit")
        val commits = new java.io.File(s"$ckpt/commits").listFiles()
          .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
        require(commits.last.delete(), "crash simulation needs the commit log")
        new java.io.File(commits.last.getParent,
          s".${commits.last.getName}.crc").delete()
        Snapshots.commitAppend(s, src, d.filter(col("doc_id") % 4 === 3))
        run() // the SINK's token must no-op the replayed batch id
        require(Snapshots.versions(s, dst).size == 4,
          "the replayed batch must token-dedup in the sink; the new " +
            "version must flow")
      }
      Snapshots.read(s, root + "/dst")
        .select(col("doc_id"), col("lang"), col("n_chars"))
    }),

    // MAINTENANCE-TRANSPARENT STREAMING — the r16 verdict's headline
    // gap closed: a LIVE stream (table → readStream → snapshot sink)
    // and a registered consumer-group replica BOTH cross a mid-stream
    // compaction of their source with zero duplicate or lost rows.
    // compactCommit stamps dataChange=false, so the incremental window
    // spanning it plans the maintenance version as EMPTY (reference
    // rewrite only) instead of failing and forcing a full re-load of
    // every downstream copy — the Delta/Iceberg maintenance convention.
    // The builder requires the maintenance version to contribute no
    // sink rows, the replica to converge, and a REWRITTEN-DATA commit
    // (overwrite — no maintenance claim) to keep failing loudly.
    "q_stream_across_compaction" -> ((s, dir) => {
      val root = materializedDir("streamacrosscompact", dir) { path =>
        val src = path + "/src"
        val dst = path + "/dst"
        val ckpt = path + "/ckpt"
        val replica = path + "/replica"
        val d = docs(s, dir).select(col("doc_id"), col("lang"),
          col("n_chars").cast("long").as("n_chars"))
        Snapshots.commitOverwrite(s, src, d.filter(col("doc_id") % 3 === 0))
        Snapshots.commitAppend(s, src, d.filter(col("doc_id") % 3 === 1))
        // the consumer-group face of the same guarantee: a replica
        // bootstrapped at v1, ticking exactly-once deltas ever after
        Snapshots.registerConsumer(s, src, "replica", 1)
        Snapshots.commitOverwrite(s, replica, Snapshots.read(s, src, Some(1)))
        def tickReplica(): Unit =
          while (Snapshots.consumeChanges(s, src, "replica") { (df, tok) =>
            Snapshots.commitAppendOnce(s, replica, df, tok); ()
          }.isDefined) ()
        def run(): Unit = {
          val q = s.readStream.format("graft-snapshot")
            .option("maxVersionsPerTrigger", "1").load(src)
            .writeStream.format("graft-snapshot")
            .option("checkpointLocation", ckpt).start(dst)
          try q.processAllAvailable() finally q.stop()
        }
        run() // initial load (v1) + the v2 delta
        tickReplica()
        val before = Snapshots.versions(s, dst).size
        // LIVE MAINTENANCE: compact the streamed table, then more data
        val cv = Snapshots.compactCommit(s, src, targetFileBytes = 1L << 26)
        require(Snapshots.isMaintenanceVersion(s, src, cv),
          "compaction must stamp its dataChange=false claim")
        Snapshots.commitAppend(s, src, d.filter(col("doc_id") % 3 === 2))
        run() // the restart's windows SPAN the compaction
        tickReplica()
        require(Snapshots.read(s, dst).count() == d.count(),
          "the stream crossing the compaction must deliver exactly the " +
            "data rows — none lost, none duplicated")
        // the maintenance window plans EMPTY: at most the (empty) maint
        // window's token version + the v4 delta version land in the sink
        require(Snapshots.versions(s, dst).size <= before + 2,
          "the maintenance version must not inflate the sink's history")
        require(Snapshots.read(s, replica).count() == d.count(),
          "the consumer-group replica must converge across the compaction")
        // a rewritten-data commit carries NO maintenance claim: loud
        Snapshots.commitOverwrite(s, src, d.limit(10))
        val loud =
          try { Snapshots.readChangesBetween(s, src, cv); false }
          catch { case _: IllegalArgumentException => true }
        require(loud, "an overwrite window must keep failing loudly — " +
          "transparency is only for commits that CLAIM dataChange=false")
      }
      Snapshots.read(s, root + "/dst")
        .select(col("doc_id"), col("lang"), col("n_chars"))
    }),

    // BATCH/SQL ADDRESSABILITY — r16 verdict gap #2 closed: snapshot
    // tables are now a registered batch FORMAT, not only a Scala API.
    // The table is BORN through the batch write face
    // (df.write.format("graft-snapshot")), read back through
    // spark.read.format(...) — required in-query to row-equal
    // Snapshots.read, time travel (versionAsOf) included — and the
    // OUTPUT is computed by PLAIN SQL TEXT over CREATE TEMPORARY VIEW
    // ... USING graft-snapshot views (head + a version-pinned one), so
    // a SQL-only user gets the same manifest-backed scan (committed
    // schema, zero planning FS calls, stats pushdown through the
    // manifest FileIndex) the Scala API plans.
    "q_snapshot_sql_read" -> ((s, dir) => {
      val root = materializedDir("snapsqlread", dir) { path =>
        val t = path + "/t"
        val d = docs(s, dir).select(col("doc_id"), col("lang"),
          col("n_chars").cast("long").as("n_chars"))
        d.filter(col("doc_id") % 2 === 0).write.format("graft-snapshot")
          .option("statsCols", "doc_id").mode("overwrite").save(t)
        d.filter(col("doc_id") % 2 === 1).write.format("graft-snapshot")
          .option("statsCols", "doc_id").mode("append").save(t)
        val viaFormat = s.read.format("graft-snapshot").load(t)
        val viaApi = Snapshots.read(s, t)
        require(viaFormat.exceptAll(viaApi).isEmpty &&
          viaApi.exceptAll(viaFormat).isEmpty,
          "format read must row-equal Snapshots.read")
        val v1Format = s.read.format("graft-snapshot")
          .option("versionAsOf", "1").load(t)
        val v1Api = Snapshots.read(s, t, Some(1))
        require(v1Format.exceptAll(v1Api).isEmpty &&
          v1Api.exceptAll(v1Format).isEmpty,
          "versionAsOf through the format must row-equal time travel")
      }
      val t = root + "/t"
      s.sql("CREATE OR REPLACE TEMPORARY VIEW graft_snap_docs " +
        s"USING `graft-snapshot` OPTIONS (path '$t')")
      s.sql("CREATE OR REPLACE TEMPORARY VIEW graft_snap_docs_v1 " +
        s"USING `graft-snapshot` OPTIONS (path '$t', versionAsOf '1')")
      s.sql("""
        |SELECT 'head' AS state, lang, count(*) AS n_docs,
        |       sum(n_chars) AS sum_chars
        |FROM graft_snap_docs WHERE doc_id >= 100 GROUP BY lang
        |UNION ALL
        |SELECT 'v1', lang, count(*), sum(n_chars)
        |FROM graft_snap_docs_v1 WHERE doc_id >= 100 GROUP BY lang
        |""".stripMargin)
    }),

    // THE BATCH/SQL FACE OVER A PENDING-MoR SNAPSHOT (r17 verdict task
    // 3): a table mid-erase — merge-on-read delete files committed, NOT
    // yet compacted — must answer SQL-text queries with its FULL delete
    // semantics (the same anti-join plan Snapshots.read serves), not
    // reject and not serve the un-deleted superset. The builder erases
    // one key class through the MoR lane, RE-INSERTS a subset after the
    // delete (commit-order scoping: re-inserted keys survive), and the
    // OUTPUT is plain SQL over a CREATE TEMPORARY VIEW on the pending
    // table; the builder also requires format-read ≡ Snapshots.read
    // row equality mid-erase.
    "q_snapshot_sql_read_mor" -> ((s, dir) => {
      val root = materializedDir("snapsqlmor", dir) { path =>
        val t = path + "/t"
        val d = docs(s, dir).select(col("doc_id"), col("lang"),
          col("n_chars").cast("long").as("n_chars"))
        Snapshots.commitOverwrite(s, t, d, statsCols = Seq("doc_id"))
        Snapshots.eraseMoRCommit(s, t, "doc_id",
          d.filter(col("doc_id") % 7 === 2).select(col("doc_id")))
        // re-insert a third of the erased keys AFTER the delete — they
        // must survive (the delete never reaches forward)
        Snapshots.commitAppend(s, t,
          d.filter(col("doc_id") % 21 === 2)
            .select(col("doc_id"), lit("rx").as("lang"), col("n_chars")))
        val viaFormat = s.read.format("graft-snapshot").load(t)
        val viaApi = Snapshots.read(s, t)
        require(viaFormat.exceptAll(viaApi).isEmpty &&
          viaApi.exceptAll(viaFormat).isEmpty,
          "format read mid-erase must row-equal Snapshots.read")
      }
      val t = root + "/t"
      s.sql("CREATE OR REPLACE TEMPORARY VIEW graft_snap_mor " +
        s"USING `graft-snapshot` OPTIONS (path '$t')")
      s.sql("""
        |SELECT lang, count(*) AS n_docs, sum(n_chars) AS sum_chars,
        |       sum(doc_id) AS id_sum
        |FROM graft_snap_mor WHERE doc_id >= 50 GROUP BY lang
        |""".stripMargin)
    }),

    // ZERO-COPY SHALLOW CLONE — the dev/test/experiment fork at 100 TB:
    // a new, independently writable table whose v1 REFERENCES the
    // source snapshot's files (absolute paths in the clone's own
    // segments, zero bytes copied), with vacuum safety in BOTH
    // directions — the source version is tag-pinned before any clone
    // metadata exists, and the clone's vacuum can only reach its own
    // root. The builder requires the zero-copy identity (same physical
    // files at clone time), then DIVERGES both sides, vacuums the
    // SOURCE at its head (the pin must keep the shared files alive),
    // and outputs both sides' aggregates — the hash breaks if either
    // side leaks into the other or vacuum reclaims shared bytes.
    "q_snapshot_clone" -> ((s, dir) => {
      val root = materializedDir("snapclone", dir) { path =>
        val src = path + "/src"
        val dst = path + "/dst"
        val d = docs(s, dir).select(col("doc_id"), col("lang"),
          col("n_chars").cast("long").as("n_chars"))
        Snapshots.commitOverwrite(s, src, d.filter(col("doc_id") % 2 === 0),
          statsCols = Seq("doc_id"))
        Snapshots.commitAppend(s, src, d.filter(col("doc_id") % 2 === 1),
          statsCols = Seq("doc_id"))
        val info = Snapshots.cloneTable(s, src, dst)
        require(Snapshots.read(s, dst).inputFiles.toSet ==
          Snapshots.read(s, src).inputFiles.toSet,
          "shallow clone must read the source's physical files")
        // diverge: each side gains its own rows
        Snapshots.commitAppend(s, dst,
          d.filter(col("doc_id") % 5 === 0)
            .select((col("doc_id") + 10000000L).as("doc_id"),
              lit("cl").as("lang"), col("n_chars")))
        Snapshots.commitAppend(s, src,
          d.filter(col("doc_id") % 3 === 0)
            .select((col("doc_id") + 20000000L).as("doc_id"),
              lit("sr").as("lang"), col("n_chars")))
        // source maintenance + retention with the clone attached: the
        // pin keeps the clone-point files; the clone must read through
        Snapshots.vacuum(s, src, keepFrom = Snapshots.versions(s, src).last)
        require(Snapshots.tags(s, src).contains(info.pinTag),
          "the clone's source pin must survive vacuum")
      }
      val srcDf = Snapshots.read(s, root + "/src")
        .select(lit("src").as("side"), col("lang"), col("doc_id"))
      val cloneDf = Snapshots.read(s, root + "/dst")
        .select(lit("clone").as("side"), col("lang"), col("doc_id"))
      srcDf.unionAll(cloneDf).groupBy(col("side"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
    }),

    // STREAMING MATERIALIZED VIEW INTO THE TABLE FORMAT — the sink's
    // COMPLETE mode: a streaming aggregation re-emits its whole result
    // per trigger and commitOverwriteOnce REPLACES the snapshot under
    // the batch token, so the table's head is always the latest full
    // aggregate and history keeps one version per refresh (time travel
    // over the MV's evolution — the builder pins the per-trigger
    // version count and that v1 equals the first batch's aggregate).
    // Three mtime-ordered micro-batches drain under admission control;
    // the head must equal the one-shot batch aggregate exactly.
    "q_stream_mv_snapshot" -> ((s, dir) => {
      val root = materializedDir("streammvsnap", dir) { path =>
        val srcDir = path + "/in"
        val mv = path + "/mv"
        val base = new java.io.File(srcDir)
        base.mkdirs()
        val d = docs(s, dir).select(col("doc_id"), col("lang"))
        val t0 = System.currentTimeMillis() - 600000L
        dumpBatchFile(base, d.filter(col("doc_id") % 3 === 0), "b0", t0)
        dumpBatchFile(base, d.filter(col("doc_id") % 3 === 1), "b1",
          t0 + 60000L)
        dumpBatchFile(base, d.filter(col("doc_id") % 3 === 2), "b2",
          t0 + 120000L)
        val src = graft.streaming.StreamRunner.fileSource(s, srcDir,
          StructType(Seq(StructField("doc_id", LongType),
            StructField("lang", StringType))), maxFilesPerTrigger = Some(1))
        val agg = src.groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
        val q = agg.writeStream.format("graft-snapshot")
          .outputMode("complete")
          .option("checkpointLocation", path + "/ckpt").start(mv)
        try q.processAllAvailable() finally q.stop()
        require(Snapshots.versions(s, mv).size == 3,
          "one MV refresh version per trigger")
        val v1 = Snapshots.read(s, mv, Some(1))
          .agg(sum(col("n_docs"))).head().getLong(0)
        val all = d.filter(col("doc_id") % 3 === 0).count()
        require(v1 == all, s"v1 must be the first batch's aggregate " +
          s"($v1 vs $all)")
      }
      Snapshots.read(s, root + "/mv")
        .select(col("lang"), col("n_docs"), col("id_sum"))
    }),

    // THE CDC-REPLICATION SINK — the sink's UPDATE mode: the change
    // stream's batches MERGE INTO the table by key (latest-wins via
    // mergeSeq, deletes via mergeOp) with zero user code — the
    // format-level packaging of what q_stream_merge_sink hand-rolls in
    // foreachBatch, over the SAME mtime-ordered batch fixture, so the
    // head must land mergeCdcSql's snapshot verbatim.
    "q_stream_upsert_sink" -> ((s, dir) => {
      val (d, changes) = cdcDocsAndChanges(s, dir)
      val srcDir = cdcBatchDir(s, dir, changes)
      val root = materializedDir("streamupsert", dir) { outPath =>
        val t = outPath + "/t"
        Snapshots.commitOverwrite(s, t,
          d.repartitionByRange(8, col("doc_id")).sortWithinPartitions("doc_id"),
          statsCols = Seq("doc_id"))
        val src = graft.streaming.StreamRunner.fileSource(s, srcDir,
          StructType(Seq(
            StructField("doc_id", LongType), StructField("lang", StringType),
            StructField("source", StringType), StructField("n_chars", LongType),
            StructField("seq", LongType), StructField("op", StringType))),
          maxFilesPerTrigger = Some(1))
        val q = src.writeStream.format("graft-snapshot")
          .outputMode("update")
          .option("checkpointLocation", outPath + "/ckpt")
          .option("mergeKey", "doc_id").option("mergeSeq", "seq")
          .option("mergeOp", "op").option("statsCols", "doc_id")
          .start(t)
        try q.processAllAvailable() finally q.stop()
      }
      Snapshots.read(s, root + "/t")
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_chars").cast("long").as("n_chars"))
    }),

    // ZERO-CODE CDC REPLICATION, format to format: the source table's
    // row-level change feed (readStream feed=true — op='u' rows and
    // op='d' delete keys ACROSS a merge-on-read GDPR erase) piped
    // STRAIGHT into the update-mode sink (mergeKey/_seq/_op) — no
    // foreachBatch, no applyChanges, no user logic at all: the two
    // format faces compose into a replica that must equal the applied
    // law exactly. The per-window _seq drives latest-wins inside each
    // batch; sequential merges across batches are the spec-pinned
    // apply-law. Compare q_stream_from_snapshot_feed (same oracle),
    // which maintains the replica BY HAND — this is the packaged form.
    "q_stream_replicate" -> ((s, dir) => {
      val root = materializedDir("streamreplicate", dir) { path =>
        val src = path + "/src"
        val replica = path + "/replica"
        val d = docs(s, dir).select(col("doc_id"), col("lang"))
        Snapshots.commitOverwrite(s, src, d)
        Snapshots.eraseMoRCommit(s, src, "doc_id",
          d.filter(col("doc_id") % 9 === 3).select("doc_id"))
        Snapshots.commitAppend(s, src,
          d.filter(col("doc_id") % 27 === 3)
            .select(col("doc_id"), lit("re").as("lang")))
        // bootstrap the replica at the fork point, then follow the feed
        Snapshots.commitOverwrite(s, replica, Snapshots.read(s, src, Some(1)))
        val q = s.readStream.format("graft-snapshot")
          .option("feed", "true").option("startingVersion", "1")
          .option("maxVersionsPerTrigger", "1").load(src)
          .writeStream.format("graft-snapshot").outputMode("update")
          .option("checkpointLocation", path + "/ckpt")
          .option("mergeKey", "doc_id").option("mergeSeq", "_seq")
          .option("mergeOp", "_op").start(replica)
        try q.processAllAvailable() finally q.stop()
      }
      Snapshots.read(s, root + "/replica").groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
    }),

    // FEED-MODE STREAMING from the table ACROSS a merge-on-read erase:
    // the change feed (op='u' rows, op='d' delete keys, _seq = commit
    // order) arrives as per-version micro-batches and a downstream
    // REPLICA applies each window through Merge.applyChanges — the
    // replicate-across-GDPR-erases contract, now driven by Spark's own
    // readStream instead of the format-level consumer ticker
    // (q_snapshot_consume). The replica's final state must equal
    // q_change_feed's applied law: a delete that leaks, a re-insert
    // that dies, or a mis-sequenced window all break the per-lang hash.
    "q_stream_from_snapshot_feed" -> ((s, dir) => {
      val root = materializedDir("streamfromsnapfeed", dir) { path =>
        val src = path + "/src"
        val d = docs(s, dir).select(col("doc_id"), col("lang"))
        Snapshots.commitOverwrite(s, src, d)
        Snapshots.eraseMoRCommit(s, src, "doc_id",
          d.filter(col("doc_id") % 9 === 3).select("doc_id"))
        Snapshots.commitAppend(s, src,
          d.filter(col("doc_id") % 27 === 3)
            .select(col("doc_id"), lit("re").as("lang")))
        val stream = s.readStream.format("graft-snapshot")
          .option("feed", "true").option("maxVersionsPerTrigger", "1")
          .load(src)
        val q = stream.writeStream
          .option("checkpointLocation", path + "/ckpt")
          .foreachBatch { (b: DataFrame, id: Long) =>
            // fold each window into the replica parquet; overwrite-by-
            // batch-id keeps a replayed trigger idempotent
            val prev = (0L until id).reverse
              .map(i => new java.io.File(path, s"replica$i"))
              .find(_.exists())
            val next = prev match {
              case None => b.filter(col("_op") === "u").drop("_op", "_seq")
              case Some(p) => Merge.applyChanges(
                s.read.parquet(p.getAbsolutePath), b,
                Seq("doc_id"), "_seq", "_op")
            }
            next.write.mode("overwrite").parquet(path + s"/replica$id")
            ()
          }.start()
        try q.processAllAvailable() finally q.stop()
      }
      val last = new java.io.File(root).listFiles()
        .filter(_.getName.startsWith("replica"))
        .maxBy(_.getName.stripPrefix("replica").toInt)
      Tables.readCached(s, last.getAbsolutePath).groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
    }),

    // METADATA-ONLY count(*) through the snapshot format — every commit
    // whose stats pass runs records a per-file `rc=` row count, so
    // rowCount answers from a driver-side sum over the parsed manifest:
    // zero files opened, zero jobs (the lakehouse numRecords contract;
    // SnapshotsSpec pins the metadata path, the carry-by-reference
    // preservation, and the MoR/stats-less fallbacks). Two states
    // hashed — the time-travel count and the head count after an
    // append — so a stale, double-counted, or dropped rc cell breaks
    // the hash.
    "q_meta_count" -> ((s, dir) => {
      import s.implicits._
      val root = materializedDir("metacount", dir) { path =>
        val t = path + "/t"
        val d = docs(s, dir).select(col("doc_id"), col("lang"))
        Snapshots.commitOverwrite(s, t, d.filter(col("doc_id") % 3 === 0),
          statsCols = Seq("doc_id"))
        Snapshots.commitAppend(s, t, d.filter(col("doc_id") % 3 =!= 0),
          statsCols = Seq("doc_id"))
      }
      val t = root + "/t"
      Seq(("v1", Snapshots.rowCount(s, t, Some(1))),
          ("head", Snapshots.rowCount(s, t))).toDF("state", "n_rows")
    }),

    // BUCKET-OCCUPANCY point lookup through the snapshot format — the
    // equality-pruning stat for hash-distributed keys, where per-file
    // (min, max) spans the whole domain and prunes nothing: the table
    // commits bucket-clustered (pmod(xxhash64(doc_id), 32)) with
    // per-file bucket cells, and readPrunedByKey plans a 5-key lookup
    // through them — O(keys) files opened out of the whole table, zero
    // footer reads (SnapshotsSpec pins the <= k-of-N file count; the
    // HASH pins that planning through the cells loses no row and the
    // driver-side xxhash64 replay matches the executor's).
    "q_bucket_lookup" -> ((s, dir) => {
      val root = materializedDir("bucketlookup", dir) { path =>
        val t = path + "/t"
        val d = docs(s, dir).select(col("doc_id"), col("lang"), col("n_chars"))
        Snapshots.commitOverwrite(s, t,
          d.repartition(32, pmod(xxhash64(col("doc_id")), lit(32L))),
          statsCols = Seq("doc_id"), bucketCols = Map("doc_id" -> 32))
      }
      Snapshots.readPrunedByKey(s, root + "/t", "doc_id",
        Seq(3L, 57L, 123L, 456L, 499L))
        .select(col("doc_id"), col("lang"), col("n_chars").cast("long").as("n_chars"))
    }),

    // CHANGE DATA FEED across merge-on-read deletes — the ordered
    // row-level change stream readChangesBetween cannot give once a
    // delete enters the range: op='u' rows for appends, op='d' key
    // rows for equality deletes, _seq = commit order. The query pins
    // BOTH faces: the feed's own op slices, and THE LAW — applying the
    // feed to the from-snapshot through the existing Merge.applyChanges
    // operator must reproduce the head exactly (delete-then-reinsert
    // ordering included), which is what lets a downstream table follow
    // a source across GDPR erases instead of failing its ticks.
    "q_change_feed" -> ((s, dir) => {
      val root = materializedDir("changefeed", dir) { path =>
        val t = path + "/t"
        val d = docs(s, dir).select(col("doc_id"), col("lang"))
        Snapshots.commitOverwrite(s, t, d)
        Snapshots.eraseMoRCommit(s, t, "doc_id",
          d.filter(col("doc_id") % 9 === 3).select("doc_id"))
        Snapshots.commitAppend(s, t,
          d.filter(col("doc_id") % 27 === 3)
            .select(col("doc_id"), lit("re").as("lang")))
      }
      val t = root + "/t"
      val feed = Snapshots.changeFeed(s, t, 1)
      val applied = graft.operators.Merge.applyChanges(
        Snapshots.read(s, t, Some(1)), feed, Seq("doc_id"), "_seq", "_op")
      def slice(df: DataFrame, tag: String, byLang: Boolean) = {
        val g = if (byLang) df.groupBy(col("lang")) else
          df.groupBy(lit("all").as("lang"))
        g.agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
          .select(lit(tag).as("state"), col("lang"), col("n_docs"),
            col("id_sum"))
      }
      slice(applied, "applied", byLang = true)
        .unionAll(slice(feed.filter(col("_op") === "d"), "feed_d", byLang = false))
        .unionAll(slice(feed.filter(col("_op") === "u"), "feed_u", byLang = true))
    }),

    // MERGE-ON-READ ERASE through the snapshot format — the O(keys)
    // logical delete: eraseMoRCommit writes ONLY a tiny equality-delete
    // key file (no data file read, rewritten or moved — the move that
    // makes "stop surfacing these keys NOW" affordable at 100 TB) and
    // readers anti-join it with COMMIT-ORDER scoping: rows before the
    // delete drop, a key RE-INSERTED after it survives. compactCommit
    // then folds the delete into a rewritten snapshot (the physical
    // half; vacuum reclaims the bytes — SnapshotsSpec byte-proofs it).
    // Three states read and hashed: post-erase, post-reinsert, and
    // post-compaction (which must equal post-reinsert EXACTLY) — a
    // delete that leaks a doomed row, kills a re-insert, or a
    // compaction that changes any row breaks the hash.
    "q_mor_erase" -> ((s, dir) => {
      val root = materializedDir("morerase", dir) { path =>
        val t = path + "/t"
        val d = docs(s, dir).select(col("doc_id"), col("lang"))
        Snapshots.commitOverwrite(s, t,
          d.repartitionByRange(8, col("doc_id")).sortWithinPartitions("doc_id"),
          statsCols = Seq("doc_id"))
        Snapshots.eraseMoRCommit(s, t, "doc_id",
          d.filter(col("doc_id") % 9 === 3).select("doc_id"))
        Snapshots.commitAppend(s, t,
          d.filter(col("doc_id") % 27 === 3)
            .select(col("doc_id"), lit("re").as("lang")))
        Snapshots.compactCommit(s, t, targetFileBytes = 1L << 26)
      }
      val t = root + "/t"
      def slice(df: DataFrame, tag: String) =
        df.groupBy("lang").agg(count(lit(1)).as("n_docs"),
            sum(col("doc_id")).as("id_sum"))
          .select(lit(tag).as("state"), col("lang"), col("n_docs"),
            col("id_sum"))
      slice(Snapshots.read(s, t, Some(2)), "erased")
        .unionAll(slice(Snapshots.read(s, t, Some(3)), "reinserted"))
        .unionAll(slice(Snapshots.read(s, t, Some(4)), "compacted"))
    }),

    // MERGE INTO through the snapshot format — the keyed upsert+delete
    // committed as ONE new version: the CDC batch (three competing
    // updates per %7 key with seq 3 winning, deletes for %5, inserts at
    // +10M for %11) collapses latest-wins, mergeTouchPlan finds the
    // touched files via stats pre-prune + executor key probe (no key
    // reaches the driver), only those rewrite — survivors anti-joined,
    // upserts appended — and every untouched file carries BY REFERENCE
    // (SnapshotsSpec pins the k-of-N split; here the HASH pins the
    // semantics). The head must equal the LOGICAL merge exactly, so the
    // oracle is q_merge_cdc's verbatim — a missed update, a surviving
    // deleted key, a dropped insert, or a wrong latest-wins collapse
    // all break the hash.
    "q_snapshot_merge" -> ((s, dir) => {
      val root = materializedDir("snapmerge", dir) { path =>
        val t = path + "/t"
        val (d, changes) = cdcDocsAndChanges(s, dir)
        Snapshots.commitOverwrite(s, t,
          d.repartitionByRange(8, col("doc_id")).sortWithinPartitions("doc_id"),
          statsCols = Seq("doc_id"))
        Snapshots.mergeIntoCommit(s, t, "doc_id", changes,
          seqCol = Some("seq"), opCol = Some("op"), statsCols = Seq("doc_id"))
      }
      Snapshots.read(s, root + "/t")
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_chars").cast("long").as("n_chars"))
    }),

    // THE INCREMENTAL CURATION PIPELINE, composed end to end from the
    // already-proven contracts: source v2's delta (readChangesBetween)
    // -> near-dup dedup against the v1 corpus as a standing index (the
    // dedup_incremental lane: md5 signatures, batch bands broadcast
    // into the never-reshuffled index) -> expectations gate (latin
    // langs, 100..400 length band; violations quarantined) ->
    // commitAppendOnce into the destination table. The step runs TWICE
    // with the same token — the replay must be a no-op through the
    // WHOLE composition (exactly-once table effects under at-least-once
    // execution), which the doubled-output hash would expose. The batch
    // = the 20 planted near-dups (dropped via the pairsMd5 pipeline the
    // oracle replays) + fresh %97=3 docs at +200000 with gate-mixed
    // lang/length, so both drop paths and both gate paths are exercised.
    "q_incr_pipeline" -> ((s, dir) => {
      val root = materializedDir("incrpipeline", dir) { path =>
        val src = path + "/src"
        val dst = path + "/dst"
        val qt = path + "/qt"
        val d = docs(s, dir).select(col("doc_id"), col("lang"), col("text"),
          col("n_chars"))
        Snapshots.commitOverwrite(s, src, d)
        val nearDups = d.filter(col("doc_id") < 20).select(
          (col("doc_id") + 100000L).as("doc_id"), col("lang"),
          regexp_replace(col("text"), "\\s+\\S+$", "").as("text"),
          col("n_chars"))
        val fresh = d.filter(col("doc_id") % 97 === 3).select(
          (col("doc_id") + 200000L).as("doc_id"),
          when(col("doc_id") % 2 === 0, col("lang")).otherwise(lit("zz"))
            .as("lang"),
          concat(lit("fresh-"), col("doc_id")).as("text"),
          (lit(100L) + col("doc_id") % 350).as("n_chars"))
        Snapshots.commitAppend(s, src, nearDups.unionByName(fresh))
        val checks = Seq(
          Expectations.Check("lang_latin",
            col("lang").isin("en", "de", "fr", "es")),
          Expectations.Check("len_band", col("n_chars").between(100L, 400L)))
        def step() = IncrementalPipeline.curateStep(s, src, 1,
          Snapshots.read(s, src, Some(1)), "doc_id", "text", checks,
          dst, token = "ingest-v2", quarantineTable = Some(qt))
        require(step().isDefined, "first curation step must commit")
        require(step().isEmpty, "replayed curation step must be a no-op")
      }
      Snapshots.read(s, root + "/dst").groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
    }),

    // THE ACCRETING FLAVOR: the standing dedup index lives as its own
    // snapshot table and each step appends its ACCEPTED rows'
    // signatures (same token, exactly-once), so step 2's near-dups of
    // step 1's accepted rows are caught — the cross-batch leak the
    // fixed-index q_incr_pipeline lets through by design. Batch 1 =
    // q_incr_pipeline's shape with multi-token fresh texts ("fresh doc
    // <id> alpha beta gamma delta"); batch 2 plants a last-word-dropped
    // near-dup of EVERY fresh row at +100000 with an always-clean gate
    // profile: a dup whose target was ACCEPTED must drop (caught only
    // via accretion), one whose target was QUARANTINED must land (the
    // target never entered the corpus). Both steps replay under their
    // tokens — dest, quarantine AND index must all no-op. The oracle
    // replays the md5 band algebra once over corpus ∪ batch1 ∪ batch2
    // and applies the two-step membership logic.
    "q_incr_pipeline_accrete" -> ((s, dir) => {
      val root = materializedDir("incraccrete", dir) { path =>
        val src = path + "/src"
        val dst = path + "/dst"
        val qt = path + "/qt"
        val ix = path + "/ix"
        val d = docs(s, dir).select(col("doc_id"), col("lang"), col("text"),
          col("n_chars"))
        Snapshots.commitOverwrite(s, src, d)
        IncrementalPipeline.initDedupIndex(s, ix, d, "doc_id", "text")
        val (batch1, batch2, checks) = accreteFixture(d)
        Snapshots.commitAppend(s, src, batch1)                        // v2
        def step1() = IncrementalPipeline.curateStepAccreting(s, src, 1, ix,
          "doc_id", "text", checks, dst, token = "s1",
          quarantineTable = Some(qt), toVersion = Some(2))
        require(step1().isDefined, "accreting step 1 must commit")
        require(step1().isEmpty, "replayed accreting step 1 must be a no-op")
        Snapshots.commitAppend(s, src, batch2)                        // v3
        def step2() = IncrementalPipeline.curateStepAccreting(s, src, 2, ix,
          "doc_id", "text", checks, dst, token = "s2",
          quarantineTable = Some(qt))
        require(step2().isDefined, "accreting step 2 must commit")
        require(step2().isEmpty, "replayed accreting step 2 must be a no-op")
      }
      Snapshots.read(s, root + "/dst").groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
    }),

    // THE CONSUMER-DRIVEN FLAVOR: the SAME two-batch accreting curation,
    // but nobody passes version numbers — a registered changelog
    // consumer's ticks drive the pipeline, handing each tick's delta
    // and generation token straight to curateBatchAccreting (whose
    // three commits are token-idempotent, exactly the callback contract
    // consumeChanges' recovery requires). After each tick the WORST
    // crash is simulated (offset commit deleted) and the re-tick must
    // recover the same window + token into three sink no-ops. Same
    // batches, same dedup/gate algebra as q_incr_pipeline_accrete —
    // same oracle verbatim.
    "q_incr_pipeline_consumer" -> ((s, dir) => {
      val root = materializedDir("incrconsumer", dir) { path =>
        val src = path + "/src"
        val dst = path + "/dst"
        val qt = path + "/qt"
        val ix = path + "/ix"
        val d = docs(s, dir).select(col("doc_id"), col("lang"), col("text"),
          col("n_chars"))
        Snapshots.commitOverwrite(s, src, d)
        IncrementalPipeline.initDedupIndex(s, ix, d, "doc_id", "text")
        Snapshots.registerConsumer(s, src, "curator", startVersion = 1)
        val (batch1, batch2, checks) = accreteFixture(d)
        def tick() = Snapshots.consumeChanges(s, src, "curator")((delta, token) => {
          IncrementalPipeline.curateBatchAccreting(s, delta, ix,
            "doc_id", "text", checks, dst, token, quarantineTable = Some(qt))
          ()
        })
        def crashAndRetick(gen: Int): Unit = {
          java.nio.file.Files.delete(java.nio.file.Paths.get(src,
            "_consumers", "curator", f"o$gen%08d.txt"))
          java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(src,
            "_consumers", "curator", f".o$gen%08d.txt.crc"))
          require(tick().contains(gen), s"recovery tick g$gen must recommit")
        }
        Snapshots.commitAppend(s, src, batch1)                        // v2
        require(tick().contains(2), "tick 1 consumes batch 1")
        crashAndRetick(2)
        Snapshots.commitAppend(s, src, batch2)                        // v3
        require(tick().contains(3), "tick 2 consumes batch 2")
        crashAndRetick(3)
        require(tick().isEmpty, "caught up")
        require(Snapshots.versions(s, dst).size == 2,
          "exactly one destination generation per tick despite recoveries")
      }
      Snapshots.read(s, root + "/dst").groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
    }),

    // THE STREAMING FLAVOR of the curation pipeline: the SAME ingest
    // batch as q_incr_pipeline arrives as three mtime-ordered
    // micro-batch files, each trigger running curateBatch — the
    // standing index pre-signatured ONCE before the stream starts, the
    // batch's bands broadcast in, gate per-row, and commitAppendOnce
    // under token b<batchId> with an in-trigger replay that must no-op.
    // Batch-vs-index matching has no batch-vs-batch interaction and the
    // gate is per-row, so the streamed union must equal the one-shot
    // q_incr_pipeline result EXACTLY — same oracle; the destination
    // lands exactly 3 committed generations (one per trigger), and a
    // duplicated or dropped trigger breaks the per-lang hash.
    "q_stream_incr_pipeline" -> ((s, dir) => {
      val runner = graft.streaming.StreamRunner
      val d = docs(s, dir).select(col("doc_id"), col("lang"), col("text"),
        col("n_chars"))
      val srcDir = materializedDir("streamincrsrc", dir) { inPath =>
        val nearDups = d.filter(col("doc_id") < 20).select(
          (col("doc_id") + 100000L).as("doc_id"), col("lang"),
          regexp_replace(col("text"), "\\s+\\S+$", "").as("text"),
          col("n_chars"))
        val fresh = d.filter(col("doc_id") % 97 === 3).select(
          (col("doc_id") + 200000L).as("doc_id"),
          when(col("doc_id") % 2 === 0, col("lang")).otherwise(lit("zz"))
            .as("lang"),
          concat(lit("fresh-"), col("doc_id")).as("text"),
          (lit(100L) + col("doc_id") % 350).as("n_chars"))
        val batchAll = nearDups.unionByName(fresh)
        val base = new java.io.File(inPath)
        base.mkdirs()
        val t0 = System.currentTimeMillis() - 600000L
        (0 until 3).foreach { j =>
          dumpBatchFile(base, batchAll.filter(col("doc_id") % 3 === j),
            s"b$j", t0 + j * 60000L)
        }
      }
      val root = materializedDir("streamincr", dir) { outPath =>
        val dst = outPath + "/dst"
        val qt = outPath + "/qt"
        val checks = Seq(
          Expectations.Check("lang_latin",
            col("lang").isin("en", "de", "fr", "es")),
          Expectations.Check("len_band", col("n_chars").between(100L, 400L)))
        val tracker = new graft.operators.CacheTracker
        val idx = Dedup.prepareDedupIndex(d, "doc_id", "text",
          shingleSize = 3, numHashes = 8, tracker = tracker)
        val src = runner.fileSource(s, srcDir, StructType(Seq(
          StructField("doc_id", LongType), StructField("lang", StringType),
          StructField("text", StringType), StructField("n_chars", LongType))),
          maxFilesPerTrigger = Some(1))
        runner.foreachBatchSink(src, (batch, batchId) => {
          def run() = IncrementalPipeline.curateBatch(s, batch, idx,
            "doc_id", "text", checks, dst, token = s"b$batchId",
            quarantineTable = Some(qt))
          require(run().isDefined, s"batch $batchId must commit")
          require(run().isEmpty, s"batch $batchId replay must be a no-op")
        }, trigger = Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()))
          .awaitTermination()
        tracker.release()
        require(Snapshots.versions(s, dst).size == 3,
          "exactly one destination generation per trigger")
      }
      Snapshots.read(s, root + "/dst").groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
    }),

    // INCREMENTAL READ off the snapshot manifests: the delta between
    // two versions is the manifest file-set difference — "process only
    // what landed since the version I last consumed", with cost
    // proportional to the DELTA and no per-row CDC columns. v1 = the
    // %3=0 base, v2/v3 append the other two slices; the delta 1→3 must
    // be exactly the two appended slices — a base row leaking in, an
    // appended file missed, or version misresolution all break the
    // per-lang hash.
    "q_snapshot_incr" -> ((s, dir) => {
      val root = materializedDir("snapincr", dir) { path =>
        val d = docs(s, dir).select(col("doc_id"), col("lang"))
        val t = path + "/t"
        Snapshots.commitOverwrite(s, t, d.filter(col("doc_id") % 3 === 0))
        Snapshots.commitAppend(s, t, d.filter(col("doc_id") % 3 === 1))
        Snapshots.commitAppend(s, t, d.filter(col("doc_id") % 3 === 2))
      }
      Snapshots.readChangesBetween(s, root + "/t", 1, Some(3))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
    }),

    // STREAMING INGESTION INTO THE SNAPSHOT TABLE FORMAT: three
    // mtime-ordered micro-batches land as three exactly-once manifest
    // commits (token = batch id), and each trigger ALSO replays its own
    // token immediately — the no-op path a crashed-and-retried sink
    // takes. The final snapshot must equal the staged corpus exactly
    // once: a duplicated batch doubles a lang's counts, a dropped one
    // zeroes them, and a torn commit can't exist (readers resolve
    // manifests only). The DuckDB oracle is the plain per-lang
    // aggregate over `documents`.
    "q_stream_snapshot" -> ((s, dir) => {
      val runner = graft.streaming.StreamRunner
      val d = docs(s, dir).select(col("doc_id"), col("lang"))
      val srcDir = materializedDir("streamsnapsrc", dir) { inPath =>
        val base = new java.io.File(inPath)
        base.mkdirs()
        val t0 = System.currentTimeMillis() - 600000L
        (0 until 3).foreach { j =>
          dumpBatchFile(base, d.filter(col("doc_id") % 3 === j),
            s"b$j", t0 + j * 60000L)
        }
      }
      val root = materializedDir("streamsnap", dir) { outPath =>
        val t = outPath + "/t"
        val src = runner.fileSource(s, srcDir, StructType(Seq(
          StructField("doc_id", LongType), StructField("lang", StringType))),
          maxFilesPerTrigger = Some(1))
        runner.foreachBatchSink(src, (batch, batchId) => {
          val first = Snapshots.commitAppendOnce(s, t, batch, s"batch-$batchId")
          require(first.isDefined, s"batch $batchId double-committed")
          val replay = Snapshots.commitAppendOnce(s, t, batch, s"batch-$batchId")
          require(replay.isEmpty, s"batch $batchId replay was not a no-op")
        }, trigger = Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()))
          .awaitTermination()
      }
      Snapshots.read(s, root + "/t").groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
    }),

    // STREAMING MEDIA INGESTION against a standing perceptual-hash index —
    // the multimodal composition of q_stream_dedup's shape (VERDICT r8
    // task 8): the 200 base pattern images AND the 200 base pattern clips
    // are decoded ONCE into a standing chunk-blocked hash index
    // (prepareHashIndex, persisted, modality in the blocking key); the 40
    // planted twins (20 image + 20 audio, raw BYTES in the files — the
    // real ingestion payload shape) arrive as three mtime-ordered
    // micro-batches, and each trigger decodes ONLY its batch, hashes it,
    // and broadcasts its chunk rows into the index
    // (hashDedupAgainstPreparedIndex) — the index never reshuffles and
    // payload bytes never shuffle at all. Batch-vs-index matching has no
    // batch-vs-batch interaction, so the appended union must equal the
    // one-shot oracle (closed-form hash rebuild, Hamming ≤ 3) exactly;
    // n_appends is the exactly-once witness, as in q_stream_dedup.
    "q_stream_media_dedup" -> ((s, dir) => {
      val runner = graft.streaming.StreamRunner
      val d = docs(s, dir)
      def parts(idLt: Long, shift: Long, varFlag: Int) = d
        .filter(col("doc_id") < idLt)
        .select((col("doc_id") + shift).as("doc_id"),
          col("doc_id").as("__pat"), lit(varFlag).as("__var"))
      def mediaHashes(df: DataFrame): DataFrame =
        Multimodal.imageAHashes(
          Multimodal.attachPatternImages(df, "doc_id", "__pat", "__var", 32, 16),
          "doc_id")
          .select(lit("img").as("modality"), col("doc_id"), col("ahash").as("mhash"))
          .union(Multimodal.audioHashes(
            Multimodal.attachPatternAudio(df, "doc_id", "__pat", "__var",
              samplesPerFrame = 25), "doc_id")
            .select(lit("aud").as("modality"), col("doc_id"),
              col("audiohash").as("mhash")))
      // stage the twin payloads BEFORE the sink builder (no nested
      // materializedDir — see its scaladoc): three files of raw bytes
      val srcDir = materializedDir("streammediasrc", dir) { inPath =>
        val twins = parts(20, 500000, 1)
        val payload = Multimodal
          .attachPatternImages(twins, "doc_id", "__pat", "__var", 32, 16)
          .select(lit("img").as("modality"), col("doc_id"),
            col("media.bytes").as("bytes"))
          .union(Multimodal.attachPatternAudio(twins, "doc_id", "__pat", "__var",
            samplesPerFrame = 25)
            .select(lit("aud").as("modality"), col("doc_id"),
              col("media.bytes").as("bytes")))
        val base = new java.io.File(inPath)
        base.mkdirs()
        val t0 = System.currentTimeMillis() - 600000L
        (0 until 3).foreach { j =>
          dumpBatchFile(base,
            payload.filter((col("doc_id") - 500000) % 3 === j),
            s"b$j", t0 + j * 60000L)
        }
      }
      val out = materializedDir("streammedia", dir) { outPath =>
        val tracker = new graft.operators.CacheTracker
        val idx = Dedup.prepareHashIndex(mediaHashes(parts(200, 0, 0)),
          "doc_id", "mhash", extra = Seq("modality"), tracker = tracker)
        val src = runner.fileSource(s, srcDir, StructType(Seq(
          StructField("modality", StringType), StructField("doc_id", LongType),
          StructField("bytes", BinaryType))), maxFilesPerTrigger = Some(1))
        runner.foreachBatchSink(src, (batch, _) => {
          // decode ONLY the arriving bytes; imageAHashes/audioHashes read
          // media.bytes, so wrap the payload column in a 1-field struct
          val m = batch.withColumn("media", struct(col("bytes").as("bytes")))
          val bh = Multimodal.imageAHashes(m.filter(col("modality") === "img"), "doc_id")
            .select(lit("img").as("modality"), col("doc_id"), col("ahash").as("mhash"))
            .union(Multimodal.audioHashes(m.filter(col("modality") === "aud"), "doc_id")
              .select(lit("aud").as("modality"), col("doc_id"),
                col("audiohash").as("mhash")))
          Dedup.hashDedupAgainstPreparedIndex(idx, bh, "doc_id", "mhash",
            extra = Seq("modality"), maxHamming = 3)
            .write.mode("append").parquet(outPath)
        }, trigger = Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()))
          .awaitTermination()
        tracker.release()
      }
      Tables.readCached(s, out).groupBy("modality", "doc_id")
        .agg(min(col("dup_of")).as("dup_of"), count(lit(1)).as("n_appends"))
    }))

  /** The CDC fixture shared by q_merge_cdc / q_merge_on_read: the
    * documents snapshot plus a change batch with three competing
    * updates per %7 key (seq 3 wins), later deletes for %5 keys, and
    * inserts at +10M for %11 keys. One construction, one oracle — the
    * storage-backed merge must match the logical one bit-for-bit.
    */
  private def cdcDocsAndChanges(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    val upd = d.filter(col("doc_id") % 7 === 0)
      .withColumn("s", explode(array(lit(1L), lit(2L), lit(3L))))
      .select(col("doc_id"),
        concat(lit("u"), col("s")).as("lang"), col("source"),
        (col("n_chars") + col("s")).as("n_chars"),
        col("s").as("seq"), lit("u").as("op"))
    val del = d.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        lit(4L).as("seq"), lit("d").as("op"))
    val ins = d.filter(col("doc_id") % 11 === 0)
      .select((col("doc_id") + 10000000L).as("doc_id"),
        lit("new").as("lang"), col("source"), col("n_chars"),
        lit(1L).as("seq"), lit("u").as("op"))
    (d, upd.unionByName(del).unionByName(ins))
  }

  /** Pattern-image aHash set shared by the two perceptual-hash queries:
    * 200 base pattern images (near-independent hashes by the per-cell
    * Knuth mix) + 20 planted variant-1 twins (+500000: the same pattern
    * with two seed-chosen cells reflected — a few Hamming bits away). */
  private def ahashed(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val base = d.filter(col("doc_id") < 200)
      .select(col("doc_id"), col("doc_id").as("__pat"), lit(0).as("__var"))
    val twins = d.filter(col("doc_id") < 20)
      .select((col("doc_id") + 500000).as("doc_id"),
        col("doc_id").as("__pat"), lit(1).as("__var"))
    Multimodal.imageAHashes(
      Multimodal.attachPatternImages(base.union(twins), "doc_id", "__pat", "__var",
        32, 16),
      "doc_id")
  }

  private def ahashChunks(s: SparkSession, dir: String): DataFrame =
    ahashed(s, dir).select(col("doc_id") +: (0 until 4).map(k =>
      shiftrightunsigned(col("ahash"), k * 16).bitwiseAND(0xFFFFL)
        .cast("long").as(s"c$k")): _*)

  /** Pattern-clip audio-hash set shared by the two perceptual-audio
    * queries — the audio mirror of [[ahashed]]: 200 base pattern clips +
    * 20 planted variant-1 twins (+500000: same pattern, two seed-chosen
    * frames energy-reflected). 25 samples/frame → 1600-sample clips. */
  private def audioHashed(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val base = d.filter(col("doc_id") < 200)
      .select(col("doc_id"), col("doc_id").as("__pat"), lit(0).as("__var"))
    val twins = d.filter(col("doc_id") < 20)
      .select((col("doc_id") + 500000).as("doc_id"),
        col("doc_id").as("__pat"), lit(1).as("__var"))
    Multimodal.audioHashes(
      Multimodal.attachPatternAudio(base.union(twins), "doc_id", "__pat", "__var",
        samplesPerFrame = 25),
      "doc_id")
  }

  private def audioHashChunks(s: SparkSession, dir: String): DataFrame =
    audioHashed(s, dir).select(col("doc_id") +: (0 until 4).map(k =>
      shiftrightunsigned(col("audiohash"), k * 16).bitwiseAND(0xFFFFL)
        .cast("long").as(s"c$k")): _*)

  // ------------------------------------------------------------ oracles

  private val normSql =
    "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"

  /** DuckDB mirror of TextAnalysis.linearQualityScore with the
    * q_quality_score weights, over the normalized-text alias `n` —
    * shared by the q_quality_score and q_token_budget oracles.
    */
  private val qScoreSql =
    "2 * len(string_split(n, ' '))::BIGINT " +
      "+ floor(length(replace(n, ' ', '')) * 100.0 / len(string_split(n, ' ')))::BIGINT " +
      "- 5 * (length(n) - length(translate(n, '.,!?;:', '')))::BIGINT " +
      "- 10 * (length(n) - length(translate(n, '0123456789', '')))::BIGINT"

  /** DuckDB mirror of [[adjacentDupComponents]] — CTE chain `t/e/sym/cc`
    * shared by the q_dedup_groups and q_leakage_split oracles (a label
    * hop per recursion step; min(comp) per id resolves the component).
    * Callers prepend `WITH RECURSIVE ` and append their SELECT.
    */
  private val ccCtes =
    s"t AS (SELECT doc_id, list_distinct(string_split($normSql, ' ')) AS ts FROM documents), " +
      "e AS (SELECT a.doc_id AS a, b.doc_id AS b FROM t a JOIN t b ON b.doc_id = a.doc_id + 1 " +
      "WHERE len(list_intersect(a.ts, b.ts)) * 2 >= len(list_distinct(a.ts || b.ts))), " +
      "sym AS (SELECT a, b FROM e UNION SELECT b, a FROM e), " +
      "cc(id, comp) AS (" +
      "SELECT DISTINCT a, a FROM sym " +
      "UNION " +
      "SELECT s.b, c.comp FROM cc c JOIN sym s ON s.a = c.id WHERE c.comp < s.b)"

  /** The language-ID argmax as a SQL CASE over a space-padded normalized
    * column named `pad` — shared by the standalone and the one-scan
    * bundled oracle.
    */
  private def langCaseSql: String = {
    def cnt(m: String) =
      s"((length(pad) - length(replace(pad, ' $m ', ''))) / ${m.length + 2})"
    val scores = TextAnalysis.langMarkers.map { case (l, ms) =>
      l -> ms.map(cnt).mkString("(", " + ", ")")
    }
    val best = "greatest(" + scores.map(_._2).mkString(", ") + ")"
    val cases = scores.map { case (l, e) =>
      s"WHEN $e = $best AND $e > 0 THEN '$l'"
    }.mkString(" ")
    s"(CASE $cases ELSE 'und' END)"
  }

  private def langIdSql: String =
    s"SELECT doc_id, $langCaseSql AS lang_pred FROM " +
      s"(SELECT doc_id, ' ' || $normSql || ' ' AS pad FROM documents)"

  /** One-scan mirror of TextAnalysis.analyze: every text feature from a
    * single pass over a shared normalized projection.
    */
  private def analyzeAllSql: String =
    s"SELECT doc_id, $langCaseSql AS lang_pred, md5(lower(n)) AS fp, " +
      "len(regexp_extract_all(text, '\\w+|[^\\w\\s]'))::BIGINT AS n_tokens_bpe, " +
      "length(n)::BIGINT AS n_chars_norm, " +
      "len(string_split(n, ' '))::BIGINT AS n_tokens, " +
      "(length(n) - length(translate(n, '.,!?;:', '')))::BIGINT AS punct_cnt, " +
      "(length(n) - length(translate(n, '0123456789', '')))::BIGINT AS digit_cnt, " +
      "floor(length(replace(n, ' ', '')) * 100.0 / len(string_split(n, ' ')))::BIGINT AS mean_tok_len_x100 " +
      // pad reuses n (lower(n) ≡ the shared normSql) — one regex per row
      "FROM (SELECT doc_id, text, n, ' ' || lower(n) || ' ' AS pad FROM " +
      "(SELECT doc_id, text, trim(regexp_replace(text, '\\s+', ' ', 'g')) AS n FROM documents))"

  private def minhashSql: String = {
    // mirror of Dedup.minhashSignatureMd5: one md5 per shingle, lane i =
    // min over the digest's i-th disjoint 4-hex-char slice
    val mh = (0 until 8).map(i =>
      s"list_min(list_transform(ds, d -> substr(d, ${i * 4 + 1}, 4))) AS mh$i")
      .mkString(", ")
    s"""SELECT doc_id, $mh FROM (
       |  SELECT doc_id, list_transform(sh, x -> md5(x)) AS ds FROM (
       |  SELECT doc_id, CASE WHEN len(toks) >= 3
       |    THEN list_distinct(list_transform(range(0, len(toks) - 2),
       |         i -> array_to_string(list_slice(toks, i + 1, i + 3), ' ')))
       |    ELSE [array_to_string(toks, ' ')] END AS sh FROM (
       |    SELECT doc_id, string_split($normSql, ' ') AS toks FROM documents)))""".stripMargin
  }

  /** Mirror of Dedup.simhashMd5 over the relation `src`: 64 bit-votes
    * from md5(token) nibbles, rendered as a 16-hex-char signature.
    */
  private def simhashOverSql(src: String): String = {
    def asciiNib(h: Int) = {
      val a = s"ascii(substr(dg, ${h + 1}, 1))"
      s"(CASE WHEN $a >= 97 THEN $a - 87 ELSE $a - 48 END) AS n$h"
    }
    val nibs = (0 until 16).map(asciiNib).mkString(", ")
    val votes = (0 until 64).map(j =>
      s"sum(CASE WHEN ((n${j / 4} >> ${j % 4}) & 1) = 1 THEN 1 ELSE -1 END) AS v$j")
      .mkString(", ")
    val chars = (0 until 16).map { h =>
      val nibVal = (0 until 4).map(b =>
        s"(CASE WHEN v${4 * h + b} > 0 THEN ${1 << b} ELSE 0 END)").mkString(" + ")
      s"substr('0123456789abcdef', ($nibVal) + 1, 1)"
    }.mkString(", ")
    s"""SELECT doc_id, concat($chars) AS simhash_hex FROM (
       |  SELECT doc_id, $votes FROM (
       |    SELECT doc_id, $nibs FROM (
       |      SELECT doc_id, substr(md5(t), 1, 16) AS dg FROM (
       |        SELECT doc_id, unnest(string_split($normSql, ' ')) AS t
       |        FROM $src)))
       |  GROUP BY doc_id)""".stripMargin
  }

  private def simhashSql: String = simhashOverSql("documents")

  private def simhashPairsSql: String = {
    // mirror of dedup_simhash_pairs_md5: signature over documents ∪ exact
    // copies, hex → 4×16-bit ints, chunk-equality blocking — a pair
    // within Hamming distance 3 must agree on ≥1 of 4 chunks — then a
    // 4-term integer xor/bit_count Hamming verification
    val toInts = (0 until 4).map(c =>
      s"('0x' || substr(simhash_hex, ${c * 4 + 1}, 4))::BIGINT AS c$c")
      .mkString(", ")
    val ham = (0 until 4).map(c => s"bit_count(xor(a$c, b$c))").mkString(" + ")
    val xs = (0 until 4).map(c => s"x.c$c AS a$c").mkString(", ")
    val ys = (0 until 4).map(c => s"y.c$c AS b$c").mkString(", ")
    s"""WITH dup_docs AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 200000, text FROM documents WHERE doc_id < 15),
       |sig AS (${simhashOverSql("dup_docs")}),
       |si AS (SELECT doc_id, $toInts FROM sig),
       |ch AS (SELECT doc_id, c0, c1, c2, c3, unnest([0, 1, 2, 3]) AS chunk,
       |  unnest([c0, c1, c2, c3]) AS cv FROM si),
       |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b, $xs, $ys
       |  FROM ch x JOIN ch y
       |    ON x.chunk = y.chunk AND x.cv = y.cv AND x.doc_id < y.doc_id)
       |SELECT id_a, id_b FROM cand WHERE $ham <= 3""".stripMargin
  }

  /** CTE chain of the dedup_pairs_md5 mirror (documents ∪ planted →
    * shingle sets → md5-lane signatures → bands → verified pairs `pr`),
    * shared by [[pairsMd5Sql]] and [[e2eMd5Sql]].
    */
  private def pairsMd5Ctes: String = pairsMd5CtesOver(
    s"""  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 100000 AS doc_id,
       |         regexp_replace(text, '\\s+\\S+$$', '') AS text
       |  FROM documents WHERE doc_id < 20""".stripMargin)

  /** [[pairsMd5Ctes]] generalized over the corpus body: the same
    * shingle → md5-lane signature → band → verified-pair chain, with
    * `all_docs` defined by the caller — the accreting-pipeline oracle
    * runs it over corpus ∪ batch1 ∪ batch2 in ONE pass (band collision
    * and verify are per-PAIR properties, so one unioned run equals
    * per-step pairings exactly).
    */
  private def pairsMd5CtesOver(allDocsBody: String): String = {
    val mh = (0 until 8).map(i =>
      s"list_min(list_transform(ds, d -> substr(d, ${i * 4 + 1}, 4))) AS mh$i")
      .mkString(", ")
    // band index baked into the value string ('0'||lanes): joining on the
    // combined string equals joining on (band, value) without needing an
    // unnest ordinal
    val bandArr = (0 until 4).map(b => s"'$b' || mh${2 * b} || mh${2 * b + 1}").mkString(", ")
    s"""all_docs AS (
       |$allDocsBody),
       |sh AS (
       |  SELECT doc_id, CASE WHEN len(toks) >= 3
       |    THEN list_distinct(list_transform(range(0, len(toks) - 2),
       |         i -> array_to_string(list_slice(toks, i + 1, i + 3), ' ')))
       |    ELSE [array_to_string(toks, ' ')] END AS sh FROM (
       |    SELECT doc_id, string_split($normSql, ' ') AS toks FROM all_docs)),
       |sig AS (
       |  SELECT doc_id, $mh FROM (
       |    SELECT doc_id, list_transform(sh, x -> md5(x)) AS ds FROM sh)),
       |banded AS (
       |  SELECT doc_id, unnest(bands) AS bv
       |  FROM (SELECT doc_id, [$bandArr] AS bands FROM sig)),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
       |  FROM banded x JOIN banded y
       |    ON x.bv = y.bv AND x.doc_id < y.doc_id),
       |cj AS (
       |  SELECT c.id_a, c.id_b,
       |    CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) * 1000 //
       |      CAST(len(list_distinct(a.sh || b.sh)) AS BIGINT) AS j
       |  FROM cand c
       |  JOIN sh a ON a.doc_id = c.id_a
       |  JOIN sh b ON b.doc_id = c.id_b),
       |pr AS (
       |  SELECT id_a, id_b FROM cj WHERE j >= 500)""".stripMargin
  }

  private def pairsMd5Sql: String =
    s"WITH $pairsMd5Ctes\nSELECT id_a, id_b FROM pr"

  private def prSweepSql: String =
    // floor(1000·i/u) >= 500 ⇔ 2·i >= u, so `pr` is byte-identical to
    // the pre-sweep verify; the sweep aggregates the unfiltered cj
    s"""WITH $pairsMd5Ctes
       |SELECT thr, n_pairs, n_true,
       |  (n_true * 1000000) // greatest(1, n_pairs) AS prec_1e6,
       |  (n_true * 1000000) // 20 AS rec_1e6
       |FROM (
       |  SELECT t.thr AS thr, CAST(count(*) AS BIGINT) AS n_pairs,
       |    CAST(coalesce(sum(CASE WHEN id_b - id_a = 100000 AND id_a < 20
       |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_true
       |  FROM cj CROSS JOIN
       |    (SELECT unnest([300, 400, 500, 600, 700, 800, 900]) AS thr) t
       |  WHERE j >= t.thr GROUP BY t.thr)""".stripMargin

  /** Symmetric closure + min-label recursion + per-id label resolve —
    * the component spine shared by [[e2eMd5Sql]] and [[qualityRepSql]]
    * (callers prepend `WITH RECURSIVE $pairsMd5Ctes,`).
    */
  private val ccOverPrCtes: String =
    s"""sym AS (SELECT id_a AS a, id_b AS b FROM pr
       |        UNION SELECT id_b, id_a FROM pr),
       |cc(id, comp) AS (
       |  SELECT DISTINCT a, a FROM sym
       |  UNION
       |  SELECT s.b, c.comp FROM cc c JOIN sym s ON s.a = c.id WHERE c.comp < s.b),
       |lab AS (SELECT id, min(comp) AS component FROM cc GROUP BY id)""".stripMargin

  private def e2eMd5Sql: String =
    // pairs → symmetric edge closure → min-label propagation (the same
    // recursive-CTE component oracle as q_dedup_groups) → drop every
    // member whose id is not its group's min — the literal mirror of
    // Components.keepRepresentatives over connectedComponents.
    s"""WITH RECURSIVE $pairsMd5Ctes,
       |$ccOverPrCtes
       |SELECT doc_id FROM all_docs
       |WHERE doc_id NOT IN (SELECT id FROM lab WHERE id <> component)""".stripMargin

  private def qualityRepSql: String =
    // same pairs → CC spine, then per family keep the best-scoring
    // member (score DESC, doc_id ASC) — the literal mirror of
    // Components.keepBestRepresentatives' max_by(struct(score, -id)).
    s"""WITH RECURSIVE $pairsMd5Ctes,
       |$ccOverPrCtes,
       |scored AS (SELECT doc_id, $qScoreSql AS q_score
       |  FROM (SELECT doc_id, $normSql AS n FROM all_docs)),
       |mem AS (SELECT s.doc_id, coalesce(l.component, s.doc_id) AS family,
       |  s.q_score FROM scored s LEFT JOIN lab l ON l.id = s.doc_id)
       |SELECT doc_id, family, q_score FROM (
       |  SELECT *, row_number() OVER (PARTITION BY family
       |    ORDER BY q_score DESC, doc_id) AS rn FROM mem) WHERE rn = 1""".stripMargin

  private def annLshSql: String = {
    // mirror of Similarity.lshTopK(k = 5, numPlanes = 6, seed = 42): the
    // hyperplanes are deterministic driver-side arrays, so they embed as
    // double literals (Double.toString round-trips exactly) and DuckDB
    // computes the same sign-bit buckets. Both engines take the dot
    // product as a sequential left-to-right double sum in element order,
    // so the sign comparison sees the same value; dim = 64, the
    // embeddings table's fixed width at every SF.
    val planes = Similarity.hyperplanes(numPlanes = 6, dim = 64, seed = 42L)
    def dotSql(p: Array[Double]) = {
      val arr = p.map(_.toString).mkString("[", ", ", "]")
      s"list_sum(list_transform(range(1, 65), i -> embedding[i]::DOUBLE * ($arr)[i]))"
    }
    val bucket = planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN ${dotSql(p)} >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH b AS (SELECT vec_id, embedding, $bucket AS bucket FROM embeddings)
       |SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |CAST(row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
       |c.vec_id) AS INT) AS rank
       |FROM b c JOIN b q ON c.bucket = q.bucket AND q.vec_id < 8
       |QUALIFY rank <= 5""".stripMargin
  }

  private def annIvfFixedSql: String = {
    // mirror of Similarity.ivfTopKWith(k = 5, nprobe = 3) over
    // fixedCentroids(nlist = 8, dim = 64, seed = 7): centroids embed as
    // double literals (Double.toString round-trips exactly). Cell = FIRST
    // index of the minimum squared-L2 distance — list_position finds the
    // first occurrence of list_min, matching ivfCellCol's lowest-index
    // tie-break; both engines sum the squared diffs sequentially in
    // element order. Probe list = the 3 lexicographically-least (d, cell)
    // per query, matching ivfProbeCellsCol's array_sort on (d, cell)
    // structs.
    val cents = Similarity.fixedCentroids(nlist = 8, dim = 64, seed = 7L)
    def distSql(cArr: Array[Double]) = {
      val arr = cArr.map(_.toString).mkString("[", ", ", "]")
      s"list_sum(list_transform(range(1, 65), i -> " +
        s"(embedding[i]::DOUBLE - ($arr)[i]) * (embedding[i]::DOUBLE - ($arr)[i])))"
    }
    val dl = cents.map(distSql).mkString("[", ",\n", "]")
    s"""WITH d AS (SELECT vec_id, embedding, $dl AS dl FROM embeddings),
       |cells AS (SELECT vec_id, embedding,
       |  list_position(dl, list_min(dl)) - 1 AS cell FROM d),
       |probes AS (SELECT query_id, qv, cell FROM (
       |  SELECT vec_id AS query_id, embedding AS qv,
       |         unnest(dl) AS pd, unnest(range(0, 8)) AS cell
       |  FROM d WHERE vec_id < 8)
       |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY pd, cell) <= 3)
       |SELECT p.query_id, c.vec_id AS neighbor_id,
       |CAST(row_number() OVER (PARTITION BY p.query_id ORDER BY
       |list_cosine_similarity(p.qv::DOUBLE[], c.embedding::DOUBLE[]) DESC,
       |c.vec_id) AS INT) AS rank
       |FROM probes p JOIN cells c ON c.cell = p.cell
       |QUALIFY rank <= 5""".stripMargin
  }

  /** Per-row subspace distance tables as a DuckDB list-of-lists literal
    * expression: mirror of [[Similarity.pqDistTableCol]] (m rows of ksub
    * squared-L2 distances, codebooks embedded as double literals —
    * Double.toString round-trips exactly; both engines sum the `dim/m`
    * squared diffs sequentially in element order).
    */
  private def pqDlsSql(cbs: Array[Array[Array[Double]]]): String = {
    val ds = cbs.head.head.length
    cbs.zipWithIndex.map { case (cb, j) =>
      cb.map { cw =>
        val arr = cw.map(_.toString).mkString("[", ", ", "]")
        s"list_sum(list_transform(range(1, ${ds + 1}), i -> " +
          s"(embedding[${j * ds} + i]::DOUBLE - ($arr)[i]) * " +
          s"(embedding[${j * ds} + i]::DOUBLE - ($arr)[i])))"
      }.mkString("[", ",\n", "]")
    }.mkString("[", ",\n", "]")
  }

  private def annPqFixedSql: String = {
    // mirror of Similarity.pqTopKWith(k = 5) over pqFixedCodebooks(m = 8,
    // ksub = 16, dim = 64, seed = 11): code = FIRST index of each
    // subspace row's minimum (list_position ↔ array_position, same
    // lowest-index tie-break), ADC = the explicit left-associated 8-term
    // lookup sum, matching pqAdcDist's reduce(_ + _).
    val cbs = Similarity.pqFixedCodebooks(m = 8, ksub = 16, dim = 64, seed = 11L)
    val adc = (1 to 8).map(j => s"l.lut[$j][c.code[$j] + 1]").mkString(" + ")
    s"""WITH d AS (SELECT vec_id, ${pqDlsSql(cbs)} AS dls FROM embeddings),
       |codes AS (SELECT vec_id,
       |  list_transform(dls, l -> list_position(l, list_min(l)) - 1) AS code FROM d),
       |luts AS (SELECT vec_id AS query_id, dls AS lut FROM d WHERE vec_id < 8)
       |SELECT l.query_id, c.vec_id AS neighbor_id,
       |CAST(row_number() OVER (PARTITION BY l.query_id ORDER BY
       |$adc, c.vec_id) AS INT) AS rank
       |FROM luts l CROSS JOIN codes c
       |QUALIFY rank <= 5""".stripMargin
  }

  private def annPqRerankSql: String = {
    // mirror of Similarity.pqTopKReranked(k = 5, shortlist = 20) over the
    // same fixed codebooks as annPqFixedSql: the ADC shortlist CTE is
    // that query's ranking kept to 20, then exact squared-L2 (sequential
    // element-order sum over double-cast elements — SqL2Dist's algebra)
    // re-orders the shortlist only
    val cbs = Similarity.pqFixedCodebooks(m = 8, ksub = 16, dim = 64, seed = 11L)
    val adc = (1 to 8).map(j => s"l.lut[$j][c.code[$j] + 1]").mkString(" + ")
    s"""WITH d AS (SELECT vec_id, ${pqDlsSql(cbs)} AS dls FROM embeddings),
       |codes AS (SELECT vec_id,
       |  list_transform(dls, l -> list_position(l, list_min(l)) - 1) AS code FROM d),
       |luts AS (SELECT vec_id AS query_id, dls AS lut FROM d WHERE vec_id < 8),
       |shortlist AS (
       |  SELECT l.query_id, c.vec_id AS neighbor_id
       |  FROM luts l CROSS JOIN codes c
       |  QUALIFY row_number() OVER (PARTITION BY l.query_id ORDER BY
       |    $adc, c.vec_id) <= 20)
       |SELECT s.query_id, s.neighbor_id,
       |CAST(row_number() OVER (PARTITION BY s.query_id ORDER BY
       |  list_sum(list_transform(range(1, 65), i ->
       |    (cv.embedding[i]::DOUBLE - qv.embedding[i]::DOUBLE) *
       |    (cv.embedding[i]::DOUBLE - qv.embedding[i]::DOUBLE))),
       |  s.neighbor_id) AS INT) AS rank
       |FROM shortlist s
       |JOIN embeddings cv ON cv.vec_id = s.neighbor_id
       |JOIN embeddings qv ON qv.vec_id = s.query_id
       |QUALIFY rank <= 5""".stripMargin
  }

  private def annIvfPqFixedSql: String = {
    // mirror of Similarity.ivfPqTopKWith(k = 5, nprobe = 3): cells +
    // probes are annIvfFixedSql's math verbatim (fixedCentroids(8, 64,
    // 7)); candidates are the probed cells' rows, ranked by the same ADC
    // lookup sum as annPqFixedSql.
    val cents = Similarity.fixedCentroids(nlist = 8, dim = 64, seed = 7L)
    val cbs = Similarity.pqFixedCodebooks(m = 8, ksub = 16, dim = 64, seed = 11L)
    def distSql(cArr: Array[Double]) = {
      val arr = cArr.map(_.toString).mkString("[", ", ", "]")
      s"list_sum(list_transform(range(1, 65), i -> " +
        s"(embedding[i]::DOUBLE - ($arr)[i]) * (embedding[i]::DOUBLE - ($arr)[i])))"
    }
    val cdl = cents.map(distSql).mkString("[", ",\n", "]")
    val adc = (1 to 8).map(j => s"l.lut[$j][cd.code[$j] + 1]").mkString(" + ")
    s"""WITH dc AS (SELECT vec_id, $cdl AS cdl FROM embeddings),
       |cells AS (SELECT vec_id, list_position(cdl, list_min(cdl)) - 1 AS cell FROM dc),
       |probes AS (SELECT query_id, cell FROM (
       |  SELECT vec_id AS query_id, unnest(cdl) AS pd, unnest(range(0, 8)) AS cell
       |  FROM dc WHERE vec_id < 8)
       |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY pd, cell) <= 3),
       |d AS (SELECT vec_id, ${pqDlsSql(cbs)} AS dls FROM embeddings),
       |codes AS (SELECT vec_id,
       |  list_transform(dls, l -> list_position(l, list_min(l)) - 1) AS code FROM d),
       |luts AS (SELECT vec_id AS query_id, dls AS lut FROM d WHERE vec_id < 8)
       |SELECT p.query_id, cl.vec_id AS neighbor_id,
       |CAST(row_number() OVER (PARTITION BY p.query_id ORDER BY
       |$adc, cl.vec_id) AS INT) AS rank
       |FROM probes p
       |JOIN cells cl ON cl.cell = p.cell
       |JOIN codes cd ON cd.vec_id = cl.vec_id
       |JOIN luts l ON l.query_id = p.query_id
       |QUALIFY rank <= 5""".stripMargin
  }

  /** Deterministic typo corpus shared by q_fuzzy_join /
    * q_entity_resolution: (doc_id, name) with the %4-selected mutation
    * applied at position 1 + doc_id % 7, and the 97 clean entity
    * strings. Both sides re-derive in the DuckDB oracle via the same
    * arithmetic (see [[fuzzyJoinSql]]).
    */
  private def fuzzyNames(s: SparkSession, dir: String, posMod: Int,
                         doubledDigits: Boolean = false): (DataFrame, DataFrame) = {
    // doubledDigits: entity k renders its digits twice ("ent-0011"), so
    // any two DISTINCT entity bases are >= 2 edits apart — with
    // prefix-only mutations (posMod <= 4) no d=1 path can bridge
    // entities (plain "ent-001"/"ent-002" bases are distance 1 and
    // transitively merge the whole corpus)
    val d1 = expr("cast((doc_id % 97) div 10 as string)")
    val d2 = expr("cast((doc_id % 97) % 10 as string)")
    val b =
      if (doubledDigits) concat(lit("ent-"), d1, d1, d2, d2)
      else concat(lit("ent-"), lpad((col("doc_id") % 97).cast("string"), 3, "0"))
    val base = Tables.documents(s, dir).select(col("doc_id"), b.as("b"),
      (lit(1) + col("doc_id") % posMod).cast("int").as("p"),
      (col("doc_id") % 4).cast("int").as("m"))
    val lft = base.select(col("doc_id"),
      when(col("m") === 0, col("b"))
        .when(col("m") === 1,
          concat(expr("substring(b, 1, p - 1)"), expr("substring(b, p + 1)")))
        .when(col("m") === 2,
          concat(expr("substring(b, 1, p - 1)"), lit("x"),
            expr("substring(b, p + 2)")))
        .otherwise(concat(col("b"), lit("xy"))).as("name"))
    (lft, base.select(col("b").as("cname")).distinct())
  }

  /** The q_quality_gate expectations suite over `documents` — length
    * band, latin-script lang set (zh quarantines), plus two
    * everywhere-passing consistency checks (n_chars == length(text) and
    * text presence) so the oracle hash also pins NON-flagging.
    */
  private val qualityChecks: Seq[Expectations.Check] = Seq(
    Expectations.Check("len_min", col("n_chars") >= 100L),
    Expectations.Check("len_max", col("n_chars") <= 400L),
    Expectations.Check("lang_latin", col("lang").isin("en", "de", "fr", "es")),
    Expectations.Check("chars_consistent",
      col("n_chars") === length(col("text"))),
    Expectations.Check("text_present",
      col("text").isNotNull && length(col("text")) > 0))

  /** The q_scd2 oracle's timeline CTE chain (base -> versions ->
    * run-collapse -> intervals), shared with q_scd2_asof.
    */
  private val scd2TimelineCtes: String =
    """WITH base AS (SELECT doc_id AS id, lang FROM documents),
      |versions AS (
      |  SELECT id, lang, CAST(0 AS BIGINT) AS ts, 'u' AS op FROM base
      |  UNION ALL SELECT id, 'upd', 100, 'u' FROM base WHERE id % 3 = 0
      |  UNION ALL SELECT id, lang, 200, 'u' FROM base WHERE id % 5 = 0
      |  UNION ALL SELECT id, NULL, 300, 'd' FROM base WHERE id % 11 = 0
      |  UNION ALL SELECT id, 're', 400, 'u' FROM base WHERE id % 33 = 0),
      |collapsed AS (
      |  SELECT id, lang, ts, op,
      |    op || '|' || coalesce(lang, chr(1)) AS cur,
      |    lag(op || '|' || coalesce(lang, chr(1))) OVER
      |      (PARTITION BY id ORDER BY ts, op, lang NULLS FIRST) AS prev
      |  FROM versions),
      |kept AS (
      |  SELECT id, lang, ts, op FROM collapsed
      |  WHERE prev IS NULL OR prev <> cur),
      |iv AS (
      |  SELECT id, lang, op, ts AS valid_from,
      |    lead(ts) OVER (PARTITION BY id ORDER BY ts, op, lang NULLS FIRST)
      |      AS valid_to
      |  FROM kept)""".stripMargin

  /** SCD2 timeline rebuild over the documents dimension, shared by
    * q_scd2 (full history) and q_scd2_asof (point-in-time reads): every
    * doc opens at ts 0; %3 keys change lang at 100; %5 keys RE-DELIVER
    * their then-current attrs at 200 (pure no-op for %5-not-%15 keys —
    * must collapse to no new version; a real revert for %15 keys); %11
    * keys delete at 300; %33 keys re-open at 400 after their delete.
    * Full history with [valid_from, valid_to) intervals out.
    */
  /** The ts-0 bootstrap history and the change stream split at ts 200 —
    * (early = updates@100 ∪ re-deliveries@200, late = deletes@300 ∪
    * re-opens@400). q_scd2/q_scd2_asof/q_scd2_enrich apply both batches
    * at once; q_scd2_storage applies them SEQUENTIALLY with the history
    * parquet-persisted between them (same final answer — the rebuild's
    * composition law through storage).
    */
  private def scd2Parts(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val d = Tables.documents(s, dir).select(col("doc_id").as("id"), col("lang"))
    val hist = d.select(col("id"), col("lang"),
      lit(0L).as("valid_from"), lit(null).cast("long").as("valid_to"))
    val upd = d.filter(col("id") % 3 === 0)
      .select(col("id"), lit("upd").as("lang"), lit(100L).as("ts"),
        lit("u").as("op"))
    val redeliver = d.filter(col("id") % 5 === 0)
      .select(col("id"), col("lang"), lit(200L).as("ts"), lit("u").as("op"))
    val dels = d.filter(col("id") % 11 === 0)
      .select(col("id"), lit(null).cast("string").as("lang"),
        lit(300L).as("ts"), lit("d").as("op"))
    val reopen = d.filter(col("id") % 33 === 0)
      .select(col("id"), lit("re").as("lang"), lit(400L).as("ts"),
        lit("u").as("op"))
    (hist, upd.unionByName(redeliver), dels.unionByName(reopen))
  }

  private def scd2History(s: SparkSession, dir: String): DataFrame = {
    val (hist, early, late) = scd2Parts(s, dir)
    Scd2.applyHistory(hist, early.unionByName(late), Seq("id"), "ts", Some("op"))
  }

  /** Deterministic sound-alike corpus for q_phonetic_block: base names
    * 'nm' + the two digits of doc_id % 40 rendered as letters a–j,
    * mutated by doc_id % 3 — clean, consonant doubled at position
    * 1 + doc_id % 4, or an appended vowel tail "ey". Both mutations
    * preserve [[graft.operators.Phonetic.key]] (doubled letters collapse
    * in the run-collapse step; vowels carry code 0 and are removed), so
    * every variant blocks with its base name; the DuckDB oracle
    * re-derives the same names AND the same key ([[phoneticBlockSql]]).
    */
  private def phoneticNames(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val b = concat(lit("nm"),
      translate(lpad((col("doc_id") % 40).cast("string"), 2, "0"),
        "0123456789", "abcdefghij"))
    val base = Tables.documents(s, dir).select(col("doc_id"), b.as("b"),
      (lit(1) + col("doc_id") % 4).cast("int").as("p"),
      (col("doc_id") % 3).cast("int").as("m"))
    val names = base.select(col("doc_id"),
      when(col("m") === 0, col("b"))
        .when(col("m") === 1,
          concat(expr("substring(b, 1, p)"), expr("substring(b, p)")))
        .otherwise(concat(col("b"), lit("ey"))).as("name"))
    (names, base.select(col("b").as("cname")).distinct())
  }

  /** The shared ingest fixture of q_incr_pipeline_accrete and
    * q_incr_pipeline_consumer — both replay the SAME batches through
    * the same dedup/gate algebra and share incrAccreteSql verbatim, so
    * the synthesis must live in exactly one place: batch 1 = planted
    * near-dups of the corpus (+100000, last word dropped) ∪ gate-mixed
    * fresh docs (+200000, multi-token synthetic texts); batch 2 =
    * last-word-dropped near-dups of EVERY fresh row (+100000 again,
    * always-clean gate profile). Returns (batch1, batch2, checks).
    */
  private def accreteFixture(d: DataFrame)
      : (DataFrame, DataFrame, Seq[Expectations.Check]) = {
    val nearDups = d.filter(col("doc_id") < 20).select(
      (col("doc_id") + 100000L).as("doc_id"), col("lang"),
      regexp_replace(col("text"), "\\s+\\S+$", "").as("text"),
      col("n_chars"))
    val fresh = d.filter(col("doc_id") % 97 === 3).select(
      (col("doc_id") + 200000L).as("doc_id"),
      when(col("doc_id") % 2 === 0, col("lang")).otherwise(lit("zz"))
        .as("lang"),
      concat(lit("fresh doc "), col("doc_id"),
        lit(" alpha beta gamma delta")).as("text"),
      (lit(100L) + col("doc_id") % 350).as("n_chars"))
    val crossDups = fresh.select(
      (col("doc_id") + 100000L).as("doc_id"), lit("en").as("lang"),
      regexp_replace(col("text"), "\\s+\\S+$", "").as("text"),
      lit(150L).as("n_chars"))
    val checks = Seq(
      Expectations.Check("lang_latin",
        col("lang").isin("en", "de", "fr", "es")),
      Expectations.Check("len_band", col("n_chars").between(100L, 400L)))
    (nearDups.unionByName(fresh), crossDups, checks)
  }

  /** The shared resolve tail of q_er_scored / q_er_incremental: evidence
    * scoring over the candidate pairs (exact distance + phonetic
    * agreement + quantized-embedding cosine per-mille), per-provenance
    * rank calibration over the WHOLE pair ledger, the double threshold,
    * min-label connected components over canonical name ids, and the
    * per-family aggregation. Both queries must produce identical output
    * (the candidate complement law), so both share erScoredSql.
    */
  private def erResolve(s: SparkSession, dir: String, names: DataFrame,
                        nn: DataFrame, cand0: DataFrame): DataFrame = {
    // plan-truncating checkpoint of the candidate ledger (small by the
    // blocking design — the expensive thing is GENERATING it, and its
    // plan is the union of two-to-four blocking-join trees): every
    // downstream action (scoring, calibration, the component loop's
    // edge count) would otherwise re-optimize those trees. A ledger the
    // driver already built is a LocalRelation leaf: nothing to truncate,
    // and a checkpoint would only cost a job.
    val cand = cand0.queryExecution.analyzed match {
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => cand0
      case _ => cand0.localCheckpoint(true)
    }
    val codes = Tables.embeddings(s, dir).filter(col("vec_id") < 40)
      .select(col("vec_id").cast("long").as("ent"),
        Similarity.quantize(col("embedding"),
          Similarity.quantizeScale(col("embedding"))).as("q"))
    val scored = cand
      .join(nn.select(col("name").as("str_a"), col("nid").as("nid_a"),
        col("ent").as("ent_a")), "str_a")
      .join(nn.select(col("name").as("str_b"), col("nid").as("nid_b"),
        col("ent").as("ent_b")), "str_b")
      .join(broadcast(codes.select(col("ent").as("ent_a"), col("q").as("q_a"))), "ent_a")
      .join(broadcast(codes.select(col("ent").as("ent_b"), col("q").as("q_b"))), "ent_b")
      .withColumn("cos_pm", Similarity.quantizedCosinePm(col("q_a"), col("q_b")))
      .withColumn("score", EntityResolution.evidenceScore(
        col("dist"), col("via_phonetic"), col("cos_pm")))
      .withColumn("prov",
        when(col("via_fuzzy") === 1, lit("fuzzy")).otherwise(lit("phonetic")))
      .withColumn("pair_key", concat(col("str_a"), lit("|"), col("str_b")))
    val kept = graft.operators.Stats
      .rankCalibrate(scored.select(col("prov"), col("score"), col("pair_key"),
        col("cos_pm"), col("nid_a"), col("nid_b")), "prov", "score", "pair_key")
      .filter(col("rank_pm") <= 250 && col("cos_pm") >= 800)
    val comps = graft.operators.Components
      .connectedComponents(kept, "nid_a", "nid_b")
    EntityResolution.labelFamilies(names, "name", nn, "nid", comps)
      .groupBy("family")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("name")).as("n_names"),
        sum(col("doc_id")).as("id_sum"))
  }

  /** DuckDB mirror of [[graft.operators.Phonetic.key]] as a stack of
    * nested SELECTs over `src` (which must expose `strCol`): letters →
    * soundex digit classes → backreference-free run collapse → key. The
    * run collapse is six chained regexp_replace passes exactly like the
    * Spark side (RE2 has no backreferences).
    */
  private def phoneticKeyCte(src: String, strCol: String, out: String): String = {
    val collapsed = (1 to 6).foldLeft("cd") { (acc, d) =>
      s"regexp_replace($acc, '$d{2,}', '$d', 'g')"
    }
    s"$out AS (SELECT *, CASE WHEN length(lt) = 0 THEN '' ELSE " +
      "substr(lt, 1, 1) || " +
      "rpad(substr(replace(substr(cl, 2), '0', ''), 1, 3), 3, '0') END AS k " +
      s"FROM (SELECT *, $collapsed AS cl FROM (SELECT *, " +
      "translate(lt, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', " +
      "'01230120022455012623010202') AS cd " +
      s"FROM (SELECT *, regexp_replace(upper($strCol), '[^A-Z]', '', 'g') " +
      s"AS lt FROM $src))))"
  }

  private def phoneticBlockSql: String =
    s"""WITH base AS (
       |  SELECT doc_id,
       |    'nm' || translate(lpad(CAST(doc_id % 40 AS VARCHAR), 2, '0'),
       |                      '0123456789', 'abcdefghij') AS b,
       |    CAST(1 + doc_id % 4 AS INT) AS p,
       |    CAST(doc_id % 3 AS INT) AS m
       |  FROM documents),
       |names AS (
       |  SELECT doc_id, CASE m WHEN 0 THEN b
       |    WHEN 1 THEN substr(b, 1, p) || substr(b, p)
       |    ELSE b || 'ey' END AS name
       |  FROM base),
       |refs AS (SELECT DISTINCT b AS cname FROM base),
       |${phoneticKeyCte("names", "name", "nk")},
       |${phoneticKeyCte("refs", "cname", "rk")}
       |SELECT n.doc_id, n.name, r.cname,
       |  CAST(levenshtein(n.name, r.cname) AS INT) AS dist
       |FROM nk n JOIN rk r ON n.k = r.k
       |WHERE levenshtein(n.name, r.cname) <= 2""".stripMargin

  /** The synthetic link graph shared by q_pagerank / q_pagerank_seeded:
    * doc k links to (k·31 + j·97) % N for j in 1..3, minus the
    * %5-filtered edges and the %17-selected pages (dangling — no
    * out-links); self-loops dropped. The DuckDB oracles re-derive the
    * same edges from the same arithmetic ([[pagerankSql]]).
    */
  private def pagerankEdges(d: DataFrame): DataFrame = {
    val n = d.count()
    d.select(col("doc_id").as("src"), explode(expr("array(1, 2, 3)")).as("j"))
      .filter(col("src") % 17 =!= 0 && (col("src") + col("j")) % 5 =!= 0)
      .select(col("src"), ((col("src") * 31 + col("j") * 97) % n).as("dst"))
      .filter(col("dst") =!= col("src"))
  }

  /** Literal replay of [[graft.operators.LinkGraph.pagerank]]'s
    * fixed-point iteration as `iters` unrolled CTE rounds — exact
    * because every quantity is BIGINT (`//` here ≡ `div` there on
    * non-negative values) and long sums are order-independent.
    * `wExpr` is the per-node reset weight over `id` (uniform "1" = plain
    * PageRank; the Spark side folds w = 1, W = n into the same algebra).
    */
  /** nodes/cnt/edges CTEs shared by [[pagerankSql]] and [[hitsSql]] —
    * the SQL mirror of [[pagerankEdges]].
    */
  private val linkGraphCtes: String =
    "nodes AS (SELECT doc_id AS id FROM documents), " +
      "cnt AS (SELECT count(*) AS n FROM nodes), " +
      "edges AS (SELECT doc_id AS src, " +
      "(doc_id * 31 + j.j * 97) % cnt.n AS dst " +
      "FROM documents CROSS JOIN cnt " +
      "CROSS JOIN (SELECT unnest([1, 2, 3]) AS j) j " +
      "WHERE doc_id % 17 <> 0 AND (doc_id + j.j) % 5 <> 0 " +
      "AND (doc_id * 31 + j.j * 97) % cnt.n <> doc_id), "

  private def pagerankSql(iters: Int, wExpr: String = "1"): String = {
    val sb = new StringBuilder
    sb ++= s"WITH $linkGraphCtes"
    sb ++= s"nw AS (SELECT id, CAST($wExpr AS BIGINT) AS w FROM nodes), "
    sb ++= "wsum AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM nw), "
    sb ++= "deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src), "
    sb ++= "r0 AS (SELECT id, 1000000000000 // cnt.n AS r FROM nodes CROSS JOIN cnt)"
    (1 to iters).foreach { k =>
      // sums are CAST back to BIGINT: DuckDB's sum(BIGINT) widens to
      // HUGEINT, which pandas renders as float64 and the hash diverges
      sb ++= s", c$k AS (SELECT e.dst AS id, " +
        "CAST(sum(r.r // d.outdeg) AS BIGINT) AS c " +
        s"FROM edges e JOIN deg d USING (src) " +
        s"JOIN r${k - 1} r ON r.id = e.src GROUP BY e.dst)"
      sb ++= s", d$k AS (SELECT CAST(coalesce(sum(r.r), 0) AS BIGINT) AS dm " +
        s"FROM r${k - 1} r " +
        "LEFT JOIN deg ON r.id = deg.src WHERE deg.src IS NULL)"
      sb ++= s", r$k AS (SELECT nw.id, " +
        "(15000000000000 * nw.w) // (100 * wsum.tw) + " +
        s"(85 * (coalesce(c$k.c, 0) + (d$k.dm * nw.w) // wsum.tw)) // 100 AS r " +
        s"FROM nw CROSS JOIN wsum CROSS JOIN d$k " +
        s"LEFT JOIN c$k ON c$k.id = nw.id)"
    }
    sb ++= s" SELECT id AS doc_id, r AS rank FROM r$iters"
    sb.toString
  }

  /** Literal replay of [[graft.operators.LinkGraph.hits]] — per round:
    * authority = in-edge hub sum normalized to the 1e6 scale via
    * `x div greatest(1, total div scale)`, then hub = out-edge authority
    * sum normalized the same way. All BIGINT, so exact.
    */
  private def hitsSql(iters: Int): String = {
    val sb = new StringBuilder
    sb ++= s"WITH $linkGraphCtes"
    sb ++= "h0 AS (SELECT id, 1000000 AS h FROM nodes)"
    (1 to iters).foreach { k =>
      sb ++= s", ar$k AS (SELECT e.dst AS id, CAST(sum(h.h) AS BIGINT) AS x " +
        s"FROM edges e JOIN h${k - 1} h ON h.id = e.src GROUP BY e.dst)"
      sb ++= s", at$k AS (SELECT CAST(coalesce(sum(x), 0) AS BIGINT) AS t FROM ar$k)"
      sb ++= s", a$k AS (SELECT nodes.id, " +
        s"coalesce(ar$k.x, 0) // greatest(1, at$k.t // 1000000) AS a " +
        s"FROM nodes CROSS JOIN at$k LEFT JOIN ar$k ON ar$k.id = nodes.id)"
      sb ++= s", hr$k AS (SELECT e.src AS id, CAST(sum(a.a) AS BIGINT) AS x " +
        s"FROM edges e JOIN a$k a ON a.id = e.dst GROUP BY e.src)"
      sb ++= s", ht$k AS (SELECT CAST(coalesce(sum(x), 0) AS BIGINT) AS t FROM hr$k)"
      sb ++= s", h$k AS (SELECT nodes.id, " +
        s"coalesce(hr$k.x, 0) // greatest(1, ht$k.t // 1000000) AS h " +
        s"FROM nodes CROSS JOIN ht$k LEFT JOIN hr$k ON hr$k.id = nodes.id)"
    }
    sb ++= s" SELECT h.id AS doc_id, h.h AS hub, a.a AS authority " +
      s"FROM h$iters h JOIN a$iters a ON h.id = a.id"
    sb.toString
  }

  /** CTEs shared by [[fuzzyJoinSql]] and [[entityResolutionSql]]: the
    * typo synthesis (mirror of [[fuzzyNames]]) — the oracles then join
    * by BRUTE-FORCE levenshtein, which is exactly what the deletion-
    * neighborhood operator claims to equal.
    */
  private def fuzzyNamesCtes(posMod: Int, doubledDigits: Boolean = false): String = {
    val baseExpr =
      if (doubledDigits)
        "'ent-' || repeat(CAST((doc_id % 97) // 10 AS VARCHAR), 2) || " +
          "repeat(CAST((doc_id % 97) % 10 AS VARCHAR), 2)"
      else "'ent-' || lpad(CAST(doc_id % 97 AS VARCHAR), 3, '0')"
    s"""base AS (
      |  SELECT doc_id,
      |    $baseExpr AS b,
      |    CAST(1 + doc_id % $posMod AS INT) AS p,
      |    CAST(doc_id % 4 AS INT) AS m
      |  FROM documents),
      |lft AS (
      |  SELECT doc_id, CASE m
      |    WHEN 0 THEN b
      |    WHEN 1 THEN substring(b, 1, p - 1) || substring(b, p + 1)
      |    WHEN 2 THEN substring(b, 1, p - 1) || 'x' || substring(b, p + 2)
      |    ELSE b || 'xy' END AS name
      |  FROM base)""".stripMargin
  }

  private def fuzzyJoinSql: String =
    s"""WITH ${fuzzyNamesCtes(7)},
       |ref AS (SELECT DISTINCT b AS cname FROM base)
       |SELECT l.doc_id, l.name, r.cname,
       |  CAST(levenshtein(l.name, r.cname) AS INT) AS dist
       |FROM lft l JOIN ref r ON levenshtein(l.name, r.cname) <= 1""".stripMargin

  private def entityResolutionSql: String =
    // brute-force d<=1 pairs over DISTINCT NAMES (docs sharing a name
    // are distance 0, so doc-level components are exactly the
    // name-level components expanded — and the O(n²) levenshtein stays
    // over ~1.5k distinct names instead of the full corpus, which keeps
    // the oracle runnable at the 10×/100× replica scales) -> the same
    // recursive-CTE min-label component spine as e2eMd5Sql, labels
    // lexicographic over names -> family = min doc_id of the name
    // component -> longest-name (ties min doc_id) representative per
    // family: the literal mirror of FuzzyJoin.fuzzyJoin self-pairs +
    // connectedComponents + keepBestRepresentatives(score =
    // length(name)). Every name self-matches (distance 0), so every doc
    // lands in a component and singleton docs keep family = own id.
    s"""WITH RECURSIVE ${fuzzyNamesCtes(4, doubledDigits = true)},
       |nn AS (SELECT DISTINCT name FROM lft),
       |np AS (SELECT x.name AS na, y.name AS nb FROM nn x JOIN nn y
       |  ON levenshtein(x.name, y.name) <= 1),
       |cc(name, comp) AS (
       |  SELECT DISTINCT na, na FROM np
       |  UNION
       |  SELECT p.nb, c.comp FROM cc c JOIN np p ON p.na = c.name
       |  WHERE c.comp < p.nb),
       |lab AS (SELECT name, min(comp) AS ncomp FROM cc GROUP BY name),
       |fam AS (SELECT l.doc_id, l.name, lab.ncomp
       |  FROM lft l JOIN lab ON lab.name = l.name),
       |families AS (SELECT ncomp, min(doc_id) AS family FROM fam GROUP BY ncomp),
       |mem AS (SELECT f.doc_id, f.name, CAST(length(f.name) AS INT) AS score,
       |  fm.family FROM fam f JOIN families fm ON f.ncomp = fm.ncomp)
       |SELECT family, doc_id, name, score FROM (
       |  SELECT *, row_number() OVER (PARTITION BY family
       |    ORDER BY score DESC, doc_id) AS rn FROM mem) WHERE rn = 1""".stripMargin

  /** DuckDB mirror of q_er_scored — the full multi-evidence ER pipeline:
    * the [[phoneticNames]] corpus at name level (names are SF-invariant;
    * only the doc expansion scales), brute-force candidate generation
    * (levenshtein <= 1 OR equal phonetic key + levenshtein <= 2 — the
    * blocking passes are EXACT for these predicates, so brute force is
    * the correct mirror), int8 quantization + integer-BIGINT dot/norms
    * with the IEEE-exact-sqrt cosine per-mille, the per-provenance rank
    * calibration (q_score_calibrate's window mirror), the double
    * threshold, self-pair-seeded recursive-CTE components, and family =
    * min canonical id (min doc_id of a name) per component.
    */
  private def erScoredSql: String =
    s"""WITH RECURSIVE base AS (
       |  SELECT doc_id,
       |    'nm' || translate(lpad(CAST(doc_id % 40 AS VARCHAR), 2, '0'),
       |                      '0123456789', 'abcdefghij') AS b,
       |    CAST(1 + doc_id % 4 AS INT) AS p,
       |    CAST(doc_id % 3 AS INT) AS m
       |  FROM documents),
       |names AS (
       |  SELECT doc_id, CASE m WHEN 0 THEN b
       |    WHEN 1 THEN substr(b, 1, p) || substr(b, p)
       |    ELSE b || 'ey' END AS name
       |  FROM base),
       |nn AS (SELECT name, min(doc_id) AS nid, min(doc_id % 40) AS ent
       |       FROM names GROUP BY name),
       |${phoneticKeyCte("nn", "name", "nk")},
       |codes AS (
       |  SELECT vec_id AS ent,
       |    CASE WHEN s = 0 THEN list_transform(embedding, x -> 0)
       |    ELSE list_transform(embedding,
       |      x -> CAST(floor(CAST(x AS DOUBLE) / s + 0.5) AS INT)) END AS q
       |  FROM (SELECT vec_id, embedding,
       |    CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) / 127.0 AS s
       |    FROM embeddings WHERE vec_id < 40)),
       |cand AS (
       |  SELECT a.name AS name_a, b.name AS name_b,
       |    a.nid AS nid_a, b.nid AS nid_b, a.ent AS ent_a, b.ent AS ent_b,
       |    CAST(levenshtein(a.name, b.name) AS INT) AS dist,
       |    CASE WHEN levenshtein(a.name, b.name) <= 1 THEN 1 ELSE 0 END AS via_fuzzy,
       |    CASE WHEN a.k = b.k AND levenshtein(a.name, b.name) <= 2
       |      THEN 1 ELSE 0 END AS via_phonetic
       |  FROM nk a JOIN nk b ON a.name < b.name
       |  WHERE levenshtein(a.name, b.name) <= 1
       |     OR (a.k = b.k AND levenshtein(a.name, b.name) <= 2)),
       |ev AS (
       |  SELECT cand.*,
       |    (SELECT CAST(sum(x * y) AS BIGINT)
       |       FROM (SELECT unnest(ca.q) AS x, unnest(cb.q) AS y)) AS dot,
       |    (SELECT CAST(sum(x * x) AS BIGINT)
       |       FROM (SELECT unnest(ca.q) AS x)) AS ssa,
       |    (SELECT CAST(sum(y * y) AS BIGINT)
       |       FROM (SELECT unnest(cb.q) AS y)) AS ssb
       |  FROM cand JOIN codes ca ON ca.ent = cand.ent_a
       |            JOIN codes cb ON cb.ent = cand.ent_b),
       |scored AS (
       |  SELECT name_a, name_b, nid_a, nid_b,
       |    CAST(floor(1000.0 * CAST(dot AS DOUBLE) /
       |      (sqrt(CAST(ssa AS DOUBLE)) * sqrt(CAST(ssb AS DOUBLE)))) AS BIGINT)
       |      AS cos_pm,
       |    10000000 * (2 - dist) + 3000000 * via_phonetic +
       |      CAST(floor(1000.0 * CAST(dot AS DOUBLE) /
       |      (sqrt(CAST(ssa AS DOUBLE)) * sqrt(CAST(ssb AS DOUBLE)))) AS BIGINT)
       |      AS score,
       |    CASE WHEN via_fuzzy = 1 THEN 'fuzzy' ELSE 'phonetic' END AS prov
       |  FROM ev),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY prov
       |      ORDER BY score DESC, name_a || '|' || name_b) AS rn,
       |    count(*) OVER (PARTITION BY prov) AS nt
       |  FROM scored),
       |kept AS (
       |  SELECT name_a, name_b FROM ranked
       |  WHERE (CASE WHEN nt = 1 THEN 0
       |    ELSE (1000 * (rn - 1)) // (nt - 1) END) <= 250 AND cos_pm >= 800),
       |sym AS (
       |  SELECT name_a AS na, name_b AS nb FROM kept
       |  UNION SELECT name_b, name_a FROM kept
       |  UNION SELECT name, name FROM nn),
       |cc(name, comp) AS (
       |  SELECT DISTINCT na, na FROM sym
       |  UNION
       |  SELECT p.nb, c.comp FROM cc c JOIN sym p ON p.na = c.name
       |  WHERE c.comp < p.nb),
       |lab AS (SELECT name, min(comp) AS mincomp FROM cc GROUP BY name),
       |fams AS (SELECT l.mincomp, min(n2.nid) AS family
       |  FROM lab l JOIN nn n2 ON n2.name = l.name GROUP BY l.mincomp),
       |nf AS (SELECT l.name, f.family FROM lab l
       |  JOIN fams f ON f.mincomp = l.mincomp)
       |SELECT nf.family, count(*)::BIGINT AS n_docs,
       |  CAST(count(DISTINCT names.name) AS BIGINT) AS n_names,
       |  CAST(sum(names.doc_id) AS BIGINT) AS id_sum
       |FROM names JOIN nf ON nf.name = names.name
       |GROUP BY nf.family""".stripMargin

  /** The q_incr_pipeline / q_stream_incr_pipeline oracle: the pairsMd5
    * pipeline decides which planted near-dups drop (dedup_incremental's
    * dup set), the fresh +200000 batch passes dedup by construction
    * (single-token texts share no 3-shingles with the corpus), and the
    * expectations gate keeps latin langs inside the 100-400 length band.
    */
  private lazy val incrPipelineSql: String =
    s"WITH $pairsMd5Ctes,\n" +
      """dup AS (SELECT DISTINCT id_b FROM pr
        |  WHERE id_b >= 100000 AND id_b < 100020 AND id_a < 100000),
        |b1 AS (SELECT doc_id + 100000 AS doc_id, lang, n_chars
        |  FROM documents WHERE doc_id < 20),
        |b2 AS (SELECT doc_id + 200000 AS doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN lang ELSE 'zz' END AS lang,
        |    100 + doc_id % 350 AS n_chars
        |  FROM documents WHERE doc_id % 97 = 3),
        |batch AS (
        |  SELECT * FROM b1 WHERE doc_id NOT IN (SELECT id_b FROM dup)
        |  UNION ALL SELECT * FROM b2),
        |clean AS (SELECT * FROM batch
        |  WHERE lang IN ('en', 'de', 'fr', 'es')
        |    AND n_chars BETWEEN 100 AND 400)
        |SELECT lang, count(*)::BIGINT AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM clean GROUP BY lang""".stripMargin

  /** The q_incr_pipeline_accrete oracle: ONE md5 band/verify pass over
    * corpus ∪ planted ∪ fresh ∪ batch2 (band collision and jaccard are
    * per-pair properties, so the unioned run equals per-step pairing
    * exactly), then the two-step membership logic — step 1 drops batch-1
    * rows pairing with the CORPUS; step 2 drops batch-2 rows pairing
    * with the corpus OR a step-1 ACCEPTED row (the accretion contract:
    * quarantined/deduped rows never joined the index, so their
    * near-dups land). Id classes by `% 1000000` band (replica tiles
    * offset by k·10⁶): corpus < 1e5, batch 1 in [1e5, 3e5), batch 2 ≥
    * 3e5.
    */
  private lazy val incrAccreteSql: String = {
    val u =
      s"""  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000, regexp_replace(text, '\\s+\\S+$$', '')
         |  FROM documents WHERE doc_id < 20
         |  UNION ALL
         |  SELECT doc_id + 200000,
         |    'fresh doc ' || doc_id || ' alpha beta gamma delta'
         |  FROM documents WHERE doc_id % 97 = 3
         |  UNION ALL
         |  SELECT doc_id + 300000,
         |    'fresh doc ' || doc_id || ' alpha beta gamma'
         |  FROM documents WHERE doc_id % 97 = 3""".stripMargin
    s"WITH ${pairsMd5CtesOver(u)},\n" +
      """b1 AS (
        |  SELECT doc_id + 100000 AS doc_id, lang, n_chars
        |  FROM documents WHERE doc_id < 20
        |  UNION ALL
        |  SELECT doc_id + 200000,
        |    CASE WHEN doc_id % 2 = 0 THEN lang ELSE 'zz' END,
        |    100 + doc_id % 350
        |  FROM documents WHERE doc_id % 97 = 3),
        |dup1 AS (
        |  SELECT id_b AS did FROM pr
        |  WHERE id_a % 1000000 < 100000
        |    AND id_b % 1000000 BETWEEN 100000 AND 299999
        |  UNION
        |  SELECT id_a FROM pr
        |  WHERE id_b % 1000000 < 100000
        |    AND id_a % 1000000 BETWEEN 100000 AND 299999),
        |clean1 AS (
        |  SELECT * FROM b1
        |  WHERE doc_id NOT IN (SELECT did FROM dup1)
        |    AND lang IN ('en', 'de', 'fr', 'es')
        |    AND n_chars BETWEEN 100 AND 400),
        |b2 AS (
        |  SELECT doc_id + 300000 AS doc_id, 'en' AS lang,
        |    CAST(150 AS BIGINT) AS n_chars
        |  FROM documents WHERE doc_id % 97 = 3),
        |dup2 AS (
        |  SELECT id_b AS did FROM pr
        |  WHERE id_b % 1000000 >= 300000 AND id_a % 1000000 < 300000
        |    AND (id_a % 1000000 < 100000
        |         OR id_a IN (SELECT doc_id FROM clean1))
        |  UNION
        |  SELECT id_a FROM pr
        |  WHERE id_a % 1000000 >= 300000 AND id_b % 1000000 < 300000
        |    AND (id_b % 1000000 < 100000
        |         OR id_b IN (SELECT doc_id FROM clean1))),
        |clean2 AS (
        |  SELECT * FROM b2 WHERE doc_id NOT IN (SELECT did FROM dup2)),
        |final AS (SELECT * FROM clean1 UNION ALL SELECT * FROM clean2)
        |SELECT lang, count(*)::BIGINT AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM final GROUP BY lang""".stripMargin
  }

  private def urlDedupSql: String = {
    // mirror of UrlOps.canonicalizeUrl/dedupByUrl over the same
    // deterministic URL synthesis. DuckDB regexp_replace defaults to
    // FIRST-match (Spark replaces all), so the slash-run collapse — the
    // only multi-site pattern — carries the 'g' flag; every other
    // pattern is anchored. list_sort is binary-ascending like
    // array_sort; both sides split on '&' and drop empties.
    s"""WITH raw AS (
       |  SELECT doc_id, CASE doc_id % 5
       |    WHEN 0 THEN 'http://example.com/docs/' || (doc_id // 5) || '?a=1&b=2'
       |    WHEN 1 THEN 'HTTP://WWW.EXAMPLE.COM:80/docs/' || (doc_id // 5) || '/?b=2&a=1'
       |    WHEN 2 THEN 'http://example.com//docs//' || (doc_id // 5) || '?a=1&utm_source=feed&b=2'
       |    WHEN 3 THEN 'http://example.com:80/docs/' || (doc_id // 5) || '?b=2&a=1&fbclid=XYZ#frag'
       |    ELSE 'http://www.example.com/docs/' || (doc_id // 5) || '?utm_campaign=c&b=2&a=1#sec'
       |  END AS url FROM documents),
       |parts AS (
       |  SELECT doc_id,
       |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
       |    regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
       |  FROM raw),
       |split_p AS (
       |  SELECT doc_id, scheme,
       |    lower(regexp_extract(rest, '^([^/?#]*)', 1)) AS hostport,
       |    regexp_extract(regexp_extract(regexp_replace(rest, '^[^/?#]*', ''), '^([^#]*)', 1), '^([^?]*)', 1) AS path,
       |    regexp_extract(regexp_extract(regexp_replace(rest, '^[^/?#]*', ''), '^([^#]*)', 1), '\\?(.*)$$', 1) AS query
       |  FROM parts),
       |canon AS (
       |  SELECT doc_id,
       |    scheme || '://' || host || cpath ||
       |      CASE WHEN cquery = '' THEN '' ELSE '?' || cquery END AS canonical_url,
       |    regexp_extract(host, '([^.]+\\.[^.]+)$$', 1) AS domain
       |  FROM (
       |    SELECT doc_id, scheme,
       |      regexp_replace(CASE
       |        WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$$', '')
       |        WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$$', '')
       |        ELSE hostport END, '^www\\.', '') AS host,
       |      regexp_replace(regexp_replace(path, '/{2,}', '/', 'g'), '/+$$', '') AS cpath,
       |      array_to_string(list_sort(list_filter(string_split(query, '&'),
       |        p -> p <> '' AND NOT regexp_matches(p,
       |          '^(utm_[^=&]*|fbclid|gclid|ref)='))), '&') AS cquery
       |    FROM split_p))
       |SELECT canonical_url, domain, min(doc_id) AS keep_id,
       |  count(*) AS n_variants
       |FROM canon GROUP BY 1, 2""".stripMargin
  }

  private def semDedupSql: String = {
    // mirror of Similarity.semDedup over embeddings ∪ jittered copies
    // (same corpus CTE as embPairsSql) with fixedCentroids(8, 64, 7)
    // (same cell math as annIvfFixedSql) and cosine >= 0.98, INCLUDING
    // the overflow tier: a cell past maxCluster=10000 degrades to
    // representative-only comparison (member vs the cell's min-id row),
    // so the oracle states the operator's FULL contract and hash-checks
    // at any scale — the 10× replica caught the old exact-only mirror
    // diverging the first time a cell crossed the cap (r10).
    // list_cosine_similarity over DOUBLE[] matches the engine's
    // float→double widened, element-ordered dot/norms.
    val jitter = 0.001f.toDouble
    val cents = Similarity.fixedCentroids(nlist = 8, dim = 64, seed = 7L)
    def distSql(cArr: Array[Double]) = {
      val arr = cArr.map(_.toString).mkString("[", ", ", "]")
      s"list_sum(list_transform(range(1, 65), i -> " +
        s"(embedding[i]::DOUBLE - ($arr)[i]) * (embedding[i]::DOUBLE - ($arr)[i])))"
    }
    val dl = cents.map(distSql).mkString("[", ",\n", "]")
    s"""WITH corpus AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 100000,
       |         list_transform(embedding, x -> CAST(x::DOUBLE + $jitter AS REAL))
       |  FROM embeddings WHERE vec_id < 10),
       |cells AS (SELECT vec_id, embedding,
       |  CAST(list_position($dl, list_min($dl)) - 1 AS INT) AS cluster
       |  FROM corpus),
       |cstat AS (SELECT cluster, count(*) AS n, min(vec_id) AS rid
       |  FROM cells GROUP BY cluster),
       |reps AS (SELECT s.cluster, s.n, s.rid, c.embedding AS rv
       |  FROM cstat s JOIN cells c
       |  ON c.cluster = s.cluster AND c.vec_id = s.rid)
       |SELECT c.vec_id, c.cluster,
       |  CASE WHEN r.n > 10000 THEN
       |    c.vec_id <> r.rid AND list_cosine_similarity(r.rv::DOUBLE[],
       |      c.embedding::DOUBLE[]) >= 0.98
       |  ELSE
       |    EXISTS(SELECT 1 FROM cells c2 WHERE c2.cluster = c.cluster
       |      AND c2.vec_id < c.vec_id
       |      AND list_cosine_similarity(c2.embedding::DOUBLE[],
       |            c.embedding::DOUBLE[]) >= 0.98)
       |  END AS is_semdup
       |FROM cells c JOIN reps r ON c.cluster = r.cluster""".stripMargin
  }

  private def embPairsSql: String = {
    // mirror of dedup_emb_pairs_ora: Similarity.cosineNearDupPairs over
    // embeddings ∪ jittered copies, numPlanes = 8, numTables = 3 (seeds
    // 42..44), minCosine = 0.98, no chain overflow. The +0.001f jitter is
    // reproduced as CAST(x::DOUBLE + (0.001f:Double) AS REAL): a binary64
    // add of two binary32 values rounded once back to binary32 equals the
    // direct binary32 add (53 >= 2*24+2 double-rounding safety), so the
    // planted vectors are bit-identical across engines. Buckets are the
    // same sign-bit sums as annLshSql, one per table.
    val jitter = 0.001f.toDouble
    def dotSql(p: Array[Double]) = {
      val arr = p.map(_.toString).mkString("[", ", ", "]")
      s"list_sum(list_transform(range(1, 65), i -> embedding[i]::DOUBLE * ($arr)[i]))"
    }
    def bucketSql(seed: Long) =
      Similarity.hyperplanes(numPlanes = 8, dim = 64, seed = seed).zipWithIndex
        .map { case (p, i) =>
          s"(CASE WHEN ${dotSql(p)} >= 0 THEN ${1L << i} ELSE 0 END)"
        }.mkString(" + ")
    s"""WITH corpus AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 100000,
       |         list_transform(embedding, x -> CAST(x::DOUBLE + $jitter AS REAL))
       |  FROM embeddings WHERE vec_id < 10),
       |bk AS (SELECT vec_id, embedding, ${bucketSql(42L)} AS b0,
       |  ${bucketSql(43L)} AS b1, ${bucketSql(44L)} AS b2 FROM corpus),
       |e AS (SELECT vec_id, embedding, unnest([0, 1, 2]) AS tbl,
       |  unnest([b0, b1, b2]) AS bucket FROM bk)
       |SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |FROM e a JOIN e b
       |  ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
       |WHERE list_cosine_similarity(a.embedding::DOUBLE[],
       |  b.embedding::DOUBLE[]) >= 0.98""".stripMargin
  }

  /** Shared CTEs of the two n-gram LM oracles: per-doc token positions +
    * adjacent bigrams over the WHOLE corpus, and the en-trained
    * fixed-point count tables — mirroring [[NgramLm.trainBigram]].
    */
  private val lmCtes =
    s"""tok AS (SELECT doc_id, lang, string_split($normSql, ' ') AS t FROM documents),
       |pos AS (SELECT doc_id, lang, unnest(t) AS w, generate_subscripts(t, 1) AS i FROM tok),
       |big AS (SELECT a.doc_id, a.lang, a.w AS w1, b.w AS w2
       |  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.i = a.i + 1),
       |uniC AS (SELECT w, count(*)::BIGINT AS cw FROM pos WHERE lang = 'en' GROUP BY w),
       |biC AS (SELECT w1, w2, count(*)::BIGINT AS c12
       |  FROM big WHERE lang = 'en' GROUP BY w1, w2)""".stripMargin

  private val lmTrainSql =
    s"WITH $lmCtes SELECT b.w1, b.w2, b.c12, " +
      "CAST((1000000 * b.c12) // u.cw AS BIGINT) AS bi_score " +
      "FROM biC b JOIN uniC u ON b.w1 = u.w WHERE b.c12 >= 2"

  // the model CTEs + the same two left joins NgramLm.scoreBigram plans;
  // every score is integer division on BIGINT counts, so sums are exact
  private val lmScoreSql =
    s"""WITH $lmCtes,
       |tot AS (SELECT CAST(sum(cw) AS BIGINT) AS total FROM uniC),
       |uni AS (SELECT w, CAST((2 * 1000000 * cw) // (5 * total) AS BIGINT) AS uni_score
       |  FROM uniC, tot),
       |bi AS (SELECT b.w1, b.w2, CAST((1000000 * b.c12) // u.cw AS BIGINT) AS bi_score
       |  FROM biC b JOIN uniC u ON b.w1 = u.w),
       |sc AS (SELECT g.doc_id, coalesce(bi.bi_score, uni.uni_score, 0) AS s
       |  FROM big g LEFT JOIN bi ON g.w1 = bi.w1 AND g.w2 = bi.w2
       |  LEFT JOIN uni ON g.w2 = uni.w)
       |SELECT doc_id, count(*)::BIGINT AS n_bigrams, CAST(sum(s) AS BIGINT) AS score_sum,
       |  CAST(CAST(sum(s) AS BIGINT) // count(*) AS BIGINT) AS score_avg
       |FROM sc GROUP BY doc_id""".stripMargin

  // order-3 mirror: trigram counts over the en slice, denominators from
  // the SAME biC/uniC the bigram oracle uses, backoff chain as three
  // left joins — exactly NgramLm.scoreTrigram's plan
  private val lmTrigramSql =
    s"""WITH $lmCtes,
       |trig AS (SELECT a.doc_id, a.lang, a.w AS w1, b.w AS w2, c.w AS w3
       |  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.i = a.i + 1
       |             JOIN pos c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
       |triC AS (SELECT w1, w2, w3, count(*)::BIGINT AS c123
       |  FROM trig WHERE lang = 'en' GROUP BY w1, w2, w3),
       |tri AS (SELECT t.w1, t.w2, t.w3,
       |    CAST((1000000 * t.c123) // b.c12 AS BIGINT) AS tri_score
       |  FROM triC t JOIN biC b ON t.w1 = b.w1 AND t.w2 = b.w2),
       |bi2 AS (SELECT b.w1, b.w2,
       |    CAST((2 * 1000000 * b.c12) // (5 * u.cw) AS BIGINT) AS bi2_score
       |  FROM biC b JOIN uniC u ON b.w1 = u.w),
       |tot AS (SELECT CAST(sum(cw) AS BIGINT) AS total FROM uniC),
       |uni2 AS (SELECT w, CAST((4 * 1000000 * cw) // (25 * total) AS BIGINT)
       |    AS uni2_score FROM uniC, tot),
       |sc AS (SELECT g.doc_id,
       |    coalesce(tri.tri_score, bi2.bi2_score, uni2.uni2_score, 0) AS s
       |  FROM trig g
       |  LEFT JOIN tri ON g.w1 = tri.w1 AND g.w2 = tri.w2 AND g.w3 = tri.w3
       |  LEFT JOIN bi2 ON g.w2 = bi2.w1 AND g.w3 = bi2.w2
       |  LEFT JOIN uni2 ON g.w3 = uni2.w)
       |SELECT doc_id, count(*)::BIGINT AS n_trigrams,
       |  CAST(sum(s) AS BIGINT) AS score_sum,
       |  CAST(CAST(sum(s) AS BIGINT) // count(*) AS BIGINT) AS score_avg
       |FROM sc GROUP BY doc_id""".stripMargin

  /** Brute-force quadratic truth for q_allpairs_cosine: every pair of
    * 4-shingle sets with 10⁶·i² ≥ 700‰²·|A|·|B| — the prefix-filtered
    * operator must reproduce it EXACTLY (same short-doc whole-text rule
    * as Dedup.shinglesJvm).
    */
  private val allPairsSql =
    s"""WITH tok AS (SELECT doc_id, string_split($normSql, ' ') AS t FROM documents),
       |sh AS (SELECT doc_id, CASE WHEN len(t) < 4 THEN [array_to_string(t, ' ')]
       |  ELSE list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
       |    for i in range(1, len(t) - 2)]) END AS s FROM tok),
       |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, len(a.s)::BIGINT AS n_a,
       |  len(b.s)::BIGINT AS n_b, len(list_intersect(a.s, b.s))::BIGINT AS n_common
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
       |SELECT id_a, id_b, n_a, n_b, n_common FROM p
       |WHERE 1000000 * n_common * n_common >= 490000 * n_a * n_b""".stripMargin

  private val mergeCdcSql =
    """WITH chg AS (
      |  SELECT doc_id, 'u' || s AS lang, source,
      |         n_chars + s AS n_chars, s AS seq, 'u' AS op
      |  FROM documents, (VALUES (1), (2), (3)) v(s) WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id, lang, source, n_chars, 4, 'd'
      |  FROM documents WHERE doc_id % 5 = 0
      |  UNION ALL
      |  SELECT doc_id + 10000000, 'new', source, n_chars, 1, 'u'
      |  FROM documents WHERE doc_id % 11 = 0),
      |unioned AS (
      |  SELECT doc_id, lang, source, n_chars, 0 AS prec, -1 AS seq,
      |         'u' AS op FROM documents
      |  UNION ALL
      |  SELECT doc_id, lang, source, n_chars, 1, seq, op FROM chg),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id
      |    ORDER BY prec DESC, seq DESC) AS rn FROM unioned)
      |SELECT doc_id, lang, source, CAST(n_chars AS BIGINT) AS n_chars
      |FROM ranked WHERE rn = 1 AND op <> 'd'""".stripMargin

  def oracleSql: Map[String, String] = Map(
    // v3 = the overwrite slice; v4 = its compaction (same rows by
    // contract). Recomputed from `orders` directly — any row the
    // snapshot lifecycle loses, doubles, or leaks across versions
    // breaks one of the two states' sums.
    "q_time_travel" -> ((1 to 2).map { i =>
      val tag = if (i == 1) "v3_timetravel" else "v4_compacted"
      s"SELECT '$tag' AS state, count(*)::BIGINT AS n_rows, " +
        "CAST(sum(o_orderkey) AS BIGINT) AS key_sum, " +
        s"CAST(sum(${centsSql("o_totalprice")}) AS BIGINT) AS cents_sum " +
        "FROM orders WHERE o_orderkey % 3 = 2"
    }.mkString(" UNION ALL ")),
    "q_stream_snapshot" -> ("SELECT lang, count(*)::BIGINT AS n_docs, " +
      "CAST(sum(doc_id) AS BIGINT) AS id_sum FROM documents GROUP BY lang"),
    "q_snapshot_incr" -> ("SELECT lang, count(*)::BIGINT AS n_docs, " +
      "CAST(sum(doc_id) AS BIGINT) AS id_sum FROM documents " +
      "WHERE doc_id % 3 IN (1, 2) GROUP BY lang"),
    "q_manifest_prune" -> ("SELECT count(*)::BIGINT AS n_rows, " +
      "CAST(sum(event_id) AS BIGINT) AS id_sum, " +
      s"CAST(sum(${centsSql("value")}) AS BIGINT) AS cents_sum " +
      "FROM events WHERE event_id BETWEEN 100 AND 299"),
    // the conjunction of all three pruned ranges, re-applied per row on
    // the Spark side — stats/encoding/comparison defects hash-fail here
    "q_manifest_prune_multi" -> ("SELECT count(*)::BIGINT AS n_rows, " +
      "CAST(sum(event_id) AS BIGINT) AS id_sum, " +
      "CAST(sum(user_id) AS BIGINT) AS user_sum, " +
      s"CAST(sum(${centsSql("value")}) AS BIGINT) AS cents_sum " +
      "FROM events WHERE event_id BETWEEN 100 AND 2099 " +
      "AND user_id BETWEEN 2 AND 11 " +
      "AND event_type BETWEEN 'click' AND 'purchase'"),
    // v1 = the %3=0 slice under its own 2-column schema; head = all
    // three slices under the evolved 3-column schema, n_chars non-null
    // ONLY for the %3=1 (evolved-append) rows
    "q_snapshot_evolve" -> ("""WITH v1 AS (
      |  SELECT lang, count(*)::BIGINT AS n_v1 FROM documents
      |  WHERE doc_id % 3 = 0 GROUP BY lang),
      |hd AS (
      |  SELECT lang, count(*)::BIGINT AS n_head,
      |    CAST(sum(CASE WHEN doc_id % 3 = 1 THEN n_chars END) AS BIGINT)
      |      AS chars_evolved,
      |    CAST(sum(CASE WHEN doc_id % 3 = 1 THEN 0 ELSE 1 END) AS BIGINT)
      |      AS n_nullfilled
      |  FROM documents GROUP BY lang)
      |SELECT v1.lang AS lang, n_v1, n_head, chars_evolved, n_nullfilled,
      |  CAST(2 AS BIGINT) AS v1_cols, CAST(3 AS BIGINT) AS head_cols
      |FROM v1 JOIN hd ON v1.lang = hd.lang""".stripMargin),
    "q_snapshot_diff" -> ("SELECT doc_id, 'delete' AS change " +
      "FROM documents WHERE doc_id % 5 = 0 " +
      "UNION ALL SELECT doc_id, 'update' FROM documents " +
      "WHERE doc_id % 7 = 0 AND doc_id % 5 <> 0 " +
      "UNION ALL SELECT doc_id + 1000000000, 'insert' FROM documents " +
      "WHERE doc_id % 11 = 0"),
    // bad v2 = %3=1; restored v3 = %3=0; head v4 = %3 in {0,2}
    "q_snapshot_rollback" -> ("SELECT 'bad_v2' AS state, " +
      "count(*)::BIGINT AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum " +
      "FROM documents WHERE doc_id % 3 = 1 " +
      "UNION ALL SELECT 'restored_v3', count(*)::BIGINT, " +
      "CAST(sum(doc_id) AS BIGINT) FROM documents WHERE doc_id % 3 = 0 " +
      "UNION ALL SELECT 'head_v4', count(*)::BIGINT, " +
      "CAST(sum(doc_id) AS BIGINT) FROM documents WHERE doc_id % 3 <> 1"),
    // main v1 = the %3=0 slice; the branch (and the merged main) = all
    // docs; the diff's inserts = the two branch-appended slices. Every
    // state is pure %3 arithmetic over documents
    "q_snapshot_branch" -> ("SELECT 'main_v1' AS state, " +
      "count(*)::BIGINT AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum " +
      "FROM documents WHERE doc_id % 3 = 0 " +
      "UNION ALL SELECT 'branch_head', count(*)::BIGINT, " +
      "CAST(sum(doc_id) AS BIGINT) FROM documents " +
      "UNION ALL SELECT 'diff_insert', count(*)::BIGINT, " +
      "CAST(sum(doc_id) AS BIGINT) FROM documents WHERE doc_id % 3 <> 0 " +
      "UNION ALL SELECT 'main_merged', count(*)::BIGINT, " +
      "CAST(sum(doc_id) AS BIGINT) FROM documents"),
    // pre-merge main = the %3 0∪1 slices; the branch = 0∪2; the merged
    // head = the union of both deltas over the shared base, exactly
    // once each — a dropped delta or a doubled base breaks the hash
    "q_snapshot_merge_diverged" -> ("SELECT 'main_pre' AS state, " +
      "count(*)::BIGINT AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum " +
      "FROM documents WHERE doc_id % 3 IN (0, 1) " +
      "UNION ALL SELECT 'branch_head', count(*)::BIGINT, " +
      "CAST(sum(doc_id) AS BIGINT) FROM documents WHERE doc_id % 3 IN (0, 2) " +
      "UNION ALL SELECT 'merged', count(*)::BIGINT, " +
      "CAST(sum(doc_id) AS BIGINT) FROM documents"),
    // tagged v2 = the first two slices; head v3 = the overwrite slice
    "q_snapshot_tag" -> ("SELECT 'tagged_v2' AS state, " +
      "count(*)::BIGINT AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum " +
      "FROM documents WHERE doc_id % 3 IN (0, 1) " +
      "UNION ALL SELECT 'head_v3', count(*)::BIGINT, " +
      "CAST(sum(doc_id) AS BIGINT) FROM documents WHERE doc_id % 3 = 2"),
    // q_merge_cdc's oracle minus the erased keys — the exclusion is the
    // ERASE SET's own definition (every documents key with %9 = 3), not
    // an id-window approximation: at the 100x replica the natural id
    // space crosses the +10M insert offset, so a colliding insert id is
    // legitimately erased too and both sides must agree on that. A key
    // surviving anywhere in the purged MoR history breaks the hash
    "q_gdpr_erase" -> ("SELECT * FROM (" + mergeCdcSql +
      ") WHERE doc_id NOT IN " +
      "(SELECT doc_id FROM documents WHERE doc_id % 9 = 3)"),
    // the replicated destination = exactly the two appended slices,
    // once each — a doubled recovery delivery or a skipped window
    // breaks the per-lang hash
    "q_snapshot_consume" -> ("SELECT lang, count(*)::BIGINT AS n_docs, " +
      "CAST(sum(doc_id) AS BIGINT) AS id_sum FROM documents " +
      "WHERE doc_id % 3 <> 0 GROUP BY lang"),
    // pre = the whole table; post = minus the conjunction band (doc_id
    // in [100,499] AND lang in ['de','en'] by binary order — both
    // bounds inclusive, matching StringRange's contract)
    "q_retention_delete" -> ("SELECT 'pre' AS state, lang, " +
      "count(*)::BIGINT AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum " +
      "FROM documents GROUP BY lang " +
      "UNION ALL SELECT 'post', lang, count(*)::BIGINT, " +
      "CAST(sum(doc_id) AS BIGINT) FROM documents " +
      "WHERE NOT (doc_id BETWEEN 100 AND 499 " +
      "AND lang >= 'de' AND lang <= 'en') GROUP BY lang"),
    // the whole incremental composition: the pairsMd5 pipeline decides
    // which planted near-dups drop (exactly dedup_incremental's dup
    // set), the fresh +200000 batch passes dedup by construction
    // (single-token texts have no 3-shingles to share), and the
    // expectations gate keeps latin langs inside the length band.
    // Exactly-once: the Spark side runs the step TWICE with one token —
    // a broken replay doubles every count and hash-fails
    "q_incr_pipeline" -> incrPipelineSql,
    // the accreting flavor: step 2's dedup set depends on step 1's
    // ACCEPTED rows — a non-accreting index lets every cross-batch
    // near-dup land and breaks the per-lang hash; a broken replay
    // doubles counts on any of the three tables
    "q_incr_pipeline_accrete" -> incrAccreteSql,
    // consumer-driven ticks run the SAME batches through the SAME
    // accreting algebra — identical output, same oracle; a recovery
    // double-delivery on any of the three tables breaks it
    "q_incr_pipeline_consumer" -> incrAccreteSql,
    // identical algebra: per-micro-batch matching against the standing
    // index has no batch-vs-batch interaction and the gate is per-row,
    // so the streamed union equals the one-shot batch result — same
    // oracle (the q_stream_dedup precedent)
    "q_stream_incr_pipeline" -> incrPipelineSql,
    "q_er_scored" -> erScoredSql,
    // incremental ≡ batch by the candidate complement law + whole-ledger
    // recalibration: the same oracle, verbatim
    "q_er_incremental" -> erScoredSql,
    "q_k_anonymity" -> ("SELECT lang, source, n_chars // 10 AS len_band, " +
      "count(*)::BIGINT AS group_size FROM documents " +
      "GROUP BY lang, source, len_band HAVING count(*) < 25"),
    "q_hard_negatives" -> ("""WITH q AS (
      |  SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 8),
      |scored AS (
      |  SELECT q.query_id, e.vec_id AS neighbor_id,
      |    list_cosine_similarity(q.embedding::DOUBLE[],
      |      e.embedding::DOUBLE[]) AS sim
      |  FROM q, embeddings e),
      |banded AS (SELECT * FROM scored WHERE sim >= 0.1 AND sim < 0.98),
      |ranked AS (SELECT query_id, neighbor_id, row_number() OVER (
      |  PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
      |  FROM banded)
      |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank
      |FROM ranked WHERE rank <= 10""".stripMargin),
    "q_lm_train" -> lmTrainSql,
    "q_lm_score" -> lmScoreSql,
    "q_lm_trigram" -> lmTrigramSql,
    "q_lm_filter" -> (s"WITH scored AS ($lmScoreSql) " +
      "SELECT d.lang, count(*)::BIGINT AS n_kept, " +
      "CAST(sum(d.doc_id) AS BIGINT) AS id_sum " +
      "FROM scored s JOIN documents d ON s.doc_id = d.doc_id " +
      "WHERE s.score_avg >= 34000 GROUP BY d.lang"),
    "q_allpairs_cosine" -> allPairsSql,
    "q_keyword_tag" -> ("SELECT doc_id, t AS term, count(*)::BIGINT AS n_hits " +
      s"FROM (SELECT doc_id, unnest(string_split($normSql, ' ')) AS t FROM documents) " +
      "WHERE t IN ('join', 'stream', 'dup', 'zzz_blocked') GROUP BY doc_id, t"),
    "ann_lsh" -> annLshSql,
    "ann_ivf_fixed" -> annIvfFixedSql,
    "ann_pq_fixed" -> annPqFixedSql,
    "ann_pq_rerank" -> annPqRerankSql,
    "ann_ivfpq_fixed" -> annIvfPqFixedSql,
    "q_url_dedup" -> urlDedupSql,
    "q_fuzzy_join" -> fuzzyJoinSql,
    "q_entity_resolution" -> entityResolutionSql,
    "q_pagerank" -> pagerankSql(5),
    "q_pagerank_seeded" ->
      pagerankSql(3, "CASE WHEN id % 50 = 0 THEN 1 ELSE 0 END"),
    "q_hits" -> hitsSql(3),
    "q_phonetic_block" -> phoneticBlockSql,
    // decode must reproduce the NORMALIZED corpus — the oracle hashes
    // the normalization chain directly and never sees the tokenizer
    "q_bpe_roundtrip" -> ("SELECT doc_id, md5(norm) AS dec_md5, " +
      "length(norm)::BIGINT AS n_chars FROM " +
      s"(SELECT doc_id, $normSql AS norm FROM documents)"),
    // MERGE INTO mirrored as union + row_number over (prec DESC, seq
    // DESC): seq is unique per key by construction so the rank is total;
    // winners that are deletes vanish
    "q_merge_cdc" -> mergeCdcSql,
    // storing the base + change stream through snapshot manifests and
    // compacting at READ time must reproduce the logical merge exactly
    "q_merge_on_read" -> mergeCdcSql,
    // the format-level MERGE INTO commit (stats-pruned partial rewrite,
    // latest-wins collapse, carried-by-reference files) must land the
    // IDENTICAL snapshot the logical merge computes
    "q_snapshot_merge" -> mergeCdcSql,
    // sequential seq-ordered streamed merges must land the identical
    // snapshot the one-shot logical merge computes
    "q_stream_merge_sink" -> mergeCdcSql,
    // the tokened sink must hold every source row EXACTLY once after
    // the initial load + per-version windows + the crash replay — the
    // chain only drops meta.src, so (doc_id, lang, n_chars) survive
    "q_stream_from_snapshot" -> ("SELECT doc_id, lang, " +
      "n_chars::BIGINT AS n_chars FROM documents"),
    // the sink-format pipeline must land the identical exactly-once
    // surface (same rows, different crash site: the SINK token)
    "q_stream_table_to_table" -> ("SELECT doc_id, lang, " +
      "n_chars::BIGINT AS n_chars FROM documents"),
    // crossing a mid-stream compaction must deliver EXACTLY the data
    // rows — the dataChange=false window contributes nothing
    "q_stream_across_compaction" -> ("SELECT doc_id, lang, " +
      "n_chars::BIGINT AS n_chars FROM documents"),
    // both sides of the shallow clone after divergence: src = docs +
    // 'sr' extras (%3), clone = docs + 'cl' extras (%5); doc_id offsets
    // make id_sum side-sensitive — any cross-leak breaks the hash
    "q_snapshot_clone" -> ("""WITH d AS (
      |  SELECT doc_id, lang FROM documents),
      |srcside AS (
      |  SELECT lang, doc_id FROM d
      |  UNION ALL
      |  SELECT 'sr', doc_id + 20000000 FROM d WHERE doc_id % 3 = 0),
      |cloneside AS (
      |  SELECT lang, doc_id FROM d
      |  UNION ALL
      |  SELECT 'cl', doc_id + 10000000 FROM d WHERE doc_id % 5 = 0)
      |SELECT 'src' AS side, lang, count(*)::BIGINT AS n_docs,
      |       sum(doc_id)::BIGINT AS id_sum FROM srcside GROUP BY lang
      |UNION ALL
      |SELECT 'clone', lang, count(*)::BIGINT, sum(doc_id)::BIGINT
      |FROM cloneside GROUP BY lang""".stripMargin),
    // the SQL-text views over the format: head = all docs (v1 evens +
    // v2 odds), the pinned view = v1's even half
    "q_snapshot_sql_read" -> ("""WITH d AS (
      |  SELECT doc_id, lang, n_chars::BIGINT AS n_chars FROM documents)
      |SELECT 'head' AS state, lang, count(*)::BIGINT AS n_docs,
      |       sum(n_chars)::BIGINT AS sum_chars
      |FROM d WHERE doc_id >= 100 GROUP BY lang
      |UNION ALL
      |SELECT 'v1', lang, count(*)::BIGINT, sum(n_chars)::BIGINT
      |FROM d WHERE doc_id % 2 = 0 AND doc_id >= 100 GROUP BY lang""".stripMargin),
    // the pending-MoR view's delete semantics: base minus the erased
    // %7=2 keys plus the re-inserted %21=2 as 'rx' (appended after the
    // delete — commit-order scoping keeps them)
    "q_snapshot_sql_read_mor" -> ("""WITH live AS (
      |  SELECT doc_id, lang, n_chars::BIGINT AS n_chars FROM documents
      |  WHERE doc_id % 7 <> 2
      |  UNION ALL
      |  SELECT doc_id, 'rx', n_chars::BIGINT FROM documents
      |  WHERE doc_id % 21 = 2)
      |SELECT lang, count(*)::BIGINT AS n_docs,
      |       sum(n_chars)::BIGINT AS sum_chars,
      |       sum(doc_id)::BIGINT AS id_sum
      |FROM live WHERE doc_id >= 50 GROUP BY lang""".stripMargin),
    // the MV's head = the one-shot aggregate over the whole corpus
    "q_stream_mv_snapshot" -> ("SELECT lang, count(*)::BIGINT AS n_docs, " +
      "CAST(sum(doc_id) AS BIGINT) AS id_sum FROM documents GROUP BY lang"),
    // the update-mode sink must land the identical snapshot the
    // one-shot logical merge computes (q_stream_merge_sink's contract,
    // now with zero user code)
    "q_stream_upsert_sink" -> mergeCdcSql,
    // the zero-code replica must land the applied law — same oracle as
    // the hand-maintained q_stream_from_snapshot_feed replica
    "q_stream_replicate" -> ("""WITH reins AS (
      |  SELECT doc_id, lang FROM documents WHERE doc_id % 9 <> 3
      |  UNION ALL
      |  SELECT doc_id, 're' AS lang FROM documents WHERE doc_id % 27 = 3)
      |SELECT lang, count(*)::BIGINT AS n_docs,
      |       sum(doc_id)::BIGINT AS id_sum FROM reins GROUP BY lang""".stripMargin),
    // the streamed replica must land q_change_feed's applied law: base
    // minus the erased %9=3 keys plus the re-inserted %27=3 as 're'
    "q_stream_from_snapshot_feed" -> ("""WITH reins AS (
      |  SELECT doc_id, lang FROM documents WHERE doc_id % 9 <> 3
      |  UNION ALL
      |  SELECT doc_id, 're' AS lang FROM documents WHERE doc_id % 27 = 3)
      |SELECT lang, count(*)::BIGINT AS n_docs,
      |       sum(doc_id)::BIGINT AS id_sum FROM reins GROUP BY lang""".stripMargin),
    // UPDATE WHERE replayed as CASE WHEN over the same conjunction —
    // both SET expressions read the pre-update row on both engines
    "q_update_where" -> ("""WITH upd AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id BETWEEN 100 AND 499 AND lang BETWEEN 'de' AND 'en'
      |         THEN 'u-' || lang ELSE lang END AS lang,
      |    CASE WHEN doc_id BETWEEN 100 AND 499 AND lang BETWEEN 'de' AND 'en'
      |         THEN n_chars + 1000 ELSE n_chars END AS n_chars
      |  FROM documents)
      |SELECT 'pre' AS state, lang, count(*)::BIGINT AS n_docs,
      |       sum(n_chars)::BIGINT AS sum_chars FROM documents GROUP BY lang
      |UNION ALL
      |SELECT 'post', lang, count(*)::BIGINT, sum(n_chars)::BIGINT
      |FROM upd GROUP BY lang""".stripMargin),
    // the metadata-only counts must equal the scan counts exactly
    "q_meta_count" -> ("SELECT 'v1' AS state, count(*)::BIGINT AS n_rows " +
      "FROM documents WHERE doc_id % 3 = 0 UNION ALL " +
      "SELECT 'head', count(*)::BIGINT FROM documents"),
    // the bucket-pruned point lookup must return exactly the keyed rows
    // — planning through per-file bucket cells is pure metadata, so the
    // oracle is the plain IN-list select
    "q_bucket_lookup" -> ("SELECT doc_id, lang, CAST(n_chars AS BIGINT) " +
      "AS n_chars FROM documents WHERE doc_id IN (3, 57, 123, 456, 499)"),
    // the applied feed must equal the logical erase+reinsert state; the
    // feed's own op slices pin the emitted change rows
    "q_change_feed" -> ("""WITH base AS (SELECT doc_id, lang FROM documents),
      |erased AS (SELECT * FROM base WHERE doc_id % 9 <> 3),
      |re AS (SELECT doc_id, 're' AS lang FROM base WHERE doc_id % 27 = 3),
      |reins AS (SELECT * FROM erased UNION ALL SELECT * FROM re)
      |SELECT 'applied' AS state, lang, count(*)::BIGINT AS n_docs,
      |       sum(doc_id)::BIGINT AS id_sum FROM reins GROUP BY lang
      |UNION ALL
      |SELECT 'feed_d', 'all', count(*)::BIGINT, sum(doc_id)::BIGINT
      |FROM base WHERE doc_id % 9 = 3
      |UNION ALL
      |SELECT 'feed_u', lang, count(*)::BIGINT, sum(doc_id)::BIGINT
      |FROM re GROUP BY lang""".stripMargin),
    // merge-on-read equality deletes replayed in SQL: the erase is an
    // anti-join over prior rows, the re-insert lands after it, and the
    // compacted state must equal the re-inserted one verbatim
    "q_mor_erase" -> ("""WITH base AS (SELECT doc_id, lang FROM documents),
      |erased AS (SELECT * FROM base WHERE doc_id % 9 <> 3),
      |re AS (SELECT doc_id, 're' AS lang FROM base WHERE doc_id % 27 = 3),
      |reins AS (SELECT * FROM erased UNION ALL SELECT * FROM re)
      |SELECT 'erased' AS state, lang, count(*)::BIGINT AS n_docs,
      |       sum(doc_id)::BIGINT AS id_sum FROM erased GROUP BY lang
      |UNION ALL
      |SELECT 'reinserted', lang, count(*)::BIGINT, sum(doc_id)::BIGINT
      |FROM reins GROUP BY lang
      |UNION ALL
      |SELECT 'compacted', lang, count(*)::BIGINT, sum(doc_id)::BIGINT
      |FROM reins GROUP BY lang""".stripMargin),
    // the storage round trip adds nothing the logical merge doesn't:
    // the oracle is the same union + row_number mirror (updates keep
    // lang, bump n_chars); any partition-mechanics defect (resurrected
    // emptied partition, unmerged update) breaks the hash
    "q_merge_partitioned" -> ("""WITH docs AS (
      |  SELECT doc_id, CASE doc_id % 13
      |    WHEN 0 THEN NULL
      |    WHEN 1 THEN lang || ' x'
      |    WHEN 2 THEN lang || ':'
      |    WHEN 3 THEN lang || '%'
      |    ELSE lang END AS part, n_chars
      |  FROM documents),
      |chg AS (
      |  SELECT doc_id, part, n_chars + s AS n_chars, s AS seq, 'u' AS op
      |  FROM docs, (VALUES (1), (2), (3)) v(s) WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id, part, n_chars, 4, 'd'
      |  FROM docs WHERE doc_id % 5 = 0
      |  UNION ALL
      |  SELECT doc_id + 10000000, part, n_chars, 1, 'u'
      |  FROM docs WHERE doc_id % 11 = 0),
      |unioned AS (
      |  SELECT doc_id, part, n_chars, 0 AS prec, -1 AS seq, 'u' AS op
      |  FROM docs
      |  UNION ALL
      |  SELECT doc_id, part, n_chars, 1, seq, op FROM chg),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id
      |    ORDER BY prec DESC, seq DESC) AS rn FROM unioned)
      |SELECT doc_id, part, CAST(n_chars AS BIGINT) AS n_chars
      |FROM ranked WHERE rn = 1 AND op <> 'd'""".stripMargin),
    // the SCD2 rebuild mirrored step for step: same version stream, the
    // same run-collapse (lag over a (op, attrs) state string — chr(1)
    // stands in for the tombstone's NULL attrs since || propagates NULL),
    // the same interval derivation (lead), tombstones and zero-length
    // versions dropped. NULLS FIRST pins DuckDB's ordering to Spark's
    // asc-nulls-first default for the attrs tiebreak.
    "q_scd2" -> (scd2TimelineCtes + """
      |SELECT id, lang, valid_from, valid_to FROM iv
      |WHERE op <> 'd' AND (valid_to IS NULL OR valid_to <> valid_from)""".stripMargin),
    // the MV law stated declaratively: the incrementally-maintained
    // view must equal a full recompute over the post-change fact table
    "q_mv_incremental" -> (s"""WITH facts AS (
      |  SELECT user_id, event_type,
      |    ${centsSql("value")}
      |      + CASE WHEN event_id % 7 = 0 THEN 10000 ELSE 0 END AS c
      |  FROM events
      |  WHERE NOT (event_id % 5 = 0 AND event_id % 7 <> 0))
      |SELECT user_id, event_type, CAST(sum(c) AS BIGINT) AS sum_cents,
      |  count(*) AS n FROM facts GROUP BY 1, 2""".stripMargin),
    // three micro-batch folds of the split delta must equal the single
    // fold — q_mv_incremental's recompute oracle verbatim
    "q_stream_mv" -> (s"""WITH facts AS (
      |  SELECT user_id, event_type,
      |    ${centsSql("value")}
      |      + CASE WHEN event_id % 7 = 0 THEN 10000 ELSE 0 END AS c
      |  FROM events
      |  WHERE NOT (event_id % 5 = 0 AND event_id % 7 <> 0))
      |SELECT user_id, event_type, CAST(sum(c) AS BIGINT) AS sum_cents,
      |  count(*) AS n FROM facts GROUP BY 1, 2""".stripMargin),
    // the composition law IS the claim: two sequential stored applies
    // equal the one-shot rebuild, so the oracle is q_scd2's verbatim
    "q_scd2_storage" -> (scd2TimelineCtes + """
      |SELECT id, lang, valid_from, valid_to FROM iv
      |WHERE op <> 'd' AND (valid_to IS NULL OR valid_to <> valid_from)""".stripMargin),
    // identical timeline CTEs, then the interval-cover filter per
    // snapshot timestamp
    "q_scd2_asof" -> (scd2TimelineCtes + """,
      |hist AS (
      |  SELECT id, lang, valid_from, valid_to FROM iv
      |  WHERE op <> 'd' AND (valid_to IS NULL OR valid_to <> valid_from))
      |SELECT t.snap_ts, h.id, h.lang, h.valid_from, h.valid_to
      |FROM hist h CROSS JOIN (SELECT unnest([250, 350]) AS snap_ts) t
      |WHERE h.valid_from <= t.snap_ts
      |  AND (h.valid_to IS NULL OR h.valid_to > t.snap_ts)""".stripMargin),
    // same timeline CTEs; the oracle states the enrichment contract
    // DIRECTLY as the declarative interval-cover LEFT JOIN the as-of
    // formulation claims to equal (gaps and pre-history facts -> NULL)
    "q_scd2_enrich" -> (scd2TimelineCtes + """,
      |hist AS (
      |  SELECT id, lang, valid_from, valid_to FROM iv
      |  WHERE op <> 'd' AND (valid_to IS NULL OR valid_to <> valid_from)),
      |facts AS (
      |  SELECT doc_id AS id,
      |    CAST(CASE WHEN doc_id % 17 = 0 THEN -1
      |              ELSE (doc_id * 37 + 13) % 550 END AS BIGINT) AS fact_ts
      |  FROM documents)
      |SELECT f.id, f.fact_ts, h.lang, h.valid_from
      |FROM facts f LEFT JOIN hist h
      |  ON f.id = h.id AND h.valid_from <= f.fact_ts
      |  AND (h.valid_to IS NULL OR h.valid_to > f.fact_ts)""".stripMargin),
    // the sketch is exact-verified, so the oracle is the plain
    // GROUP BY / HAVING it guarantees: integer share arithmetic,
    // count(*) OVER () for the corpus token total
    "q_heavy_hitters" -> ("""WITH toks AS (
      |  SELECT unnest(string_split(
      |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS token
      |  FROM documents),
      |cnts AS (
      |  SELECT token, count(*) AS cnt, sum(count(*)) OVER () AS n_total
      |  FROM toks GROUP BY token)
      |SELECT token, CAST(cnt AS BIGINT) AS cnt FROM cnts
      |WHERE cnt * 500 >= n_total""".stripMargin),
    "q_semdedup" -> semDedupSql,
    "dedup_emb_pairs_ora" -> embPairsSql,
    "dedup_pairs_md5" -> pairsMd5Sql,
    "q_dedup_pr_sweep" -> prSweepSql,
    "dedup_e2e_md5" -> e2eMd5Sql,
    "dedup_quality_rep" -> qualityRepSql,
    // incremental = the shared pair pipeline restricted to index→batch
    // pairs (old ids < 100000 < planted batch ids), min index match per
    // batch doc; min(BIGINT) stays BIGINT (no HUGEINT trap)
    // the batch is EXACTLY ids 100000..100019 (docs 0..19 planted at
    // +100000): bound id_b on both sides so a corpus whose natural id
    // space extends past 100000 (e.g. the 10× tiled scale-up corpus)
    // cannot leak corpus-corpus pairs into the "batch" rows. Like every
    // planted query, the oracle still assumes no NATURAL id occupies the
    // planted window itself (a natural 100000..100019 doc would alias
    // the planted one inside the oracle's union while the engine keeps
    // them distinct) — a testdata-id-space convention, not an operator
    // limitation.
    "dedup_incremental" -> (s"WITH $pairsMd5Ctes\n" +
      "SELECT id_b AS doc_id, min(id_a) AS dup_of FROM pr " +
      "WHERE id_b >= 100000 AND id_b < 100020 AND id_a < 100000 GROUP BY id_b"),
    // identical algebra: per-micro-batch matching against a static index
    // has no batch-vs-batch interaction, so the streamed union equals the
    // one-shot batch result; n_appends = 1 witnesses exactly-once emission
    "q_stream_dedup" -> (s"WITH $pairsMd5Ctes\n" +
      "SELECT id_b AS doc_id, min(id_a) AS dup_of, " +
      "CAST(1 AS BIGINT) AS n_appends FROM pr " +
      "WHERE id_b >= 100000 AND id_b < 100020 AND id_a < 100000 GROUP BY id_b"),
    // parallel unnests zip positionally; a binary32 float times 2^20 is
    // exact in double (exponent shift), so floor+sum are engine-exact
    "q_centroids" -> ("SELECT label, d AS dim, count(*) AS n, " +
      "CAST(sum(q) AS BIGINT) AS sum_q FROM (" +
      "SELECT label, unnest(range(0, len(embedding))) AS d, " +
      "CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1048576) AS BIGINT) AS q " +
      "FROM embeddings) GROUP BY label, d"),
    "drop_nested" -> "SELECT event_id, user_id, value AS v FROM events",
    "drop_subtree" -> "SELECT event_id, value AS v FROM events",
    "drop_schemaless" -> ("SELECT event_id, concat('{\"user_id\":', user_id, " +
      "',\"meta\":{\"event_type\":\"', event_type, '\"}}') AS dropped FROM events"),
    "hoist_keep" -> ("SELECT event_id, (event_type = 'error') AS payload_is_null, " +
      "CASE WHEN event_type = 'error' THEN NULL ELSE user_id END AS pa, " +
      "CASE WHEN event_type = 'error' THEN NULL ELSE event_id END AS pb FROM events"),
    "hoist_passthrough" -> "SELECT event_id, user_id FROM events",
    "hoist_schemaless" ->
      "SELECT event_id, concat('{\"wrapped\":', replace(props, ' ', ''), '}') AS wrapped FROM events",
    "hoist_schemaless_keep" ->
      "SELECT event_id, replace(props, ' ', '') AS kept FROM events",
    "to_json_map" -> "SELECT event_id, replace(props, ' ', '') AS j FROM events",
    "chain_props" ->
      "SELECT event_id, event_type, '{\"wrapped\":{}}' AS props FROM events",
    "variant_extract" -> ("SELECT event_id, (props::JSON ->> 'k')::BIGINT AS k_val, " +
      "(props::JSON ->> 'missing')::BIGINT AS missing_val FROM events"),
    "drop_variant" -> ("SELECT event_id, concat('{\"k\":', event_id, " +
      "',\"meta\":{\"u\":', user_id, '}}') AS dropped FROM events"),
    "hoist_variant" -> ("SELECT event_id, concat('{\"id\":', event_id, " +
      "',\"wrapped\":{\"t\":\"', event_type, '\",\"u\":', user_id, '}}') " +
      "AS hoisted FROM events"),
    "q1_agg" -> ("SELECT l_returnflag, l_linestatus, " +
      s"${sumCentsSql("l_quantity")} AS sum_qty_cents, " +
      s"${sumCentsSql("l_extendedprice")} AS sum_price_cents, " +
      "count(*) AS cnt FROM lineitem GROUP BY l_returnflag, l_linestatus"),
    "q3_join" -> (s"SELECT n_name, ${sumCentsSql("o_totalprice")} AS rev_cents, " +
      "count(*) AS n_orders FROM orders " +
      "JOIN customer ON o_custkey = c_custkey " +
      "JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name"),
    "q_topk_window" -> ("SELECT c_mktsegment, c_custkey, c_acctbal, rank FROM (" +
      "SELECT c_mktsegment, c_custkey, c_acctbal, row_number() OVER (" +
      "PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS rank " +
      "FROM customer) WHERE rank <= 3"),
    "q_topk_custom" -> ("SELECT c_mktsegment, c_custkey, c_acctbal, rank FROM (" +
      "SELECT c_mktsegment, c_custkey, c_acctbal, row_number() OVER (" +
      "PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS rank " +
      "FROM customer) WHERE rank <= 3"),
    "q_zorder" -> ("SELECT event_id, " +
      graft.functions.ZOrder.zValueSql("user_id", "(event_id & 1023)", 16) +
      " AS z FROM events"),
    // concat_ws skips NULLs in BOTH engines, so the violations string
    // assembles identically; NOT coalesce(pred, FALSE) mirrors the
    // gate's NULL-pred-is-violation semantics
    "q_quality_gate" -> ("""SELECT doc_id, violations FROM (
      |SELECT doc_id, concat_ws(',',
      |  CASE WHEN NOT coalesce(n_chars >= 100, FALSE) THEN 'len_min' END,
      |  CASE WHEN NOT coalesce(n_chars <= 400, FALSE) THEN 'len_max' END,
      |  CASE WHEN NOT coalesce(lang IN ('en','de','fr','es'), FALSE)
      |    THEN 'lang_latin' END,
      |  CASE WHEN NOT coalesce(n_chars = length(text), FALSE)
      |    THEN 'chars_consistent' END,
      |  CASE WHEN NOT coalesce(text IS NOT NULL AND length(text) > 0, FALSE)
      |    THEN 'text_present' END) AS violations
      |FROM documents) WHERE violations <> ''""".stripMargin),
    // identical gate semantics through the micro-batch replay; each doc
    // lands in exactly one batch → n_appends pinned to 1
    "q_stream_quality" -> ("""SELECT doc_id, violations,
      |  CAST(1 AS BIGINT) AS n_appends FROM (
      |SELECT doc_id, concat_ws(',',
      |  CASE WHEN NOT coalesce(n_chars >= 100, FALSE) THEN 'len_min' END,
      |  CASE WHEN NOT coalesce(n_chars <= 400, FALSE) THEN 'len_max' END,
      |  CASE WHEN NOT coalesce(lang IN ('en','de','fr','es'), FALSE)
      |    THEN 'lang_latin' END,
      |  CASE WHEN NOT coalesce(n_chars = length(text), FALSE)
      |    THEN 'chars_consistent' END,
      |  CASE WHEN NOT coalesce(text IS NOT NULL AND length(text) > 0, FALSE)
      |    THEN 'text_present' END) AS violations
      |FROM documents) WHERE violations <> ''""".stripMargin),
    "q_quality_metrics" -> ("""SELECT n_rows,
      |  CAST(c_text * 1000000 // n_rows AS BIGINT) AS completeness_text_ppm,
      |  d_doc, d_lang,
      |  CAST(c_len * 1000000 // n_rows AS BIGINT) AS conform_len_ppm,
      |  len_lo, len_hi
      |FROM (SELECT count(*) AS n_rows, count(text) AS c_text,
      |  count(DISTINCT doc_id) AS d_doc, count(DISTINCT lang) AS d_lang,
      |  CAST(sum(CASE WHEN n_chars BETWEEN 100 AND 400 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS c_len,
      |  min(n_chars) AS len_lo, max(n_chars) AS len_hi FROM documents)""".stripMargin),
    "q_hilbert" -> ("WITH " + graft.functions.Hilbert.indexSqlCtes(
      "(SELECT event_id, user_id FROM events)", "user_id",
      "event_id & 1023", 10) +
      "\nSELECT event_id, CAST(hd10 AS BIGINT) AS h FROM h10"),
    "q_per_key_cap" -> ("SELECT doc_id, lang FROM (" +
      "SELECT doc_id, lang, row_number() OVER (PARTITION BY lang ORDER BY " +
      "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT, doc_id) AS rn " +
      "FROM documents) WHERE rn <= 40"),
    "q_rolling_window" -> ("SELECT event_id, user_id, " +
      "CAST(sum(vc) OVER w AS BIGINT) AS roll_cents, count(*) OVER w AS roll_n " +
      "FROM (SELECT event_id, user_id, epoch_us(ts) AS us, " +
      s"${centsSql("value")} AS vc FROM events) " +
      "WINDOW w AS (PARTITION BY user_id ORDER BY us " +
      "RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)"),
    "q_events_daily" -> ("SELECT user_id, date_trunc('day', ts)::DATE AS day, " +
      s"count(*) AS n_events, ${sumCentsSql("value")} AS sum_value_cents " +
      "FROM events GROUP BY user_id, date_trunc('day', ts)::DATE"),
    // the streaming path must land on exactly the batch daily aggregate;
    // the chain witness means a silently-unapplied transform shows up as
    // zero rows, not as a plausible-looking partial result
    "q_stream_daily" -> ("SELECT CAST(epoch_us(date_trunc('day', ts)) AS BIGINT) " +
      "AS win_start_us, event_type, count(*) AS n_events, " +
      s"${sumCentsSql("value")} AS sum_value_cents " +
      "FROM events GROUP BY 1, 2"),
    // append-mode watermark contract: the marked day-1 subset arrived late
    // (third micro-batch) so it is EVICTED, and the final day's window
    // never closes — the oracle states both facts in plain SQL
    "q_stream_append" -> ("SELECT CAST(epoch_us(date_trunc('day', ts)) AS BIGINT) " +
      "AS win_start_us, event_type, count(*) AS n_events, " +
      s"${sumCentsSql("value")} AS sum_value_cents FROM events " +
      "WHERE NOT (date_trunc('day', ts) = " +
      "(SELECT date_trunc('day', min(ts)) FROM events) AND user_id % 7 = 3) " +
      "AND date_trunc('day', ts) < (SELECT date_trunc('day', max(ts)) FROM events) " +
      "GROUP BY 1, 2"),
    // stream-stream interval join: the batch join over (purchases minus
    // the marked LATE subset) × errors — the late b3 purchases are below
    // the watermark when they replay, so the streaming result must equal
    // this exclusion exactly (any late match, or any eviction-lost b1/b2
    // match, breaks the hash)
    "q_stream_ssjoin" -> ("SELECT p.event_id, epoch_us(e.ts) AS err_us " +
      "FROM events p JOIN events e ON e.user_id = p.user_id " +
      "AND p.event_type = 'purchase' AND e.event_type = 'error' " +
      "AND epoch_us(e.ts) BETWEEN epoch_us(p.ts) - 1800000000 AND epoch_us(p.ts) " +
      "WHERE p.event_type = 'purchase' AND NOT (date_trunc('day', p.ts) = " +
      "(SELECT date_trunc('day', min(ts)) FROM events) AND p.user_id % 7 = 3)"),
    // left-outer mirror: every non-late purchase appears — matched rows
    // as in the inner oracle, matchless ones exactly once with the -1
    // null sentinel (the streaming side must emit them via outer-state
    // eviction, and must NOT emit the late b3 purchases at all)
    "q_stream_ssjoin_outer" -> ("SELECT p.event_id, " +
      "coalesce(epoch_us(e.ts), -1) AS err_us " +
      "FROM events p LEFT JOIN events e ON e.user_id = p.user_id " +
      "AND e.event_type = 'error' " +
      "AND epoch_us(e.ts) BETWEEN epoch_us(p.ts) - 1800000000 AND epoch_us(p.ts) " +
      "WHERE p.event_type = 'purchase' AND NOT (date_trunc('day', p.ts) = " +
      "(SELECT date_trunc('day', min(ts)) FROM events) AND p.user_id % 7 = 3)"),
    // the sketch's error CONTRACT is the portable fact: every group must
    // land within tolerance x rsd of exact, so the oracle expects TRUE
    "q_approx_stats" -> ("SELECT event_type, " +
      "count(DISTINCT user_id) AS exact_distinct, count(*) AS n_rows, " +
      "TRUE AS within_rsd FROM events GROUP BY event_type"),
    "q_rollup" -> ("SELECT coalesce(l_returnflag, '(all)') AS l_returnflag, " +
      "coalesce(l_linestatus, '(all)') AS l_linestatus, " +
      "CAST(GROUPING(l_returnflag) AS INT) AS g_rf, " +
      "CAST(GROUPING(l_linestatus) AS INT) AS g_ls, " +
      s"${sumCentsSql("l_quantity")} AS sum_qty_cents, count(*) AS cnt " +
      "FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)"),
    "q_cube" -> ("SELECT coalesce(l_returnflag, '(all)') AS l_returnflag, " +
      "coalesce(l_linestatus, '(all)') AS l_linestatus, " +
      "CAST(GROUPING(l_returnflag) AS INT) AS g_rf, " +
      "CAST(GROUPING(l_linestatus) AS INT) AS g_ls, " +
      s"${sumCentsSql("l_quantity")} AS sum_qty_cents, count(*) AS cnt " +
      "FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)"),
    "q_window_funcs" -> ("SELECT o_orderkey, o_custkey, " +
      "lag(o_orderkey) OVER w AS prev_orderkey, " +
      "lead(o_orderkey) OVER w AS next_orderkey, " +
      "CAST(ntile(4) OVER w AS INT) AS quartile, " +
      "count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey " +
      "ROWS UNBOUNDED PRECEDING) AS n_so_far " +
      "FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)"),
    "q_distinct_agg" -> ("SELECT event_type, count(DISTINCT user_id) AS n_users, " +
      "count(*) AS n_events FROM events GROUP BY event_type"),
    "q_grouping_sets" -> ("SELECT coalesce(l_returnflag, '(all)') AS l_returnflag, " +
      "coalesce(l_linestatus, '(all)') AS l_linestatus, " +
      "CAST(GROUPING(l_returnflag) AS INT) AS g_rf, " +
      "CAST(GROUPING(l_linestatus) AS INT) AS g_ls, " +
      s"${sumCentsSql("l_quantity")} AS sum_qty_cents, count(*) AS cnt " +
      "FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))"),
    "q_full_outer" -> ("SELECT coalesce(p.user_id, r.user_id) AS user_id, " +
      "coalesce(n_purchase, 0) AS n_purchase, coalesce(n_error, 0) AS n_error " +
      "FROM (SELECT user_id, count(*) AS n_purchase FROM events " +
      "WHERE event_type = 'purchase' GROUP BY user_id) p " +
      "FULL OUTER JOIN (SELECT user_id, count(*) AS n_error FROM events " +
      "WHERE event_type = 'error' GROUP BY user_id) r ON p.user_id = r.user_id"),
    "q_corpus_diff" -> ("WITH v1 AS (SELECT doc_id, source, md5(text) AS h " +
      "FROM documents), " +
      "v2 AS (SELECT doc_id, source, CASE WHEN doc_id % 13 = 0 " +
      "THEN md5(text || ' v2') ELSE md5(text) END AS h FROM documents " +
      "WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 31 <> 0 " +
      "UNION ALL SELECT doc_id + 1000000, source, md5('new:' || text) " +
      "FROM documents WHERE doc_id < 10), " +
      "j AS (SELECT coalesce(a.source, b.source) AS source, " +
      "CASE WHEN a.doc_id IS NULL THEN 'added' " +
      "WHEN b.doc_id IS NULL THEN 'removed' " +
      "WHEN a.h <> b.h THEN 'changed' ELSE 'same' END AS status " +
      "FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id) " +
      "SELECT source, status, count(*) AS n_docs FROM j GROUP BY source, status"),
    "q_tfidf" -> ("WITH tf AS (SELECT doc_id, token, count(*) AS tf FROM (" +
      s"SELECT doc_id, unnest(string_split($normSql, ' ')) AS token FROM documents) " +
      "GROUP BY doc_id, token), " +
      "dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token), " +
      "ranked AS (SELECT doc_id, token, tf, " +
      "CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, token) AS INT) AS rnk FROM tf) " +
      "SELECT r.doc_id, r.token, r.tf, d.df, r.rnk " +
      "FROM ranked r JOIN dfreq d ON r.token = d.token WHERE r.rnk <= 3"),
    // exact-integer BM25: same cleared-rational saturation formula, same
    // tie-break (sat DESC, doc_id) — DuckDB's // is integer div on
    // BIGINTs; every sum is CAST back to BIGINT (HUGEINT rule)
    "q_bm25" -> ("WITH tok AS (SELECT doc_id, " +
      s"unnest(string_split($normSql, ' ')) AS t FROM documents), " +
      "pd AS (SELECT doc_id, count(*) AS dl, " +
      "CAST(sum(CASE WHEN t = 'join' THEN 1 ELSE 0 END) AS BIGINT) AS tf_join, " +
      "CAST(sum(CASE WHEN t = 'filter' THEN 1 ELSE 0 END) AS BIGINT) AS tf_filter, " +
      "CAST(sum(CASE WHEN t = 'slow' THEN 1 ELSE 0 END) AS BIGINT) AS tf_slow " +
      "FROM tok GROUP BY doc_id), " +
      "tot AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS tt, " +
      "CAST(sum(CASE WHEN tf_join > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_join, " +
      "CAST(sum(CASE WHEN tf_filter > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_filter, " +
      "CAST(sum(CASE WHEN tf_slow > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_slow " +
      "FROM pd), " +
      "st AS (SELECT doc_id, dl, 'join' AS term, tf_join AS tf FROM pd " +
      "UNION ALL SELECT doc_id, dl, 'filter', tf_filter FROM pd " +
      "UNION ALL SELECT doc_id, dl, 'slow', tf_slow FROM pd), " +
      "sc AS (SELECT s.doc_id, s.term, s.tf, s.dl, " +
      "CASE s.term WHEN 'join' THEN t.df_join WHEN 'filter' THEN t.df_filter " +
      "ELSE t.df_slow END AS df, t.n_docs, " +
      "(1000000 * 22 * s.tf * t.tt) // (10 * s.tf * t.tt + 3 * t.tt + 9 * s.dl * t.n_docs) AS sat_1e6 " +
      "FROM st s, tot t WHERE s.tf > 0) " +
      "SELECT term, doc_id, tf, dl, df, n_docs, sat_1e6, rnk FROM (" +
      "SELECT *, CAST(row_number() OVER (PARTITION BY term " +
      "ORDER BY sat_1e6 DESC, doc_id) AS INT) AS rnk FROM sc) WHERE rnk <= 5"),
    // winnowing mirror: shingle hashes via the portable md5-slice lane,
    // identical ROWS-frame sliding min, same full-window cutoffs
    "q_winnow" -> ("WITH t AS (SELECT doc_id, " +
      s"string_split($normSql, ' ') AS ts FROM documents), " +
      "pos0 AS (SELECT doc_id, ts, " +
      "unnest(range(0, greatest(len(ts) - 3, 0))) AS pos FROM t), " +
      "sh AS (SELECT doc_id, pos, " +
      "('0x' || substr(md5(array_to_string(list_slice(ts, pos + 1, pos + 4), ' ')), 1, 8))::BIGINT AS h " +
      "FROM pos0), " +
      "mn AS (SELECT doc_id, pos, " +
      "min(h) OVER (PARTITION BY doc_id ORDER BY pos " +
      "ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS win_min, " +
      "count(*) OVER (PARTITION BY doc_id) AS m FROM sh) " +
      "SELECT doc_id, CAST(len(list_distinct(list(win_min))) AS BIGINT) AS n_fp, " +
      "md5(array_to_string(list_sort(list_distinct(list(win_min))), ',')) AS fp_md5 " +
      "FROM mn WHERE pos <= m - 5 GROUP BY doc_id"),
    // winnow-pairs mirror: same planted corpus, same md5-lane shingle
    // hashes, same ROWS-frame sliding min, fp-equality join + >=2 vote
    "q_winnow_pairs" -> ("WITH docs2 AS (SELECT doc_id, text FROM documents " +
      "UNION ALL SELECT doc_id + 300000 AS doc_id, " +
      "'prefix words changed here ' || text || ' and a different tail' AS text " +
      "FROM documents WHERE doc_id < 15), " +
      "t AS (SELECT doc_id, " +
      s"string_split($normSql, ' ') AS ts FROM docs2), " +
      "pos0 AS (SELECT doc_id, ts, " +
      "unnest(range(0, greatest(len(ts) - 3, 0))) AS pos FROM t), " +
      "sh AS (SELECT doc_id, pos, " +
      "('0x' || substr(md5(array_to_string(list_slice(ts, pos + 1, pos + 4), ' ')), 1, 8))::BIGINT AS h " +
      "FROM pos0), " +
      "mn AS (SELECT doc_id, pos, " +
      "min(h) OVER (PARTITION BY doc_id ORDER BY pos " +
      "ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS win_min, " +
      "count(*) OVER (PARTITION BY doc_id) AS m FROM sh), " +
      "fp0 AS (SELECT DISTINCT doc_id, win_min AS fp FROM mn WHERE pos <= m - 5), " +
      "cn AS (SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS cnt FROM fp0), " +
      "sm AS (SELECT fp, doc_id FROM cn WHERE cnt > 1 AND cnt <= 64), " +
      "sp AS (SELECT a.fp, a.doc_id AS id_a, b.doc_id AS id_b FROM sm a " +
      "JOIN sm b ON a.fp = b.fp AND a.doc_id < b.doc_id), " +
      "cp AS (SELECT fp, doc_id AS id_a, lead(doc_id) OVER " +
      "(PARTITION BY fp ORDER BY doc_id) AS id_b FROM cn " +
      "WHERE cnt > 64 AND cnt <= 4096), " +
      "cand AS (SELECT * FROM sp UNION ALL " +
      "SELECT fp, id_a, id_b FROM cp WHERE id_b IS NOT NULL) " +
      "SELECT id_a, id_b, count(DISTINCT fp) AS n_shared FROM cand " +
      "GROUP BY 1, 2 HAVING count(DISTINCT fp) >= 2"),
    // span-dedup mirror: same planted union, same 8-gram md5 digests;
    // covered = union of [s, s+8) per duplicated start (range() is
    // end-exclusive ≡ Spark sequence(s, s+7)); rebuild keeps tokens whose
    // index escapes the covered list, md5 of the ' '-rejoin
    "q_span_dedup" -> ("WITH all_docs AS (SELECT doc_id, text FROM documents " +
      "UNION ALL SELECT doc_id + 500000 AS doc_id, " +
      "'fresh lead-in words here ' || text || ' plus an unshared closing remark' AS text " +
      "FROM documents WHERE doc_id < 10), " +
      s"t AS (SELECT doc_id, string_split($normSql, ' ') AS ts FROM all_docs), " +
      "g AS (SELECT doc_id, ts, " +
      "unnest(range(0, greatest(len(ts) - 7, 0))) AS pos FROM t), " +
      "g2 AS (SELECT doc_id, pos, " +
      "md5(array_to_string(list_slice(ts, pos + 1, pos + 8), ' ')) AS dg FROM g), " +
      "c AS (SELECT dg FROM g2 GROUP BY dg HAVING count(*) > 1), " +
      "ds AS (SELECT doc_id, list_sort(list(DISTINCT pos)) AS st " +
      "FROM g2 JOIN c USING (dg) GROUP BY doc_id), " +
      "f AS (SELECT t.doc_id, ts, list_distinct(flatten(" +
      "list_transform(st, s -> range(s, s + 8)))) AS cov " +
      "FROM t JOIN ds USING (doc_id)) " +
      "SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens, " +
      "CAST(len(cov) AS BIGINT) AS n_removed, " +
      // array_to_string([]) is NULL in DuckDB (Spark concat_ws gives '')
      "md5(coalesce(array_to_string(list_transform(list_filter(range(0, len(ts)), " +
      "i -> NOT list_contains(cov, i)), i -> ts[i + 1]), ' '), '')) AS clean_md5 " +
      "FROM f"),
    // repetition-signals mirror: per-(doc, gram) counts from positional
    // list_slices; top{n}_chars = max(count × gram length) — the same
    // independent maxima as the Spark side; dup5 cover via the span-dedup
    // range/list_distinct pattern (end-exclusive range(s, s+5) ≡ Spark
    // sequence(s, s+4)); sum(c) CAST back from HUGEINT
    "q_gopher_repeat" -> ("WITH d AS (SELECT doc_id, " +
      "CASE WHEN doc_id < 20 THEN text || ' ' || text ELSE text END AS text " +
      "FROM documents), " +
      s"t AS (SELECT doc_id, string_split($normSql, ' ') AS ts FROM d), " +
      "g AS (SELECT doc_id, ts, unnest(range(0, len(ts))) AS pos FROM t), " +
      "bc AS (SELECT doc_id, array_to_string(list_slice(ts, pos + 1, pos + 2), ' ') AS gr, " +
      "count(*) AS c FROM g WHERE pos + 2 <= len(ts) GROUP BY 1, 2), " +
      "b2 AS (SELECT doc_id, max(c) AS top2_count, max(c * length(gr)) AS top2_chars " +
      "FROM bc GROUP BY 1), " +
      "tc AS (SELECT doc_id, array_to_string(list_slice(ts, pos + 1, pos + 3), ' ') AS gr, " +
      "count(*) AS c FROM g WHERE pos + 3 <= len(ts) GROUP BY 1, 2), " +
      "b3 AS (SELECT doc_id, max(c) AS top3_count, max(c * length(gr)) AS top3_chars " +
      "FROM tc GROUP BY 1), " +
      "fc AS (SELECT doc_id, array_to_string(list_slice(ts, pos + 1, pos + 5), ' ') AS gr, " +
      "count(*) AS c, list(pos) AS ps FROM g WHERE pos + 5 <= len(ts) GROUP BY 1, 2), " +
      "fd AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS dup5_starts, " +
      "CAST(len(list_distinct(flatten(list_transform(flatten(list(ps)), " +
      "s -> range(s, s + 5))))) AS BIGINT) AS dup5_cov FROM fc WHERE c > 1 GROUP BY 1) " +
      "SELECT t.doc_id, CAST(len(ts) AS BIGINT) AS n_tokens, " +
      "CAST(coalesce(top2_count, 0) AS BIGINT) AS top2_count, " +
      "CAST(coalesce(top2_chars, 0) AS BIGINT) AS top2_chars, " +
      "CAST(coalesce(top3_count, 0) AS BIGINT) AS top3_count, " +
      "CAST(coalesce(top3_chars, 0) AS BIGINT) AS top3_chars, " +
      "CAST(coalesce(dup5_starts, 0) AS BIGINT) AS dup5_starts, " +
      "CAST(coalesce(dup5_cov, 0) AS BIGINT) AS dup5_cov " +
      "FROM t LEFT JOIN b2 USING (doc_id) LEFT JOIN b3 USING (doc_id) " +
      "LEFT JOIN fd USING (doc_id)"),
    // bigram fluency mirror: DuckDB's parallel unnests zip POSITIONALLY,
    // so two shifted list_slices make the (w1, w2) pairs; sums CAST back
    // to BIGINT (HUGEINT rule) before the integer divisions
    "q_ngram_fluency" -> ("WITH bg AS (SELECT doc_id, " +
      "unnest(list_slice(ts, 1, len(ts) - 1)) AS w1, " +
      "unnest(list_slice(ts, 2, len(ts))) AS w2 " +
      s"FROM (SELECT doc_id, string_split($normSql, ' ') AS ts FROM documents)), " +
      "bi AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2), " +
      "hd AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM bi GROUP BY w1) " +
      "SELECT g.doc_id, count(*) AS n_bigrams, " +
      "CAST(sum((1000000 * b.c2) // h.c1) AS BIGINT) // count(*) AS fluency_1e6 " +
      "FROM bg g JOIN bi b ON g.w1 = b.w1 AND g.w2 = b.w2 " +
      "JOIN hd h ON g.w1 = h.w1 GROUP BY g.doc_id"),
    "q_pii_redact" -> {
      val em = TextAnalysis.emailPattern
      val ph = TextAnalysis.phonePattern
      s"SELECT doc_id, len(regexp_extract_all(t, '$em'))::BIGINT AS n_emails, " +
        s"len(regexp_extract_all(t, '$ph'))::BIGINT AS n_phones, " +
        s"md5(regexp_replace(regexp_replace(t, '$em', '<EMAIL>', 'g'), " +
        s"'$ph', '<PHONE>', 'g')) AS masked_md5 " +
        "FROM (SELECT doc_id, text || ' contact user' || doc_id || " +
        "'@example.com or 555-' || doc_id || '.' AS t FROM documents)"
    },
    "q_decontaminate" -> {
      def grams(src: String) =
        "SELECT doc_id, unnest(CASE WHEN len(toks) >= 8 " +
          "THEN list_transform(range(0, len(toks) - 7), " +
          "i -> array_to_string(list_slice(toks, i + 1, i + 8), ' ')) " +
          "ELSE [array_to_string(toks, ' ')] END) AS sh " +
          s"FROM (SELECT doc_id, string_split($normSql, ' ') AS toks FROM $src)"
      "WITH ev AS (SELECT doc_id, text FROM documents WHERE doc_id < 25), " +
        "corpus AS (SELECT doc_id, text FROM documents WHERE doc_id >= 25 " +
        "UNION ALL SELECT doc_id + 200000 AS doc_id, text FROM ev WHERE doc_id < 10), " +
        s"eg AS (SELECT DISTINCT md5(sh) AS g FROM (${grams("ev")})), " +
        s"cg AS (SELECT DISTINCT doc_id, md5(sh) AS g FROM (${grams("corpus")})) " +
        "SELECT cg.doc_id, count(*) AS n_overlap FROM cg JOIN eg ON cg.g = eg.g " +
        "GROUP BY cg.doc_id"
    },
    // the +0.001f jitter reproduced with the double-rounding-safe cast —
    // the addend must be the FLOAT's exact double value, same as
    // embPairsSql; count(*) is BIGINT in both engines
    "q_decontam_semantic" -> (s"""WITH
      |ev AS (SELECT vec_id AS eid, embedding AS evec FROM embeddings
      |  WHERE vec_id < 25),
      |corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 25
      |  UNION ALL
      |  SELECT vec_id + 200000,
      |    list_transform(embedding, x -> CAST(x::DOUBLE + ${0.001f.toDouble} AS REAL))
      |  FROM embeddings WHERE vec_id < 10)
      |SELECT c.vec_id, count(*) AS n_eval_matches,
      |  min(e.eid) AS first_eval_id
      |FROM corpus c JOIN ev e
      |  ON list_cosine_similarity(c.embedding::DOUBLE[], e.evec::DOUBLE[]) >= 0.98
      |GROUP BY c.vec_id""".stripMargin),
    "q_decontam_report" -> {
      def grams(src: String) =
        "SELECT doc_id, unnest(CASE WHEN len(toks) >= 8 " +
          "THEN list_transform(range(0, len(toks) - 7), " +
          "i -> array_to_string(list_slice(toks, i + 1, i + 8), ' ')) " +
          "ELSE [array_to_string(toks, ' ')] END) AS sh " +
          s"FROM (SELECT doc_id, string_split($normSql, ' ') AS toks FROM $src)"
      "WITH ev AS (SELECT doc_id, text FROM documents WHERE doc_id < 25), " +
        "corpus AS (SELECT doc_id, text FROM documents WHERE doc_id >= 25 " +
        "UNION ALL SELECT doc_id + 200000 AS doc_id, text FROM ev WHERE doc_id < 10), " +
        s"eg AS (SELECT DISTINCT doc_id, md5(sh) AS g FROM (${grams("ev")})), " +
        "tot AS (SELECT doc_id, count(*) AS n_grams FROM eg GROUP BY doc_id), " +
        s"cd AS (SELECT DISTINCT md5(sh) AS g FROM (${grams("corpus")})), " +
        "hits AS (SELECT eg.doc_id, count(*) AS n_contaminated FROM eg " +
        "JOIN cd ON eg.g = cd.g GROUP BY eg.doc_id) " +
        "SELECT tot.doc_id, tot.n_grams, " +
        "coalesce(hits.n_contaminated, 0) AS n_contaminated, " +
        "coalesce(hits.n_contaminated, 0) * 1000 // tot.n_grams " +
        "AS contaminated_permille FROM tot LEFT JOIN hits " +
        "ON tot.doc_id = hits.doc_id"
    },
    "q_ngram_repeat" -> ("SELECT doc_id, count(*) AS total_3grams, " +
      "count(DISTINCT sh) AS distinct_3grams, " +
      "(count(*) - count(DISTINCT sh)) * 1000 // count(*) AS dup_permille " +
      "FROM (SELECT doc_id, unnest(CASE WHEN len(toks) >= 3 " +
      "THEN list_transform(range(0, len(toks) - 2), " +
      "i -> array_to_string(list_slice(toks, i + 1, i + 3), ' ')) " +
      "ELSE [array_to_string(toks, ' ')] END) AS sh " +
      s"FROM (SELECT doc_id, string_split($normSql, ' ') AS toks FROM documents)) " +
      "GROUP BY doc_id"),
    "q_pivot" -> ("SELECT user_id, " +
      "count(CASE WHEN event_type = 'view' THEN 1 END) AS n_view, " +
      "count(CASE WHEN event_type = 'click' THEN 1 END) AS n_click, " +
      "count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase, " +
      "count(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signup, " +
      "count(CASE WHEN event_type = 'error' THEN 1 END) AS n_error " +
      "FROM events GROUP BY user_id"),
    "q_unpivot" -> ("WITH wide AS (SELECT user_id, " +
      "count(CASE WHEN event_type = 'view' THEN 1 END) AS n_view, " +
      "count(CASE WHEN event_type = 'error' THEN 1 END) AS n_error " +
      "FROM events GROUP BY user_id) " +
      "SELECT user_id, 'n_view' AS metric, n_view AS n FROM wide " +
      "UNION ALL SELECT user_id, 'n_error' AS metric, n_error AS n FROM wide"),
    "q_anti_join" -> ("SELECT c_custkey, c_mktsegment FROM customer " +
      "WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)"),
    "q_semi_join" -> ("SELECT c_custkey, c_mktsegment FROM customer c " +
      "WHERE EXISTS (SELECT 1 FROM orders o " +
      "WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)"),
    // composite curation mirror: same four stages, same order
    "q_curation_e2e" -> ("WITH scored AS (SELECT doc_id, lang, text FROM (" +
      s"SELECT doc_id, lang, text, $qScoreSql AS q " +
      "FROM (SELECT doc_id, lang, text, trim(regexp_replace(text, '\\s+', ' ', 'g')) AS n " +
      "FROM documents)) WHERE q >= 600), " +
      "dedup AS (SELECT doc_id, lang FROM (SELECT doc_id, lang, " +
      "row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM scored) " +
      "WHERE rn = 1), " +
      "capped AS (SELECT doc_id, lang FROM (SELECT doc_id, lang, " +
      "row_number() OVER (PARTITION BY lang ORDER BY " +
      "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT, doc_id) AS rn " +
      "FROM dedup) WHERE rn <= 40) " +
      "SELECT doc_id, lang FROM capped " +
      "WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT < 3435973836"),
    "q_quality_checks" -> ("SELECT 'lineitem' AS tbl, 'nonpositive_qty' AS rule, " +
      "CAST(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS violations FROM lineitem " +
      "UNION ALL SELECT 'lineitem', 'negative_price', " +
      "CAST(sum(CASE WHEN l_extendedprice < 0 THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem " +
      "UNION ALL SELECT 'lineitem', 'null_orderkey', " +
      "CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem " +
      "UNION ALL SELECT 'orders', 'orphan_custkey', count(*) FROM orders " +
      "WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)"),
    "q_skew_salted" -> ("SELECT user_id, count(*) AS n_events, " +
      s"${sumCentsSql("value")} AS sum_value_cents FROM events GROUP BY user_id"),
    "q_sessionize" -> ("SELECT user_id, CAST(sid AS BIGINT) AS sid, " +
      "min(us) AS session_start, max(us) AS session_end, " +
      s"count(*) AS n_events, ${sumCentsSql("value")} AS sum_value_cents FROM (" +
      "SELECT user_id, value, us, " +
      "sum(CASE WHEN prev IS NULL OR us - prev > 3600000000 THEN 1 ELSE 0 END) " +
      "OVER (PARTITION BY user_id ORDER BY us ROWS UNBOUNDED PRECEDING) AS sid FROM (" +
      "SELECT user_id, value, epoch_us(ts) AS us, " +
      "lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) AS prev " +
      "FROM events)) GROUP BY user_id, sid"),
    "q_bloom_join" -> ("SELECT l_orderkey, count(*) AS n_items, " +
      s"${sumCentsSql("l_quantity")} AS sum_qty_cents " +
      "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
      "WHERE o_totalprice > 400000 GROUP BY l_orderkey"),
    "q_sort_limit" -> ("SELECT o_orderkey, o_totalprice FROM orders " +
      "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"),
    "q_setops" -> ("SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING' " +
      "INTERSECT SELECT o_custkey AS c_custkey FROM orders " +
      "EXCEPT SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 400000"),
    "q_partition_prune" ->
      "SELECT event_id, user_id FROM events WHERE event_type = 'purchase'",
    // the oracle joins the ORIGINAL tables — bucketing must not change
    // a single value, only the physical plan shape
    "q_bucketed_join" -> ("SELECT c.c_mktsegment, count(*) AS n_orders, " +
      s"${sumCentsSql("o.o_totalprice")} AS sum_price_cents " +
      "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey " +
      "GROUP BY c.c_mktsegment"),
    // round trips: the oracle reads the ORIGINAL parquet — any loss in
    // the engine's text-format write/read path would hash-fail here
    "q_csv_roundtrip" -> ("SELECT o_orderpriority, count(*) AS n_orders, " +
      s"${sumCentsSql("o_totalprice")} AS sum_price_cents " +
      "FROM orders GROUP BY o_orderpriority"),
    "q_jsonl_roundtrip" -> ("SELECT event_type, count(*) AS n_events, " +
      s"${sumCentsSql("value")} AS sum_value_cents " +
      "FROM events GROUP BY event_type"),
    "q_orc_roundtrip" -> ("SELECT l_returnflag, count(*) AS n_items, " +
      s"${sumCentsSql("l_quantity")} AS sum_qty_cents " +
      "FROM lineitem GROUP BY l_returnflag"),
    // compaction is a pure layout rewrite: oracle reads the ORIGINAL
    // table, so any row lost/doubled in fragment→compact→swap hash-fails
    "q_compact_roundtrip" -> ("SELECT lang, count(*) AS n_docs, " +
      "CAST(sum(n_chars) AS BIGINT) AS sum_chars " +
      "FROM documents GROUP BY lang"),
    // the merged read's v1 rows carry NULL n_chars → only odd doc_ids
    // count/sum; CASTs keep BIGINT (DuckDB sum(BIGINT) is HUGEINT)
    "q_schema_evolution" -> ("SELECT lang, count(*) AS n_docs, " +
      "count(CASE WHEN doc_id % 2 = 1 THEN 1 END) AS n_evolved, " +
      "CAST(sum(CASE WHEN doc_id % 2 = 1 THEN n_chars ELSE 0 END) AS BIGINT) " +
      "AS sum_n_chars FROM documents GROUP BY lang"),
    // envelope fidelity: every column the Spark side recovers from the
    // kafka-shaped fixture (key bytes, chained value JSON, header bytes,
    // timestamp) must equal what the original events row held
    "q_kafka_envelope" -> ("SELECT event_id, user_id AS user_key, " +
      "event_type AS etype_payload, " +
      s"${centsSql("value")} AS amount_cents, " +
      "CAST(1 AS BIGINT) AS k_dropped, " +
      "event_type AS etype_header, " +
      "epoch_us(ts) AS ts_us FROM events"),
    "q_array_funcs" -> ("SELECT doc_id, len(toks)::BIGINT AS n_toks, " +
      "len(list_distinct(toks))::BIGINT AS n_uniq, " +
      "CAST(CASE WHEN list_contains(toks, 'table') THEN 1 ELSE 0 END AS BIGINT) AS has_table, " +
      "array_to_string(list_slice(toks, 1, 3), '-') AS first3, " +
      "CAST(coalesce(list_position(toks, 'data'), 0) AS BIGINT) AS pos_data, " +
      "CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS sum_len, " +
      "len(list_distinct(toks))::BIGINT AS map_uniq " +
      s"FROM (SELECT doc_id, string_split($normSql, ' ') AS toks FROM documents)"),
    "q_scalar_funcs" -> ("SELECT o_orderkey, upper(substr(o_orderpriority, 1, 3)) AS prio3, " +
      "CAST(length(o_orderstatus) AS INT) AS status_len, " +
      "CAST(floor(o_totalprice) AS BIGINT) AS price_floor, " +
      "CAST(month(o_orderdate) AS INT) AS order_month FROM orders"),
    "dedup_exact" -> ("SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, " +
      "count(*) AS dup_count FROM documents GROUP BY md5(text)"),
    // chr(197) = precomposed Å, chr(65)||chr(778) = A + combining ring:
    // identical cleanup chain as q_text_normalize, then md5 grouping —
    // n_raw_forms proves the two byte encodings really differed
    "dedup_unicode" -> ("SELECT norm_hash, min(doc_id) AS keep_id, " +
      "count(*) AS dup_count, count(DISTINCT raw_hash) AS n_raw_forms " +
      "FROM (SELECT doc_id, md5(nfc_normalize(trim(regexp_replace(regexp_replace(" +
      "replace(text, chr(160), ' '), " +
      "'[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'), " +
      "'\\s+', ' ', 'g')))) AS norm_hash, md5(text) AS raw_hash FROM (" +
      "SELECT doc_id, chr(197) || ' ' || text AS text FROM documents " +
      "UNION ALL SELECT doc_id + 200000, chr(65) || chr(778) || ' ' || text " +
      "FROM documents)) GROUP BY norm_hash"),
    "dedup_rows" -> ("SELECT doc_id, lang, source FROM documents WHERE doc_id IN " +
      "(SELECT min(doc_id) FROM documents GROUP BY text)"),
    "dedup_minhash" -> minhashSql,
    "dedup_simhash" -> simhashSql,
    "dedup_simhash_pairs_md5" -> simhashPairsSql,
    // recursive-CTE mirror of hooking+shortcutting CC: a label c may hop
    // to any larger-id neighbor; min over all reachable labels per node
    "q_dedup_groups" -> (s"WITH RECURSIVE $ccCtes " +
      "SELECT id, min(comp) AS component FROM cc GROUP BY id"),
    "jaccard_adjacent" -> ("SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, " +
      "len(list_intersect(a.ts, b.ts)) AS inter_cnt, " +
      "len(list_distinct(a.ts || b.ts)) AS union_cnt FROM " +
      s"(SELECT doc_id, list_distinct(string_split($normSql, ' ')) AS ts FROM documents) a " +
      s"JOIN (SELECT doc_id, list_distinct(string_split($normSql, ' ')) AS ts FROM documents) b " +
      "ON b.doc_id = a.doc_id + 1"),
    // ::DOUBLE[] before the cosine: the stored embeddings are FLOAT[], and
    // list_cosine_similarity computes in the element type — float32 ranks
    // can swap near-tied neighbors vs Spark's double-precision cosine
    "ann_cosine" -> ("SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id, " +
      "CAST(row_number() OVER (PARTITION BY q.vec_id ORDER BY " +
      "list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) DESC, " +
      "e.vec_id) AS INT) AS rank " +
      "FROM embeddings e, embeddings q WHERE q.vec_id < 8 " +
      "QUALIFY rank <= 10"),
    "q_asof" -> ("SELECT l.event_id, r.us AS prior_error_us FROM " +
      "(SELECT event_id, user_id, epoch_us(ts) AS us FROM events WHERE event_type = 'purchase') l " +
      "ASOF LEFT JOIN " +
      "(SELECT user_id, epoch_us(ts) AS us FROM events WHERE event_type = 'error') r " +
      "ON l.user_id = r.user_id AND l.us >= r.us"),
    "q_range" -> ("SELECT p.event_id, count(i.us) AS n_intervals FROM " +
      "(SELECT event_id, user_id, epoch_us(ts) AS us FROM events WHERE event_type = 'purchase') p " +
      "LEFT JOIN (SELECT user_id, epoch_us(ts) AS us FROM events WHERE event_type = 'error') i " +
      "ON i.user_id = p.user_id AND p.us >= i.us AND p.us <= i.us + 300000000 " +
      "GROUP BY p.event_id"),
    // hash-bucket arithmetic mirror of Sampling.hashBucket: first 8 hex
    // chars of md5(id-as-string) as a 32-bit integer; thresholds are
    // floor(fraction × 2^32) integer literals on both sides
    "q_weighted_sample" -> ("SELECT doc_id FROM (SELECT doc_id, " +
      "least(len(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')), 80) / 80.0 AS w " +
      "FROM documents) WHERE " +
      "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT < w * 4294967296.0"),
    "q_quantiles" -> ("SELECT o_orderpriority, " +
      "max(CASE WHEN rn = CAST(floor((n - 1) * 0.5) AS BIGINT) + 1 THEN price_cents END) AS p50_cents, " +
      "max(CASE WHEN rn = CAST(floor((n - 1) * 0.9) AS BIGINT) + 1 THEN price_cents END) AS p90_cents, " +
      "max(CASE WHEN rn = CAST(floor((n - 1) * 0.99) AS BIGINT) + 1 THEN price_cents END) AS p99_cents " +
      "FROM (SELECT o_orderpriority, price_cents, " +
      "row_number() OVER (PARTITION BY o_orderpriority ORDER BY price_cents) AS rn, " +
      "count(*) OVER (PARTITION BY o_orderpriority) AS n " +
      s"FROM (SELECT o_orderpriority, ${centsSql("o_totalprice")} AS price_cents FROM orders)) " +
      "GROUP BY o_orderpriority"),
    "q_histogram" -> ("SELECT least(price_cents // 2500000, 19) AS bucket, " +
      "count(*) AS cnt FROM " +
      s"(SELECT ${centsSql("o_totalprice")} AS price_cents FROM orders) " +
      "GROUP BY bucket"),
    "q_row_ids" -> ("SELECT doc_id, lang, " +
      "row_number() OVER (ORDER BY doc_id) - 1 AS ordinal FROM documents"),
    "q_shuffle_order" -> ("SELECT doc_id, " +
      "md5('s42:' || CAST(doc_id AS VARCHAR)) AS shuffle_key, " +
      "row_number() OVER (ORDER BY md5('s42:' || CAST(doc_id AS VARCHAR))) - 1 " +
      "AS shuffle_pos FROM documents"),
    "q_filter_funnel" -> ("WITH f AS (SELECT " +
      "trim(regexp_replace(text, '\\s+', ' ', 'g')) AS n FROM documents), " +
      "g AS (SELECT len(string_split(n, ' '))::BIGINT AS toks, " +
      "floor(length(replace(n, ' ', '')) * 100.0 / len(string_split(n, ' ')))::BIGINT AS mtl, " +
      "len(list_distinct(string_split(n, ' ')))::BIGINT AS uniq FROM f), " +
      "s AS (SELECT count(*) AS total, " +
      "CAST(sum(CASE WHEN toks BETWEEN 20 AND 90 THEN 1 ELSE 0 END) AS BIGINT) AS s0, " +
      "CAST(sum(CASE WHEN toks BETWEEN 20 AND 90 AND mtl BETWEEN 400 AND 520 THEN 1 ELSE 0 END) AS BIGINT) AS s1, " +
      "CAST(sum(CASE WHEN toks BETWEEN 20 AND 90 AND mtl BETWEEN 400 AND 520 " +
      "AND uniq * 1000 >= toks * 450 THEN 1 ELSE 0 END) AS BIGINT) AS s2 FROM g) " +
      "SELECT 0 AS stage_idx, 'total' AS stage, total AS n_pass FROM s " +
      "UNION ALL SELECT 1, 'word_count', s0 FROM s " +
      "UNION ALL SELECT 2, 'mean_tok_len', s1 FROM s " +
      "UNION ALL SELECT 3, 'ttr', s2 FROM s"),
    "q_split" -> ("SELECT doc_id, (CASE " +
      "WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT < 3435973836 THEN 'train' " +
      "WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT < 3865470566 THEN 'val' " +
      "ELSE 'test' END) AS split FROM documents"),
    // the shared component CTEs, then the q_split hash cut applied to
    // the COMPONENT id (own id when no near-dup)
    "q_leakage_split" -> (s"WITH RECURSIVE $ccCtes, " +
      "comp AS (SELECT id, min(comp) AS component FROM cc GROUP BY id) " +
      "SELECT d.doc_id, coalesce(c.component, d.doc_id) AS split_key, " +
      "(CASE WHEN ('0x' || substr(md5(CAST(coalesce(c.component, d.doc_id) AS VARCHAR)), 1, 8))::BIGINT " +
      "< 3435973836 THEN 'train' ELSE 'val' END) AS split " +
      "FROM documents d LEFT JOIN comp c ON c.id = d.doc_id"),
    "q_stratified" -> ("SELECT doc_id, lang FROM documents WHERE " +
      "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT < (CASE " +
      "WHEN lang = 'en' THEN 2147483648 WHEN lang = 'de' THEN 1073741824 " +
      "ELSE 429496729 END)"),
    "q_vocab" -> ("SELECT token, count(*) AS cnt FROM (" +
      s"SELECT unnest(string_split($normSql, ' ')) AS token FROM documents) " +
      "GROUP BY token ORDER BY cnt DESC, token LIMIT 50"),
    "q_bpe_pairs" -> ("SELECT pair, count(*) AS cnt FROM (" +
      "SELECT toks[i] || ' ' || toks[i + 1] AS pair " +
      s"FROM (SELECT string_split($normSql, ' ') AS toks FROM documents), " +
      "unnest(range(1, greatest(len(toks), 1))) t(i)) " +
      "GROUP BY pair ORDER BY cnt DESC, pair LIMIT 50"),
    "q_bpe_train" -> bpeTrainSql(6),
    "q_bpe_encode" -> bpeEncodeSql(6),
    // same oracle as q_bpe_encode: the deep encoder's contract IS the
    // chain's contract, so one SQL mirror covers both paths
    "q_bpe_encode_deep" -> bpeEncodeSql(6),
    "q_profile" -> ("SELECT lang, count(*) AS n_docs, " +
      "quantile_cont(n_tokens, 0.25) AS p25, quantile_cont(n_tokens, 0.5) AS p50, " +
      "quantile_cont(n_tokens, 0.75) AS p75 FROM (" +
      "SELECT lang, len(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' '))::BIGINT AS n_tokens " +
      "FROM documents) GROUP BY lang"),
    "q_quantize" -> ("SELECT vec_id, array_to_string((CASE WHEN s = 0 THEN " +
      "list_transform(embedding, x -> 0) ELSE " +
      "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) / s + 0.5) AS INT)) END), ',') AS q_str " +
      "FROM (SELECT vec_id, embedding, " +
      "CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) / 127.0 AS s " +
      "FROM embeddings)"),
    "q_chunk" -> {
      val step = chunkSize - chunkOverlap
      s"SELECT doc_id, CAST(start // $step AS INT) AS chunk_idx, " +
        s"array_to_string(list_slice(toks, start + 1, start + $chunkSize), ' ') AS chunk_text, " +
        s"CAST(least($chunkSize, n - start) AS BIGINT) AS n_chunk_tokens " +
        "FROM (SELECT doc_id, toks, len(toks) AS n, " +
        s"unnest(range(0, greatest(len(toks) - $chunkOverlap, 1), $step)) AS start " +
        s"FROM (SELECT doc_id, string_split($normSql, ' ') AS toks FROM documents))"
    },
    // CAST the window sum: DuckDB sum(BIGINT) OVER → HUGEINT → float64
    "q_pack" -> ("SELECT doc_id, lang, n_tokens, " +
      s"start_off // $packCap AS bin, start_off % $packCap AS bin_offset FROM (" +
      "SELECT doc_id, lang, n_tokens, " +
      "CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off " +
      "FROM (SELECT doc_id, lang, " +
      "len(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' '))::BIGINT AS n_tokens " +
      "FROM documents))"),
    "text_tokens" -> ("SELECT doc_id, " +
      s"len(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' '))::BIGINT AS n_tokens_ws, " +
      "len(regexp_extract_all(text, '\\w+|[^\\w\\s]'))::BIGINT AS n_tokens_bpe FROM documents"),
    // identical dirty→clean chain, same step order (NBSP → control
    // strip → \s+ collapse → trim → NFC last, the idempotent order);
    // chr() literals mirror the Spark side's \uXXXX escapes code point
    // for code point
    "q_text_normalize" -> ("SELECT doc_id, length(norm)::BIGINT AS n_norm, " +
      "substr(norm, 1, 6) AS head, " +
      "substr(norm, length(norm) - 9, 10) AS tail FROM (" +
      "SELECT doc_id, nfc_normalize(trim(regexp_replace(regexp_replace(" +
      "replace(dirty, chr(160), ' '), " +
      "'[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'), " +
      "'\\s+', ' ', 'g'))) AS norm FROM (" +
      "SELECT doc_id, chr(65) || chr(778) || ' ' || text || chr(160) || " +
      "'e' || chr(769) || chr(7) || ' end' || chr(9) || ' ' AS dirty " +
      "FROM documents))"),
    "text_quality" -> ("SELECT doc_id, length(n)::BIGINT AS n_chars_norm, " +
      "len(string_split(n, ' '))::BIGINT AS n_tokens, " +
      "(length(n) - length(translate(n, '.,!?;:', '')))::BIGINT AS punct_cnt, " +
      "(length(n) - length(translate(n, '0123456789', '')))::BIGINT AS digit_cnt, " +
      "floor(length(replace(n, ' ', '')) * 100.0 / len(string_split(n, ' ')))::BIGINT AS mean_tok_len_x100 " +
      "FROM (SELECT doc_id, trim(regexp_replace(text, '\\s+', ' ', 'g')) AS n FROM documents)"),
    "text_langid" -> langIdSql,
    "text_analyze_all" -> analyzeAllSql,
    // mirror of TextAnalysis.linearQualityScore with the q_quality_score
    // weights: plain BIGINT arithmetic (only sum() aggregates go HUGEINT)
    "q_quality_score" -> ("SELECT doc_id, q_score, " +
      "CAST(CASE WHEN q_score >= 600 THEN 1 ELSE 0 END AS BIGINT) AS keep FROM (" +
      s"SELECT doc_id, $qScoreSql AS q_score " +
      "FROM (SELECT doc_id, trim(regexp_replace(text, '\\s+', ' ', 'g')) AS n FROM documents))"),
    "q_score_calibrate" -> ("""WITH scored AS (
      |  SELECT doc_id, source, """.stripMargin + qScoreSql +
      """ AS q_score FROM (
      |    SELECT doc_id, source,
      |      trim(regexp_replace(text, '\s+', ' ', 'g')) AS n FROM documents)),
      |ranked AS (SELECT doc_id, source,
      |  row_number() OVER (PARTITION BY source ORDER BY q_score DESC, doc_id) AS rn,
      |  count(*) OVER (PARTITION BY source) AS n
      |  FROM scored)
      |SELECT source, count(*)::BIGINT AS n_kept,
      |  CAST(sum(doc_id) AS BIGINT) AS id_sum
      |FROM ranked
      |WHERE (CASE WHEN n = 1 THEN 0 ELSE (1000 * (rn - 1)) // (n - 1) END) <= 250
      |GROUP BY source""".stripMargin),
    "q_mix_sources" -> mixSourcesSql,
    // identical selection by construction — same oracle
    "q_mix_sources_large" -> mixSourcesSql,
    "q_temperature_mix" -> temperatureMixSql,
    // CAST the window sum: DuckDB sum(BIGINT) OVER → HUGEINT → float64
    "q_token_budget" -> tokenBudgetSql,
    // identical selection by construction — same oracle
    "q_token_budget_large" -> tokenBudgetSql,
    // mirror of TextAnalysis.boilerplateStats: DISTINCT 3-grams per doc,
    // corpus-wide document frequency, >= 5 docs flags boilerplate; `//`
    // == Spark's `div` on the non-negative operands
    "q_boilerplate" -> ("WITH sh AS (" +
      "SELECT doc_id, unnest(CASE WHEN len(toks) >= 3 " +
      "THEN list_distinct(list_transform(range(0, len(toks) - 2), " +
      "i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))) " +
      "ELSE [array_to_string(toks, ' ')] END) AS g " +
      s"FROM (SELECT doc_id, string_split($normSql, ' ') AS toks FROM documents)), " +
      "dfreq AS (SELECT g, count(*) AS gdf FROM sh GROUP BY g), " +
      "per AS (SELECT s.doc_id, count(*) AS n_grams, " +
      "CAST(sum(CASE WHEN d.gdf >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler " +
      "FROM sh s JOIN dfreq d ON s.g = d.g GROUP BY s.doc_id) " +
      "SELECT doc_id, n_grams, n_boiler, " +
      "(n_boiler * 1000) // n_grams AS boiler_permille FROM per"),
    // mirror of Dedup.dropRepeatedParagraphs over the same 12-token
    // paragraphs + planted boilerplate; parallel unnests zip positionally
    "q_paragraph_dedup" -> ("WITH t AS (SELECT doc_id, " +
      s"list_transform(range(0, greatest(len(toks), 1), $paraTokens), " +
      s"i -> array_to_string(list_slice(toks, i + 1, i + $paraTokens), ' ')) AS paras " +
      s"FROM (SELECT doc_id, string_split($normSql, ' ') AS toks FROM documents)), " +
      "t2 AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0 " +
      s"THEN list_append(paras, '$boilerPara') ELSE paras END AS paras FROM t), " +
      "ex AS (SELECT doc_id, len(paras)::BIGINT AS n_paras, unnest(paras) AS para, " +
      "unnest(range(1, len(paras) + 1)) AS pos FROM t2), " +
      s"bl AS (SELECT md5(para) AS h FROM ex GROUP BY 1 HAVING count(*) >= $paraMinCount) " +
      "SELECT doc_id, max(n_paras) AS n_paras, CAST(count(*) AS BIGINT) AS n_kept, " +
      "string_agg(para, ' ' ORDER BY pos) AS clean_text " +
      "FROM ex WHERE md5(para) NOT IN (SELECT h FROM bl) GROUP BY doc_id"),
    "text_fingerprint" -> s"SELECT doc_id, md5($normSql) AS fp FROM documents",
    // the custom codegen Expression replayed BYTE-EXACTLY in SQL: UTF-8
    // bytes via hex pairs (signed — java bytes are), the h = 31·h + b
    // wraparound fold as a HUGEINT list_reduce mod 2^64, mapped back to
    // signed BIGINT. Closes the last closable engine-hash row: the
    // "engine" part of rolling_hash was wraparound int64 arithmetic,
    // which HUGEINT replays exactly (unlike xxhash64 lanes or trained
    // float quantizers, which stay twin-manifested). ~0.3 s at sf0.01,
    // ~19 s at the 10x replica; 100x bounded by oracle cost
    // (q_allpairs_cosine precedent).
    "text_fingerprint_fast" -> ("WITH nrm AS (SELECT doc_id, " +
      s"$normSql AS t FROM documents), " +
      "hx AS (SELECT doc_id, hex(encode(t)) AS h, " +
      "octet_length(encode(t)) AS n FROM nrm), " +
      "lst AS (SELECT doc_id, list_transform(range(0, n), " +
      "i -> ('0x' || substr(h, CAST(2 * i + 1 AS BIGINT), 2))::BIGINT) " +
      "AS bytes FROM hx) " +
      "SELECT doc_id, CAST(CASE WHEN r >= 9223372036854775808::HUGEINT " +
      "THEN r - 18446744073709551616::HUGEINT ELSE r END AS BIGINT) AS fp_fast " +
      "FROM (SELECT doc_id, list_reduce(" +
      "list_prepend(1125899906842597::HUGEINT, " +
      "list_transform(bytes, x -> " +
      "CASE WHEN x >= 128 THEN x - 256 ELSE x END::HUGEINT)), " +
      "(acc, v) -> (31::HUGEINT * acc + v + 18446744073709551616::HUGEINT) " +
      "% 18446744073709551616::HUGEINT) AS r FROM lst)"),
    "multimodal_meta" -> ("SELECT doc_id, 'application/octet-stream' AS mime, " +
      "CAST(octet_length(encode(text)) % 1024 AS INT) AS width, " +
      "octet_length(encode(text)) * 10 AS duration_ms, " +
      "octet_length(encode(text))::BIGINT AS byte_len FROM documents"),
    "multimodal_features" ->
      "SELECT doc_id, octet_length(encode(text))::BIGINT AS byte_len FROM documents",
    // mirrors synthesizeGif's frame-pixel formula ((id + 11f + x + y) mod
    // 256) summed over each 8×5 frame — the engine side gets these
    // numbers by DECODING every frame of the GIF it encoded
    "multimodal_frames" -> ("SELECT d.doc_id, CAST(f.i AS INT) AS frame_idx, " +
      "CAST(8 AS INT) AS fr_w, CAST(5 AS INT) AS fr_h, " +
      "CAST(SUM((d.doc_id + 11 * f.i + x.j + y.k) % 256) AS BIGINT) AS sum_gray " +
      "FROM documents d, range(0, 4) f(i), range(0, 8) x(j), range(0, 5) y(k) " +
      "GROUP BY 1, 2"),
    // mirrors synthesizeBmp's per-pixel channel formulas (r=(id+x+y)%256,
    // g=(3id+x)%256, b=(7id+y)%256) summed over the 30×17 grid — the
    // engine side gets these numbers by DECODING the BMP it encoded
    // mirrors synthesizeWav's sample formula ((id*31 + i*7) mod 65536 −
    // 32768) summed over 400 samples — the engine DECODES the WAV it
    // encoded to get these numbers
    "multimodal_audio" -> ("SELECT d.doc_id, CAST(8000 AS INT) AS sample_rate, " +
      "CAST(400 AS BIGINT) AS n_samples, " +
      "CAST(SUM((d.doc_id * 31 + t.i * 7) % 65536 - 32768) AS BIGINT) AS sum_samples " +
      "FROM documents d, range(0, 400) t(i) GROUP BY d.doc_id"),
    "multimodal_decode" -> ("SELECT d.doc_id, CAST(30 AS INT) AS img_w, " +
      "CAST(17 AS INT) AS img_h, " +
      "CAST(SUM((d.doc_id + x.i + y.j) % 256) AS BIGINT) AS sum_r, " +
      "CAST(SUM((3 * d.doc_id + x.i) % 256) AS BIGINT) AS sum_g, " +
      "CAST(SUM((7 * d.doc_id + y.j) % 256) AS BIGINT) AS sum_b " +
      "FROM documents d, range(0, 30) x(i), range(0, 17) y(j) " +
      "GROUP BY d.doc_id"),
    // block sums over each 4x4 source block, floor-averaged (// 16),
    // then summed over the 8x4 output grid — the box filter's exact
    // integer mirror from the synthesis closed forms
    "multimodal_resize" -> ("WITH px AS (SELECT d.doc_id, u.u, v.v, " +
      "SUM((d.doc_id + (4 * u.u + dx.dx) + (4 * v.v + dy.dy)) % 256) AS rsum, " +
      "SUM((3 * d.doc_id + (4 * u.u + dx.dx)) % 256) AS gsum, " +
      "SUM((7 * d.doc_id + (4 * v.v + dy.dy)) % 256) AS bsum " +
      "FROM documents d, range(0, 8) u(u), range(0, 4) v(v), " +
      "range(0, 4) dx(dx), range(0, 4) dy(dy) " +
      "GROUP BY d.doc_id, u.u, v.v) " +
      "SELECT doc_id, CAST(8 AS INT) AS out_w, CAST(4 AS INT) AS out_h, " +
      "CAST(SUM(rsum // 16) AS BIGINT) AS sum_r, " +
      "CAST(SUM(gsum // 16) AS BIGINT) AS sum_g, " +
      "CAST(SUM(bsum // 16) AS BIGINT) AS sum_b " +
      "FROM px GROUP BY doc_id"),
    "multimodal_ahash" -> (ahashSql + "SELECT doc_id, c0, c1, c2, c3 FROM h"),
    "multimodal_ahash_pairs" -> (ahashSql + chunkPairsSql),
    "multimodal_audiohash" -> (audioHashSql + "SELECT doc_id, c0, c1, c2, c3 FROM h"),
    "multimodal_audiohash_pairs" -> (audioHashSql + chunkPairsSql),
    "q_stream_media_dedup" -> streamMediaDedupSql)

  /** Shared chunk-blocked pair tail over a CTE `h(doc_id, c0..c3)`: the
    * SQL mirror of [[graft.operators.Dedup.simhashNearDupPairs]]'s
    * 16-bit-chunk blocking + Hamming ≤ 3 filter (pigeonhole: ≤3 differing
    * bits leave at least one of 4 chunks equal, so the block join is
    * lossless).
    */
  private val chunkPairsSql: String =
    "SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
      "CAST(bit_count(xor(a.c0, b.c0)) + bit_count(xor(a.c1, b.c1)) + " +
      "bit_count(xor(a.c2, b.c2)) + bit_count(xor(a.c3, b.c3)) AS BIGINT) AS hamming " +
      "FROM h a JOIN h b ON a.doc_id < b.doc_id AND " +
      "(a.c0 = b.c0 OR a.c1 = b.c1 OR a.c2 = b.c2 OR a.c3 = b.c3) " +
      "WHERE bit_count(xor(a.c0, b.c0)) + bit_count(xor(a.c1, b.c1)) + " +
      "bit_count(xor(a.c2, b.c2)) + bit_count(xor(a.c3, b.c3)) <= 3"

  /** Shared aHash oracle prelude: rebuild the 64-bit average hash from
    * the pattern-image closed forms (no image library) as the same
    * 4×16-bit chunks the Spark side emits. Cells are per-cell-constant
    * gray, so the cross-multiplied average compare the decoder runs
    * (`cellSum·totalPixels > totalSum·cellPixels` over r+g+b sums)
    * reduces exactly to `64·g_cell > Σ g_cells` — the grayscale and
    * equal-cell factors cancel. Bit order: cell (ci, cj) → bit cj·8+ci.
    */
  /** DuckDB replay of [[graft.operators.TextAnalysis.bpeTrain]] on the
    * same deterministic 25% sample: n chained CTE rounds, each counting
    * adjacent pairs of the current tokenization, taking the top-1
    * (ORDER BY cnt DESC, pair — binary collation matches Spark's UTF8
    * comparison, and ordering by the PAIR STRING rather than (a, b)
    * avoids the tuple-vs-concat divergence when a merged token's U+001F
    * sorts below the space separator), and applying the identical greedy
    * double-space merge algebra (` a  b ` consumes one flank space per
    * match, the replacement restores it — left-to-right non-overlapping,
    * like Spark's replace).
    */
  /** One greedy double-space merge application as DuckDB text: rebuild
    * `s` with round-`k`'s learned pair joined by U+001F — the exact
    * algebra [[graft.operators.TextAnalysis.bpeTrain]]/`bpeEncode` run
    * (both engines' `replace` scans left-to-right non-overlapping, so
    * the overlap tie-break is identical by construction).
    */
  private def bpeApplySql: String =
    "trim(replace(replace(" +
      "'  ' || replace(s, ' ', '  ') || '  ', " +
      "' ' || tok_a || '  ' || tok_b || ' ', " +
      "' ' || tok_a || chr(31) || tok_b || ' '), '  ', ' ')) AS s"

  /** Training-round CTE prefix shared by the trainer and encoder
    * oracles: rebuilt sample corpora r0..r{n-1} and learned merges
    * m0..m{n-1} over the deterministic 25% sample.
    */
  private def bpeRoundCtes(n: Int): String = {
    val sb = new StringBuilder(
      s"WITH r0 AS (SELECT $normSql AS s FROM documents WHERE doc_id % 4 = 0)")
    (0 until n).foreach { k =>
      sb ++= s", p$k AS (SELECT toks[i] || ' ' || toks[i + 1] AS pair, " +
        "count(*) AS cnt " +
        s"FROM (SELECT string_split(s, ' ') AS toks FROM r$k), " +
        "unnest(range(1, greatest(len(toks), 1))) t(i) GROUP BY pair)"
      sb ++= s", m$k AS (SELECT CAST($k AS INT) AS merge_idx, " +
        "string_split(pair, ' ')[1] AS tok_a, " +
        "string_split(pair, ' ')[2] AS tok_b, cnt " +
        s"FROM p$k ORDER BY cnt DESC, pair LIMIT 1)"
      if (k < n - 1)
        sb ++= s", r${k + 1} AS (SELECT $bpeApplySql FROM r$k, m$k)"
    }
    sb.toString
  }

  private def bpeTrainSql(n: Int): String =
    bpeRoundCtes(n) + " " +
      (0 until n).map(k => s"SELECT * FROM m$k").mkString(" UNION ALL ")

  /** Encoder oracle: learn the n merges on the sample (identical round
    * CTEs as the trainer oracle), then apply the frozen merge chain to
    * EVERY document and emit encoded token counts + stream digest —
    * mirroring q_bpe_encode's train-then-tokenize lifecycle.
    */
  private def bpeEncodeSql(n: Int): String = {
    val sb = new StringBuilder(bpeRoundCtes(n))
    sb ++= s", e0 AS (SELECT doc_id, $normSql AS s FROM documents)"
    (0 until n).foreach { k =>
      sb ++= s", e${k + 1} AS (SELECT doc_id, $bpeApplySql FROM e$k, m$k)"
    }
    sb ++= s" SELECT e.doc_id, " +
      "CAST(len(string_split(e.s, ' ')) AS BIGINT) AS n_tokens, " +
      "CAST(len(string_split(w.s, ' ')) AS BIGINT) AS n_tokens_ws, " +
      s"md5(e.s) AS enc_md5 FROM e$n e JOIN e0 w USING (doc_id)"
    sb.toString
  }

  /** Shared audio-hash oracle prelude — the audio mirror of [[ahashSql]]:
    * rebuild the 64-bit frame-energy hash from the pattern-clip closed
    * forms (no audio library) as the same 4×16-bit chunks the Spark side
    * emits. Frames are constant-valued, non-negative and equal-sized, so
    * [[graft.operators.Multimodal.audioHash64]]'s cross-multiplied
    * compare (`frameSum·totalSamples > totalSum·frameSamples` over
    * abs-sample sums) reduces exactly to `64·v_f > Σ v_f` — the
    * per-frame-count factors cancel and abs is the identity. Bit order:
    * frame f → bit f.
    */
  private def audioHashCtes(p: String): String =
    s"${p}clips AS (SELECT doc_id, doc_id AS pid, 0 AS v FROM documents " +
      "WHERE doc_id < 200 " +
      "UNION ALL SELECT doc_id + 500000 AS doc_id, doc_id AS pid, 1 AS v " +
      "FROM documents WHERE doc_id < 20), " +
    s"${p}frames AS (SELECT doc_id, f.i AS b, " +
      "CASE WHEN v = 1 AND (f.i = pid % 64 OR f.i = (7 * pid + 13) % 64) " +
      "THEN 4095 - (((73 * pid + 31 * f.i + 11) * " +
      "(73 * pid + 31 * f.i + 11) // 32) % 4096) " +
      "ELSE ((73 * pid + 31 * f.i + 11) * " +
      "(73 * pid + 31 * f.i + 11) // 32) % 4096 END AS g " +
      s"FROM ${p}clips, range(0, 64) f(i)), " +
    s"${p}tot AS (SELECT doc_id, SUM(g) AS ts FROM ${p}frames GROUP BY doc_id), " +
    s"${p}bits AS (SELECT c.doc_id, c.b, " +
      "CASE WHEN 64 * c.g > t.ts THEN 1 ELSE 0 END AS bit " +
      s"FROM ${p}frames c JOIN ${p}tot t USING (doc_id)), " +
    s"${p}h AS (SELECT doc_id, " +
      "CAST(SUM(CASE WHEN b // 16 = 0 THEN bit * (1 << (b % 16)) ELSE 0 END) AS BIGINT) AS c0, " +
      "CAST(SUM(CASE WHEN b // 16 = 1 THEN bit * (1 << (b % 16)) ELSE 0 END) AS BIGINT) AS c1, " +
      "CAST(SUM(CASE WHEN b // 16 = 2 THEN bit * (1 << (b % 16)) ELSE 0 END) AS BIGINT) AS c2, " +
      "CAST(SUM(CASE WHEN b // 16 = 3 THEN bit * (1 << (b % 16)) ELSE 0 END) AS BIGINT) AS c3 " +
      s"FROM ${p}bits GROUP BY doc_id) "

  private val audioHashSql: String = "WITH " + audioHashCtes("")

  private def ahashCtes(p: String): String =
    s"${p}imgs AS (SELECT doc_id, doc_id AS pid, 0 AS v FROM documents " +
      "WHERE doc_id < 200 " +
      "UNION ALL SELECT doc_id + 500000 AS doc_id, doc_id AS pid, 1 AS v " +
      "FROM documents WHERE doc_id < 20), " +
    s"${p}cells AS (SELECT doc_id, cj.j * 8 + ci.i AS b, " +
      "CASE WHEN v = 1 AND (cj.j * 8 + ci.i = pid % 64 " +
      "OR cj.j * 8 + ci.i = (7 * pid + 13) % 64) " +
      "THEN 255 - (((73 * pid + 17 * ci.i + 29 * cj.j + 7) * " +
      "(73 * pid + 17 * ci.i + 29 * cj.j + 7) // 32) % 256) " +
      "ELSE ((73 * pid + 17 * ci.i + 29 * cj.j + 7) * " +
      "(73 * pid + 17 * ci.i + 29 * cj.j + 7) // 32) % 256 END AS g " +
      s"FROM ${p}imgs, range(0, 8) ci(i), range(0, 8) cj(j)), " +
    s"${p}tot AS (SELECT doc_id, SUM(g) AS ts FROM ${p}cells GROUP BY doc_id), " +
    s"${p}bits AS (SELECT c.doc_id, c.b, " +
      "CASE WHEN 64 * c.g > t.ts THEN 1 ELSE 0 END AS bit " +
      s"FROM ${p}cells c JOIN ${p}tot t USING (doc_id)), " +
    s"${p}h AS (SELECT doc_id, " +
      "CAST(SUM(CASE WHEN b // 16 = 0 THEN bit * (1 << (b % 16)) ELSE 0 END) AS BIGINT) AS c0, " +
      "CAST(SUM(CASE WHEN b // 16 = 1 THEN bit * (1 << (b % 16)) ELSE 0 END) AS BIGINT) AS c1, " +
      "CAST(SUM(CASE WHEN b // 16 = 2 THEN bit * (1 << (b % 16)) ELSE 0 END) AS BIGINT) AS c2, " +
      "CAST(SUM(CASE WHEN b // 16 = 3 THEN bit * (1 << (b % 16)) ELSE 0 END) AS BIGINT) AS c3 " +
      s"FROM ${p}bits GROUP BY doc_id) "

  private val ahashSql: String = "WITH " + ahashCtes("")

  /** Oracle for q_stream_media_dedup: both closed-form hash rebuilds
    * (prefixed CTEs so they share one WITH), tagged by modality, twins
    * (≥ 500000) joined against bases (< 200) within the SAME modality at
    * Hamming ≤ 3 — the blocking condition is omitted because chunk
    * blocking is lossless at ≤ 3 (pigeonhole), so the plain Hamming join
    * is set-equal. n_appends = 1 is the exactly-once witness: each twin
    * lives in exactly one micro-batch, so a duplicated trigger would
    * break the hash.
    */
  private val streamMediaDedupSql: String =
    "WITH " + ahashCtes("i_") + ", " + audioHashCtes("a_") + ", " +
      "hh AS (SELECT 'img' AS modality, doc_id, c0, c1, c2, c3 FROM i_h " +
      "UNION ALL SELECT 'aud' AS modality, doc_id, c0, c1, c2, c3 FROM a_h) " +
      "SELECT b.modality, b.doc_id, min(a.doc_id) AS dup_of, " +
      "CAST(1 AS BIGINT) AS n_appends " +
      "FROM hh b JOIN hh a ON a.modality = b.modality " +
      "AND b.doc_id >= 500000 AND a.doc_id < 200 " +
      "AND bit_count(xor(a.c0, b.c0)) + bit_count(xor(a.c1, b.c1)) + " +
      "bit_count(xor(a.c2, b.c2)) + bit_count(xor(a.c3, b.c3)) <= 3 " +
      "GROUP BY b.modality, b.doc_id"
}
