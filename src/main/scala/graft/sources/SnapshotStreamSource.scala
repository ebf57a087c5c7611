package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset, Sink, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

/** The snapshot table format as a FIRST-CLASS Structured Streaming
  * source — `spark.readStream.format("graft-snapshot").load(table)`
  * turns a table's commit log into an unbounded DataFrame, completing
  * the format's streaming story: [[Snapshots.commitAppendOnce]] streams
  * INTO the table exactly-once, this streams OUT of it. The same
  * integration shape the log-structured lakehouse formats use (a V1
  * `Source` whose `getBatch` returns a manifest-planned DataFrame —
  * Spark's own file stream source works this way), so every batch is
  * the stock parquet scan: vectorized reading, column pruning and the
  * manifest's stats pushdown all apply per micro-batch.
  *
  * OFFSETS ARE TABLE VERSIONS: offset v = "all data through committed
  * version v". Each micro-batch is the window `(v, v']` planned from
  * the immutable manifests — [[Snapshots.streamBatch]]: O(delta +
  * commits) metadata, only the window's segments expanded — which
  * makes replay DETERMINISTIC (same window, same files, forever), the
  * property Spark's offset-log/commit-log recovery contract needs.
  * Exactly-once state lives where Spark puts it: the query CHECKPOINT
  * owns (start, end] per batch id; a crashed trigger replays the same
  * window into the same batch id, so an idempotent sink (foreachBatch
  * + [[Snapshots.commitAppendOnce]] keyed by batch id, or any
  * overwrite-by-batch-id sink) yields end-to-end exactly-once — the
  * format-level [[Snapshots.consumeChanges]] machinery is the same
  * dance for NON-Spark consumers and stays independent.
  *
  * Options:
  *  - `path` (or `.load(path)`): the table root;
  *  - `startingVersion`: `earliest` (default — the INITIAL LOAD is the
  *    full snapshot, then deltas; the lakehouse convention), `latest`
  *    (only commits after stream start), or a committed version number
  *    (changes strictly AFTER it — the [[Snapshots.registerConsumer]]
  *    convention). Resolved ONCE per query and persisted in the
  *    checkpoint metadata — a restart keeps the original resolution
  *    (`latest` re-resolved per restart would bypass admission control
  *    for the whole catch-up range and change the batch-0 replay);
  *  - `startingTag`: a [[Snapshots.tagVersion]] name — changes strictly
  *    after the tagged version, the reproducible-run pin reused as a
  *    stream start;
  *  - `startingTimestamp`: changes strictly after the version that was
  *    the head at that wall clock — the streaming twin of the batch
  *    face's `timestampAsOf`, same resolution ([[Snapshots.versionAsOf]],
  *    loud on a pre-history timestamp) and same accepted forms (epoch
  *    millis / date / timestamp strings). startingVersion, startingTag
  *    and startingTimestamp are mutually exclusive;
  *  - `maxVersionsPerTrigger`: admission control — at most this many
  *    versions per micro-batch (the initial load counts as the window
  *    up to its bound);
  *  - `maxBytesPerTrigger`: BYTE-based admission control, planned
  *    entirely from the manifest's committed `sz=` cells (no
  *    filesystem stats). The INITIAL LOAD splits into body-ordered
  *    FILE CHUNKS under the cap — a table bootstrapped with one big
  *    commit drains across many micro-batches instead of planning as
  *    a single one — and delta windows admit versions while their
  *    committed delta bytes fit (at least one per trigger; a version
  *    bigger than the cap gets its own window — version granularity is
  *    the delta floor). Offsets for chunks extend the version number
  *    with a consumed-file count; plain version offsets keep their
  *    pre-split json, so existing checkpoints restart unchanged;
  *  - `feed`: `true` streams the row-level CHANGE FEED — table columns
  *    plus `_op` ('u'/'d') and `_seq` (commit order within the window)
  *    — so the stream keeps flowing across merge-on-read erases and a
  *    replica applies each batch with `Merge.applyChanges`; default
  *    streams append deltas only and FAILS LOUDLY on a delete in the
  *    window (an append-only consumer silently missing deletes would
  *    diverge);
  *  - `pinConsumer`: a consumer name REGISTERED AT STREAM START (at the
  *    starting offset — the initial load may run long against versions
  *    a retention job would otherwise reclaim mid-scan) and advanced
  *    (via [[Snapshots.advanceConsumer]]) as Spark commits batches, so
  *    the table's VACUUM floor tracks the stream. Lags by at most the
  *    in-flight batch (the safe direction). Operate retention WITH this
  *    pin (or an equivalent floor): a restart re-plans its LAST window,
  *    so vacuuming past that window's from-version while the stream is
  *    down makes the restart fail on the missing manifest.
  *
  * dataChange=false MAINTENANCE commits (compaction / small-file
  * packing / metadata folds) inside a window are SKIPPED — they rewrite
  * segment references, never logical rows — so a live stream (and its
  * checkpointed restarts) survives routine table maintenance with zero
  * duplicate or lost rows. Overwrites inside a window still fail the
  * stream loudly (rewritten history has no incremental meaning —
  * restart from a fresh startingVersion), matching the format's
  * consumer contract.
  *
  * Per-trigger planning cost: O(1) head discovery via the table's
  * head-hint file (one hint read + one existence probe — a CAUGHT-UP
  * stream's tick never LISTs `_manifests`), plus — only when the head
  * actually moved past the stream — one directory LIST to enumerate
  * the catch-up window's committed versions (vacuum can leave gaps, so
  * the window needs the real list, not number arithmetic) and the
  * window's O(delta + commits) manifest reads. Version-file count is
  * an OPERATED bound, not an accumulating one: vacuum/expireSnapshots
  * retire old versions on the retention horizon, so a production table
  * holds 10³-10⁴ live versions, not the stream's lifetime commit count.
  *
  * SCHEMA IS PINNED AT STREAM START (Spark streams are fixed-schema):
  * each batch projects onto the declared schema by name — a column
  * added by additive evolution mid-stream stays invisible until
  * restart, a batch omitting a declared trailing column null-fills.
  *
  * Restart correctness without touching Spark internals: the source
  * persists a HIGH-WATER mark (the largest offset any `getBatch`
  * window reached) as create-once marker files under its checkpoint
  * `metadataPath`, and `getOffset` never offers below it. Without
  * this, a restarted source's first `getOffset` under
  * `maxVersionsPerTrigger` could offer an offset BELOW the
  * checkpoint's committed one — V1 compares offsets by equality, so
  * Spark would plan the inverted window `(committed, lower]` and fail.
  * Written BEFORE `getBatch` returns: every offset Spark could have
  * logged is covered, and a crash between the marker write and the
  * offset log write only makes the next window start one version
  * higher than strictly necessary — never skipping data, because the
  * next window still opens at the checkpoint's committed offset.
  */
class SnapshotStreamSource extends StreamSourceProvider with StreamSinkProvider
    with RelationProvider with CreatableRelationProvider
    with DataSourceRegister {

  override def shortName(): String = "graft-snapshot"

  /** The BATCH-read face — what makes snapshot tables format- and
    * SQL-addressable: `spark.read.format("graft-snapshot").load(path)`
    * and `CREATE [TEMPORARY] VIEW v USING graft-snapshot OPTIONS
    * (path '...')` both land here and serve the SAME manifest-backed
    * scan [[Snapshots.read]] plans (committed schema, zero planning
    * filesystem calls, stats/bucket/null-count pushdown through the
    * manifest FileIndex). Time travel rides the reader options:
    *
    *  - `versionAsOf`: a committed version number;
    *  - `timestampAsOf`: the head as of that wall clock
    *    ([[Snapshots.readAsOf]] resolution) — epoch millis,
    *    `yyyy-MM-dd` (local midnight) or
    *    `yyyy-MM-dd[ T]HH:mm:ss[.fff]` (local time), see
    *    [[SnapshotStreamSource.parseTimestampMillis]];
    *  - `tag`: a [[Snapshots.tagVersion]] name (the reproducible-run pin);
    *  - `branch`: read a branch head instead of main (combinable with
    *    `versionAsOf` for a branch version).
    *
    * At most one of versionAsOf/timestampAsOf/tag. A snapshot with
    * PENDING merge-on-read deletes serves its FULL delete semantics:
    * the relation computes the same anti-join plan `Snapshots.read`
    * uses (a [[SnapshotMorRelation]] — column pruning and filters are
    * replayed onto the plan, so manifest stats pruning still rides);
    * flat snapshots keep the zero-copy single-relation fast path.
    *
    * STALENESS, stated loudly because SQL views hide it: a relation —
    * and therefore a `CREATE [TEMPORARY] VIEW ... USING graft-snapshot`
    * — resolves its version (head or pinned) ONCE, at CREATION time,
    * and keeps serving that manifest's file list forever after. A
    * "head" view does NOT advance when the table commits — it is a
    * creation-time snapshot, exactly like a `versionAsOf` read
    * (deliberate: the closed file list is what makes the scan immune
    * to concurrent commits/compactions). Re-create the view — or call
    * `spark.read.format("graft-snapshot")` per query — to see a newer
    * head.
    */
  override def createRelation(ctx: SQLContext,
                              parameters: Map[String, String]): BaseRelation = {
    val spark = ctx.sparkSession
    val table = SnapshotStreamSource.tablePath(parameters)
    val branch = parameters.get("branch")
    val picked = Seq("versionAsOf", "timestampAsOf", "tag")
      .filter(parameters.contains)
    require(picked.size <= 1,
      s"at most one of versionAsOf/timestampAsOf/tag, got ${picked.mkString(", ")}")
    val version: Option[Int] = picked.headOption.map {
      case "versionAsOf" => parameters("versionAsOf").toInt
      case "timestampAsOf" =>
        require(branch.isEmpty, "timestampAsOf reads main-chain history; " +
          "combine branch with versionAsOf instead")
        Snapshots.versionAsOf(spark, table,
          SnapshotStreamSource.parseTimestampMillis(
            "timestampAsOf", parameters("timestampAsOf")))
      case "tag" =>
        require(branch.isEmpty, "a tag pins a MAIN version; drop the " +
          "branch option")
        val name = parameters("tag")
        Snapshots.tags(spark, table).getOrElse(name,
          sys.error(s"$table has no tag '$name'"))
    }
    // resolve ONCE and pin: probing the head and then re-resolving it
    // for the scan would let a commit racing between the two flip the
    // relation's shape (e.g. a fresh MoR erase landing after a flat
    // probe resurrects the old loud reject)
    val pinned = Some(Snapshots.resolveVersion(spark, table, version, branch))
    if (Snapshots.hasPendingMorDeletes(spark, table, pinned, branch))
      new SnapshotMorRelation(ctx,
        branch.fold(Snapshots.read(spark, table, pinned))(b =>
          Snapshots.readBranch(spark, table, b, pinned)))
    else
      org.apache.spark.sql.graftbridge.Bridge.singleBaseRelation(
        Snapshots.flatScan(spark, table, pinned, branch))
  }

  /** The BATCH-write face: `df.write.format("graft-snapshot")
    * .mode(...).save(path)` maps each `SaveMode` to the format commit
    * it IS — Append → [[Snapshots.commitAppend]] (with optional
    * `evolve`), Overwrite → [[Snapshots.commitOverwrite]],
    * ErrorIfExists → first commit only, Ignore → no-op on an existing
    * table. `statsCols` / `bucketCols` (`col:mod` comma list) ride the
    * commit so the written table is born prunable.
    */
  override def createRelation(ctx: SQLContext, mode: SaveMode,
                              parameters: Map[String, String],
                              data: DataFrame): BaseRelation = {
    val spark = ctx.sparkSession
    val table = SnapshotStreamSource.tablePath(parameters)
    val statsCols = parameters.get("statsCols")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val bucketCols = parameters.get("bucketCols")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).map { cell =>
        cell.split(':') match {
          case Array(c, m) => c -> m.toInt
          case _ => sys.error(s"bucketCols cells are col:mod, got '$cell'")
        }
      }.toMap).getOrElse(Map.empty[String, Int])
    val evolve = parameters.get("evolve").exists(_.toBoolean)
    // ErrorIfExists/Ignore validate emptiness INSIDE the publish slot
    // (commitFirstVersion) — a check-then-act versions().isEmpty here
    // would let two racing first writers both pass the check, landing
    // ErrorIfExists silently as v2 or Ignore overwriting a racer's v1
    mode match {
      case SaveMode.Append =>
        Snapshots.commitAppend(spark, table, data, statsCols, evolve, bucketCols)
      case SaveMode.Overwrite =>
        Snapshots.commitOverwrite(spark, table, data, statsCols, bucketCols)
      case SaveMode.ErrorIfExists =>
        // fast-path probe only SAVES the staging write on an obviously
        // existing table; the authoritative check is in the slot
        if (Snapshots.versions(spark, table).nonEmpty)
          throw new IllegalArgumentException(
            s"$table already has committed versions (SaveMode.ErrorIfExists)")
        try Snapshots.commitFirstVersion(spark, table, data, statsCols, bucketCols)
        catch {
          case _: Snapshots.ConcurrentCommitException =>
            throw new IllegalArgumentException(
              s"$table already has committed versions (SaveMode.ErrorIfExists)")
        }
      case SaveMode.Ignore =>
        if (Snapshots.versions(spark, table).isEmpty)
          try { Snapshots.commitFirstVersion(spark, table, data, statsCols, bucketCols); () }
          catch {
            // the table exists (a racer's publish won the slot since the
            // probe): Ignore's contract is exactly this no-op — the
            // racer's v1 is never overwritten
            case _: Snapshots.ConcurrentCommitException => ()
          }
    }
    // the returned relation is advisory (Spark's SaveIntoDataSourceCommand
    // discards it) — build the real manifest-backed relation when the
    // table is flat-readable, else a schema-only stub: a table with
    // pending merge-on-read deletes is perfectly WRITABLE (appends are
    // legal on MoR tables), and throwing here would make save() report
    // failure AFTER the commit durably landed — a caller retrying the
    // "failed" write would append its rows twice
    try createRelation(ctx, Map("path" -> table))
    catch {
      case _: IllegalArgumentException =>
        new BaseRelation {
          override val sqlContext: SQLContext = ctx
          override val schema: StructType = data.schema
        }
    }
  }

  /** The WRITE side — `df.writeStream.format("graft-snapshot")
    * .option("checkpointLocation", ...).start(table)` — one sink, the
    * full output-mode matrix, each mode mapped to the format commit
    * whose semantics it IS:
    *
    *  - **Append** → [[Snapshots.commitAppendOnce]] under the
    *    deterministic token `<checkpointLocation>#b<batchId>`: Spark's
    *    at-least-once batch delivery (a replayed trigger calls
    *    `addBatch` with the SAME batch id) lands exactly-once table
    *    effects — the packaged form of the foreachBatch+token pattern
    *    every prior streaming-ingest query hand-rolled;
    *  - **Complete** → [[Snapshots.commitOverwriteOnce]] under the same
    *    token: each trigger re-emits the whole result (a streaming
    *    aggregation) and REPLACES the snapshot — the streaming
    *    MATERIALIZED VIEW: the table's head is always the latest full
    *    aggregate, history = one version per trigger (time travel over
    *    the MV's evolution), replays version-level no-ops;
    *  - **Update** → [[Snapshots.mergeIntoCommit]] keyed by the
    *    required `mergeKey` option (optional `mergeSeq`/`mergeOp` map
    *    to seqCol/opCol): each trigger's changed rows upsert/delete —
    *    the CDC-replication sink. Requires a bootstrapped target
    *    (merge needs a committed base — commitOverwrite the initial
    *    snapshot first). Merge is idempotent in EFFECT (spec-pinned:
    *    a replayed merge lands a row-identical snapshot), so replays
    *    are content-exact; they may add a content-identical version.
    *
    * The read side makes table → readStream → transforms → writeStream
    * → table a pure DataStream-API pipeline in any of the three modes.
    * Options: `statsCols` (comma list — per-file (min,max)+nulls+
    * rowcount cells ride every batch commit, so the table stays
    * prunable as it grows), `evolve` (additive schema evolution per
    * batch, Append mode), `replayHorizon` (token dedup window, default
    * 128 — matches a checkpoint's replay reality). The token prefix
    * must be stable across restarts and unique per query:
    * `checkpointLocation` is both (pass `tokenPrefix` explicitly when
    * relying on the session-default checkpoint root).
    */
  override def createSink(ctx: SQLContext, parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: OutputMode): Sink = {
    val table = SnapshotStreamSource.tablePath(parameters)
    require(partitionColumns.isEmpty,
      "graft-snapshot tables have no hive partitions; cluster via " +
        "statsCols/bucketed maintenance commits instead")
    // Append/Complete REQUIRE a stable token prefix (their exactly-once
    // story IS the token); resolved inside those branches only — update
    // mode's merge is idempotent in effect and must not spuriously
    // demand a prefix from a query relying on the session-default
    // checkpoint root (Spark does not pass that default into the sink
    // options), though it USES one as a replay fast-path when present.
    val prefixOpt = parameters.get("checkpointLocation")
      .orElse(parameters.get("tokenPrefix"))
    def prefix = prefixOpt
      .getOrElse(sys.error("graft-snapshot sink needs a stable " +
        "idempotency-token prefix: set .option(\"checkpointLocation\", ...) " +
        "on the writer (recommended) or .option(\"tokenPrefix\", ...)"))
    val statsCols = parameters.get("statsCols")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val evolve = parameters.get("evolve").exists(_.toBoolean)
    val horizon = parameters.get("replayHorizon").map(_.toInt).getOrElse(128)
    val spark = ctx.sparkSession
    outputMode match {
      case m if m == OutputMode.Append() =>
        new SnapshotSink(spark, table, prefix, statsCols, evolve, horizon)
      case m if m == OutputMode.Complete() =>
        new SnapshotCompleteSink(spark, table, prefix, statsCols, horizon)
      case m if m == OutputMode.Update() =>
        val key = parameters.getOrElse("mergeKey", sys.error(
          "graft-snapshot sink in update mode needs .option(\"mergeKey\", " +
            "<keyCol>) — each batch's rows MERGE INTO the table by key " +
            "(optional mergeSeq/mergeOp for latest-wins collapse and " +
            "deletes)"))
        new SnapshotMergeSink(spark, table, key,
          parameters.get("mergeSeq"), parameters.get("mergeOp"), statsCols,
          prefixOpt, horizon)
      case other => sys.error(s"unsupported output mode $other")
    }
  }

  override def sourceSchema(ctx: SQLContext, schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): (String, StructType) =
    (shortName(), SnapshotStreamSource.resolveSchema(
      ctx.sparkSession, parameters))

  override def createSource(ctx: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): Source = {
    val spark = ctx.sparkSession
    val table = SnapshotStreamSource.tablePath(parameters)
    val declared = schema.getOrElse(
      SnapshotStreamSource.resolveSchema(spark, parameters))
    val feed = SnapshotStreamSource.feedMode(parameters)
    // option-shape validation is EAGER (a misconfigured query fails at
    // start whatever the checkpoint holds) …
    val startPicked = Seq("startingVersion", "startingTag", "startingTimestamp")
      .filter(parameters.contains)
    require(startPicked.size <= 1,
      s"at most one of startingVersion/startingTag/startingTimestamp, " +
        s"got ${startPicked.mkString(", ")}")
    // … but start RESOLUTION is LAZY: it runs only when the checkpoint
    // has no persisted start marker yet (the very first start of the
    // query). A restart resumes from the checkpoint's offsets, and
    // eagerly re-resolving here would kill a healthy long-running
    // stream whose referent has since moved on — retention vacuuming
    // every version at-or-before a startingTimestamp, a startingTag
    // dropped after the run began, or an explicit startingVersion
    // expired — even though the resolved value would be discarded.
    val start: () => Long = () => {
      val vs = Snapshots.versions(spark, table)
      // startingTag: begin strictly AFTER a tagged version — the
      // reproducible-run pin reused as a stream start ("replicate
      // everything since run-2026-08's snapshot") without carrying
      // version numbers through configs
      val startTag = parameters.get("startingTag").map { name =>
        val v = Snapshots.tags(spark, table).getOrElse(name,
          sys.error(s"$table has no tag '$name'"))
        // same committed-version validation as the startingVersion path —
        // a stale or hand-edited ref fails loudly at stream start, not
        // with a raw missing-manifest error at the first delta window
        require(vs.contains(v),
          s"tag '$name' points at v$v, which is not a committed version " +
            s"of $table (have ${vs.mkString(",")})")
        v.toLong
      }
      // startingTimestamp: parity with the batch face's timestampAsOf —
      // changes strictly AFTER the version that was the head at that wall
      // clock ([[Snapshots.versionAsOf]] at-or-before resolution; a
      // pre-history timestamp fails loudly there). Same accepted forms as
      // timestampAsOf ([[SnapshotStreamSource.parseTimestampMillis]]).
      val startTs = parameters.get("startingTimestamp").map { s =>
        Snapshots.versionAsOf(spark, table,
          SnapshotStreamSource.parseTimestampMillis("startingTimestamp", s)).toLong
      }
      startTag.orElse(startTs).getOrElse(
        parameters.getOrElse("startingVersion", "earliest") match {
          case "earliest" => 0L
          case "latest" => vs.last.toLong
          case n =>
            val v = n.toLong
            require(v == 0L || vs.contains(v.toInt),
              s"startingVersion $v is not 0/earliest/latest or a committed " +
                s"version of $table (have ${vs.mkString(",")})")
            v
        })
    }
    val maxV = parameters.get("maxVersionsPerTrigger").map { m =>
      val v = m.toInt; require(v >= 1, s"maxVersionsPerTrigger must be >= 1, got $v"); v
    }
    val maxB = parameters.get("maxBytesPerTrigger").map { m =>
      val v = m.toLong; require(v >= 1, s"maxBytesPerTrigger must be >= 1, got $v")
      // clamp far below Long.MaxValue: admission uses `cap + 1` as the
      // unknown-size sentinel and sums deltas against the cap — an
      // unclamped near-MaxValue cap would overflow those NEGATIVE and
      // admit unbounded windows instead of isolating unknown-size ones.
      // No real trigger is exabytes; the clamp is semantics-free.
      math.min(v, Long.MaxValue / 4)
    }
    new SnapshotSource(spark, table, declared, feed, start, maxV, maxB,
      parameters.get("pinConsumer"), metadataPath)
  }
}

/** V1 offset for the snapshot source. A consumed-through-version point
  * renders as the BARE NUMBER — byte-identical to the LongOffset json
  * every pre-split checkpoint logged, so existing checkpoints restart
  * seamlessly. A mid-initial-load point (the first `files` data files
  * of the snapshot at `version` consumed) renders as
  * `{"v":version,"f":files}`.
  */
private[sources] case class SnapshotOffset(version: Long,
                                           files: Option[Long]) extends Offset {
  override val json: String =
    files.fold(version.toString)(k => s"""{"v":$version,"f":$k}""")
}

object SnapshotStreamSource {
  private[sources] def tablePath(parameters: Map[String, String]): String =
    parameters.getOrElse("path", sys.error(
      "graft-snapshot source needs a table root: .load(path) or .option(\"path\", ...)"))

  /** Parse a reader-option wall-clock bound (`timestampAsOf` /
    * `startingTimestamp`) to epoch millis. Accepted forms, matching the
    * lakehouse readers' convention:
    *
    *  - epoch milliseconds (all digits, optional leading '-');
    *  - `yyyy-MM-dd` — local midnight;
    *  - `yyyy-MM-dd HH:mm:ss[.fff]` or the ISO `yyyy-MM-ddTHH:mm:ss[.fff]`
    *    — local (session JVM) time.
    *
    * Anything else fails loudly naming the option and the forms.
    */
  private[sources] def parseTimestampMillis(option: String, s: String): Long = {
    val t = s.trim
    // every malformed input — including an all-digit string past Long
    // range — lands on the SAME descriptive error (NumberFormatException
    // is an IllegalArgumentException, so toLong overflow is caught too)
    try {
      if (t.nonEmpty && t.forall(_.isDigit)) t.toLong
      else if (t.length > 1 && t.head == '-' && t.tail.forall(_.isDigit))
        t.toLong
      else {
        val normalized = t.replace('T', ' ')
        if (normalized.contains(' '))
          java.sql.Timestamp.valueOf(normalized).getTime
        else java.sql.Date.valueOf(normalized).getTime
      }
    } catch {
      case _: IllegalArgumentException => throw new IllegalArgumentException(
        s"$option: cannot parse '$s' — pass epoch millis, 'yyyy-MM-dd' " +
          "(local midnight) or 'yyyy-MM-dd[ T]HH:mm:ss[.fff]' (local time)")
    }
  }

  private[sources] def feedMode(parameters: Map[String, String]): Boolean =
    parameters.get("feed").exists(_.toBoolean)

  private[sources] def resolveSchema(spark: SparkSession,
                                     parameters: Map[String, String]): StructType = {
    val table = tablePath(parameters)
    val vs = Snapshots.versions(spark, table)
    require(vs.nonEmpty, s"$table has no committed versions to stream from")
    val st = Snapshots.committedSchema(spark, table, vs.last).getOrElse(
      sys.error(s"$table v${vs.last} has no committed schema header; " +
        "streaming needs the committed-schema contract (any commit made " +
        "by this library records it)"))
    if (!feedMode(parameters)) st
    else {
      Snapshots.requireNoFeedColumns(table, st)
      StructType(st.fields ++ Snapshots.FeedFields)
    }
  }
}

/** The batch-read relation for a snapshot with PENDING merge-on-read
  * deletes: serves the SAME anti-join plan [[Snapshots.read]] computes
  * (each data group anti-joined against the delete-key sets committed
  * after it), so the SQL/format face returns the correct post-delete
  * rows instead of rejecting — the first SQL user to hit a table
  * mid-erase gets the answer, not a dead end. A `PrunedFilteredScan`:
  * Spark's required columns and pushable filters are REPLAYED onto the
  * DataFrame plan, where Catalyst pushes them through the anti-joins
  * into the manifest-backed scans — committed-stats file skipping and
  * parquet pushdown ride exactly as they do under `Snapshots.read`
  * with the same predicate. `unhandledFilters` returns everything
  * (Spark re-applies each filter above the scan), so a filter this
  * translation can't express is merely unpushed, never wrong. The
  * relation pins its version at creation like the flat fast path —
  * same staleness contract.
  */
private class SnapshotMorRelation(ctx: SQLContext, df: DataFrame)
    extends BaseRelation with org.apache.spark.sql.sources.PrunedFilteredScan {
  import org.apache.spark.sql.sources._
  import org.apache.spark.sql.functions.{col, lit}
  import org.apache.spark.sql.Column

  override val sqlContext: SQLContext = ctx
  override val schema: StructType = df.schema
  override def needConversion: Boolean = true // Row-based scan (V1)
  override def unhandledFilters(filters: Array[Filter]): Array[Filter] = filters

  // Spark hands buildScan RAW attribute names; a bare col(name) would
  // re-parse a top-level column literally named "user.id" as nested
  // field access — quote every name (backticks doubled) instead
  private def attr(name: String): Column =
    col("`" + name.replace("`", "``") + "`")

  private def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(attr(a) === lit(v))
    case EqualNullSafe(a, v) => Some(attr(a) <=> lit(v))
    case GreaterThan(a, v) => Some(attr(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(attr(a) >= lit(v))
    case LessThan(a, v) => Some(attr(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(attr(a) <= lit(v))
    case In(a, vs) => Some(attr(a).isInCollection(vs.toSeq))
    case IsNull(a) => Some(attr(a).isNull)
    case IsNotNull(a) => Some(attr(a).isNotNull)
    case StringStartsWith(a, p) => Some(attr(a).startsWith(p))
    case StringEndsWith(a, p) => Some(attr(a).endsWith(p))
    case StringContains(a, p) => Some(attr(a).contains(p))
    case And(l, r) => for (a <- toColumn(l); b <- toColumn(r)) yield a && b
    case Or(l, r) => for (a <- toColumn(l); b <- toColumn(r)) yield a || b
    case Not(c) => toColumn(c).map(!_)
    case _ => None // unpushed, re-applied by Spark above
  }

  override def buildScan(requiredColumns: Array[String],
                         filters: Array[Filter]): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
    val filtered = filters.flatMap(toColumn).foldLeft(df)(_ filter _)
    // empty requiredColumns (count(*)) projects to zero-column rows
    filtered.select(requiredColumns.map(attr).toSeq: _*).rdd
  }
}

/** One live stream's sink instance — see
  * [[SnapshotStreamSource.createSink]]. `addBatch` receives the
  * micro-batch Dataset exactly as foreachBatch does (the V1 sink
  * contract); the tokened commit makes a replayed batch id a no-op.
  */
private class SnapshotSink(spark: SparkSession, table: String,
                           tokenPrefix: String, statsCols: Seq[String],
                           evolve: Boolean, replayHorizon: Int) extends Sink {
  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    // re-root the planned micro-batch as a batch Dataset (the
    // ForeachBatchSink move) — the raw addBatch df rejects batch writes
    val batch = org.apache.spark.sql.graftbridge.Bridge.asBatch(data)
    Snapshots.commitAppendOnce(spark, table, batch,
      token = s"$tokenPrefix#b$batchId", replayHorizon = replayHorizon,
      evolve = evolve, statsCols = statsCols)
    ()
  }
  override def toString: String = s"SnapshotStreamSink[$table]"
}

/** COMPLETE-mode sink: each trigger's whole result replaces the
  * snapshot under the batch token — the streaming materialized view
  * (see [[SnapshotStreamSource.createSink]]).
  */
private class SnapshotCompleteSink(spark: SparkSession, table: String,
                                   tokenPrefix: String, statsCols: Seq[String],
                                   replayHorizon: Int) extends Sink {
  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val batch = org.apache.spark.sql.graftbridge.Bridge.asBatch(data)
    Snapshots.commitOverwriteOnce(spark, table, batch,
      token = s"$tokenPrefix#b$batchId", replayHorizon = replayHorizon,
      statsCols = statsCols)
    ()
  }
  override def toString: String = s"SnapshotStreamCompleteSink[$table]"
}

/** UPDATE-mode sink: each trigger's changed rows MERGE INTO the table
  * by key — the CDC-replication sink (see
  * [[SnapshotStreamSource.createSink]]). Replay safety is merge's own
  * effect-idempotence (spec-pinned): a batch replayed after a torn
  * commit log re-merges the same collapsed rows and lands a
  * row-identical snapshot. That claim assumes ONE WRITER on the target
  * table — the same one-writer-per-token-stream contract
  * [[Snapshots.commitAppendOnce]]/[[Snapshots.commitOverwriteOnce]]
  * pin: a foreign commit interleaving between the original merge and
  * its replay would have the replay's stale rows re-merged over it for
  * the shared keys, because the table stores no per-row sequence.
  * Quiesce other writers, or route them through this stream.
  *
  * When the writer has a stable token prefix (checkpointLocation /
  * tokenPrefix — present on every real query), each batch's merge is
  * ALSO guarded by the deterministic token `<prefix>#b<batchId>`: a
  * replayed batch id whose token already committed within the replay
  * horizon SKIPS the merge entirely, so a crash-replay loop stops
  * appending content-identical versions to the target's history (and
  * the skip closes the foreign-interleave window above for every
  * replay the horizon covers).
  */
private class SnapshotMergeSink(spark: SparkSession, table: String,
                                keyCol: String, seqCol: Option[String],
                                opCol: Option[String],
                                statsCols: Seq[String],
                                tokenPrefix: Option[String],
                                replayHorizon: Int) extends Sink {
  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val batch = org.apache.spark.sql.graftbridge.Bridge.asBatch(data)
    Snapshots.mergeIntoCommit(spark, table, keyCol, batch,
      seqCol = seqCol, opCol = opCol, statsCols = statsCols,
      token = tokenPrefix.map(p => s"$p#b$batchId"),
      replayHorizon = replayHorizon)
    ()
  }
  override def toString: String = s"SnapshotStreamMergeSink[$table]"
}

/** One live stream's source instance — see [[SnapshotStreamSource]] for
  * the contract. Single-threaded per stream (Spark's microbatch driver
  * loop), so the `known` var needs no synchronization.
  *
  * OFFSETS are (version, filesConsumed) pairs — [[SnapshotOffset]]:
  * `(v, None)` = all data through version v (the only shape that
  * existed pre-split, so old checkpoints parse unchanged); `(v, Some
  * (k))` = the first k body-ordered data files of the INITIAL-LOAD
  * snapshot at v. `maxBytesPerTrigger` drives both admission faces:
  * the initial load CHUNKS one fixed snapshot version into file groups
  * under the cap (closing the "bootstrapped big table plans as ONE
  * micro-batch" hazard), and delta windows admit versions while their
  * committed delta bytes (`sz=` manifest cells — metadata only) fit.
  * Both plans are manifest-deterministic, so crash replays stay exact.
  */
private class SnapshotSource(spark: SparkSession, table: String,
                             declared: StructType, feed: Boolean,
                             requestedStart: () => Long,
                             maxVersions: Option[Int],
                             maxBytes: Option[Long],
                             pinConsumer: Option[String],
                             metadataPath: String) extends Source {

  private type Off = (Long, Option[Long])

  /** Total order on offsets: by version, then a whole version above any
    * of its chunks, chunks by file count.
    */
  private def cmp(a: Off, b: Off): Int =
    if (a._1 != b._1) java.lang.Long.compare(a._1, b._1)
    else (a._2, b._2) match {
      case (None, None) => 0
      case (None, _) => 1
      case (_, None) => -1
      case (Some(x), Some(y)) => java.lang.Long.compare(x, y)
    }

  private val hadoopFs =
    new Path(metadataPath).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // marker names encode an offset as <version> or <version>_<files>
  private def renderOff(o: Off): String =
    o._2.fold(o._1.toString)(k => s"${o._1}_$k")

  private def markers(prefix: String): Seq[Off] = {
    val dir = new Path(metadataPath)
    if (!hadoopFs.exists(dir)) Seq.empty
    else hadoopFs.listStatus(dir).map(_.getPath.getName)
      .collect { case n if n.startsWith(prefix) && n.length > prefix.length =>
        n.substring(prefix.length) }
      .flatMap(_.split('_') match {
        case Array(v) if v.nonEmpty && v.forall(_.isDigit) =>
          Some((v.toLong, None: Option[Long]))
        case Array(v, k) if v.nonEmpty && v.forall(_.isDigit) &&
          k.nonEmpty && k.forall(_.isDigit) =>
          Some((v.toLong, Some(k.toLong)))
        case _ => None
      }).toSeq
  }

  private def writeMarker(name: String): Unit = {
    hadoopFs.mkdirs(new Path(metadataPath))
    val p = new Path(metadataPath, name)
    try hadoopFs.create(p, false).close()
    catch {
      // ONLY the create-on-exists race is benign (a prior run won).
      // Any other write failure must surface: recordHighWater prunes
      // older hw- markers and advances `known` in memory right after
      // this call, so swallowing a transient FS failure here would
      // silently erase the restart high-water protection — after a
      // crash+restart, getOffset under maxVersionsPerTrigger could
      // offer an offset BELOW the checkpoint's committed one (an
      // inverted window V1 cannot plan).
      case e: java.io.IOException if !hadoopFs.exists(p) => throw e
      case _: java.io.IOException => ()
    }
  }

  /** The query's start offset, PERSISTED at first start (`start-<n>`
    * create-once marker): `startingVersion=latest` must resolve the
    * head exactly once per QUERY, not per restart — a restart that
    * re-resolved it would (a) jump `known` past checkpointed-but-
    * unprocessed versions, bypassing maxVersionsPerTrigger for the
    * whole catch-up range, and (b) make the batch-0 replay
    * (`getBatch(None, end)`) read a different window than the one the
    * offset log recorded. The `requestedStart` THUNK only runs when no
    * marker exists (first start): on restart the referent may be gone
    * (vacuumed timestamp horizon, dropped tag) and must not be
    * re-resolved — the marker is the resolution of record.
    */
  private val startOffset: Long =
    markers("start-").headOption.map(_._1).getOrElse {
      val rs = requestedStart()
      writeMarker(s"start-$rs")
      markers("start-").headOption.map(_._1).getOrElse(rs)
    }

  // the vacuum pin exists from STREAM START, not first commit: the
  // initial load may run for minutes against versions a retention job
  // would otherwise reclaim mid-scan
  pinConsumer.foreach(n =>
    Snapshots.advanceConsumer(spark, table, n, startOffset.toInt))

  /** Largest offset any handed-out window reached: max(startOffset,
    * persisted high-water marks). Marker files are create-once
    * (`hw-<offset>`), so a crashed write never tears; stale markers are
    * pruned best-effort after each advance.
    */
  private var known: Off =
    ((startOffset, None: Option[Long]) +: markers("hw-"))
      .reduceLeft((a, b) => if (cmp(a, b) >= 0) a else b)

  private def recordHighWater(to: Off): Unit = if (cmp(to, known) > 0) {
    writeMarker(s"hw-${renderOff(to)}")
    markers("hw-").filter(cmp(_, to) < 0).foreach(o =>
      hadoopFs.delete(new Path(metadataPath, s"hw-${renderOff(o)}"), false))
    known = to
    deltaBytesCache.filterInPlace { case ((_, v), _) => v > to._1 }
  }

  /** Per-version delta-bytes cache: a committed version's delta is
    * immutable, and a LAGGING byte-capped stream re-evaluates the same
    * un-admitted candidates every trigger — without this, getOffset on
    * a stream N versions behind pays O(N) version-body reads per
    * trigger instead of once per version. Pruned below `known` as
    * windows commit.
    */
  private val deltaBytesCache =
    scala.collection.mutable.Map.empty[(Int, Int), Long]
  private def deltaBytes(prev: Int, v: Int, unknown: Long): Long =
    deltaBytesCache.getOrElseUpdate((prev, v),
      Snapshots.versionDeltaBytes(spark, table, prev, v, unknown))

  override def schema: StructType = declared

  private def offsetOf(o: Offset): Off = o match {
    case l: LongOffset => (l.offset, None)
    case SnapshotOffset(v, f) => (v, f)
    case other => // SerializedOffset after restart
      val s = other.json.trim
      if (s.nonEmpty && s.forall(_.isDigit)) (s.toLong, None)
      else {
        val m = java.util.regex.Pattern
          .compile("""\{"v":(\d+),"f":(\d+)\}""").matcher(s)
        require(m.matches(), s"unparsable snapshot offset '$s'")
        (m.group(1).toLong, Some(m.group(2).toLong))
      }
  }

  /** The initial-load snapshot's body-ordered per-file sizes, cached —
    * the version is FIXED once chunking starts, so one plan serves the
    * whole load. None sizes (pre-r15 lines) chunk as cap-breaking
    * (their file gets its own batch).
    */
  private var initCache: Option[(Long, Vector[Option[Long]])] = None
  private def initialSizes(v: Long): Vector[Option[Long]] = initCache match {
    case Some((cv, s)) if cv == v => s
    case _ =>
      val s = Snapshots.orderedDataEntries(spark, table, v.toInt)
        .map(_.size).toVector
      initCache = Some((v, s))
      s
  }

  /** First index > `from` such that files [from, end) fit the byte cap
    * — always advances at least one file.
    */
  private def chunkEnd(sizes: Vector[Option[Long]], from: Int): Int = {
    // maxBytes is clamped to <= Long.MaxValue/4 at parse (and this
    // defensive default matches), so the `cap + 1` unknown-size sentinel
    // and the running `tot + sentinel` comparison can never overflow
    val cap = maxBytes.getOrElse(Long.MaxValue / 4)
    var i = from
    var tot = 0L
    while (i < sizes.length &&
      (i == from || tot + sizes(i).getOrElse(cap + 1) <= cap)) {
      tot += sizes(i).getOrElse(cap + 1)
      i += 1
    }
    i
  }

  override def getOffset: Option[Offset] = {
    // admission control counts COMMITTED versions, never version-number
    // arithmetic: vacuum/expireSnapshots may have reclaimed an early or
    // (tag-pinned history) mid-chain range, and `known + m` could then
    // name a version that no longer exists — offering it would fail the
    // window and crash-loop the stream one number per restart. The
    // initial load composes: versions vacuumed below the first
    // surviving one are subsumed by the full-snapshot window (0, v₁]
    val off: Off = known match {
      case (v, Some(k)) =>
        // mid-initial-load: keep draining the FIXED snapshot version in
        // byte-capped file chunks
        val sizes = initialSizes(v)
        val k2 = chunkEnd(sizes, k.toInt)
        if (k2 >= sizes.length) (v, None) else (v, Some(k2.toLong))
      case (v, None) =>
        // caught-up fast path: head via the O(1) hint — the steady state
        // of a live stream ticks with zero `_manifests` LISTs; only a
        // stream with actual catch-up work pays the LIST (vacuum can
        // leave gaps in the window, so the catch-up set needs the real
        // committed-version list, not number arithmetic)
        val after =
          if (Snapshots.headVersion(spark, table).forall(_ <= v)) Seq.empty
          else Snapshots.versions(spark, table).filter(_ > v)
        if (after.isEmpty) known
        else {
          val candidates = maxVersions.fold(after)(m => after.take(m))
          if (v == 0) {
            // INITIAL LOAD (startingVersion=earliest on a non-empty
            // table): the window (0, target] is the whole snapshot —
            // under a byte cap it SPLITS into file chunks instead of
            // planning a bootstrap-sized table as one micro-batch
            val target = candidates.last.toLong
            if (maxBytes.isEmpty) (target, None)
            else {
              val sizes = initialSizes(target)
              val k1 = chunkEnd(sizes, 0)
              if (k1 >= sizes.length) (target, None)
              else (target, Some(k1.toLong))
            }
          } else {
            // DELTA phase: admit versions while their committed delta
            // bytes fit the cap (metadata-only: sz= manifest cells);
            // always at least one. Maintenance versions cost 0 —
            // dataChange=false windows plan empty.
            val target = maxBytes match {
              case None => candidates.last
              case Some(cap) =>
                var prev = v.toInt
                var admitted = prev
                var tot = 0L
                var i = 0
                var stop = false
                while (i < candidates.length && !stop) {
                  val cnd = candidates(i)
                  val d = deltaBytes(prev, cnd, unknown = cap + 1)
                  // overflow-safe cap check: d <= cap - tot (tot <= cap)
                  if (admitted == v.toInt || d <= cap - tot) {
                    admitted = cnd; tot += d; prev = cnd; i += 1
                  } else stop = true
                }
                admitted
            }
            (target.toLong, None)
          }
        }
    }
    val eff = if (cmp(off, known) > 0) off else known
    // nothing at or before startOffset is ever a window: returning None
    // until the table moves past it avoids a spurious empty batch 0 on
    // a caught-up-at-start stream
    if (cmp(eff, (startOffset, None)) <= 0) None
    else Some(SnapshotOffset(eff._1, eff._2))
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val from: Off = start.map(offsetOf).getOrElse((startOffset, None))
    val to: Off = offsetOf(end)
    recordHighWater(to)
    val batch = (from, to) match {
      case ((fv, None), (tv, None)) =>
        Snapshots.streamBatch(spark, table, fv.toInt, tv.toInt, feed)
      // initial-load CHUNK windows — all three shapes the split load
      // produces: first chunk, middle chunk, final chunk
      case ((fv, None), (tv, Some(k2))) if fv == 0 =>
        Snapshots.snapshotChunk(spark, table, tv.toInt, 0, k2.toInt, feed)
      case ((fv, Some(k1)), (tv, Some(k2))) if fv == tv =>
        Snapshots.snapshotChunk(spark, table, tv.toInt, k1.toInt, k2.toInt, feed)
      case ((fv, Some(k1)), (tv, None)) if fv == tv =>
        Snapshots.snapshotChunk(spark, table, tv.toInt, k1.toInt, Int.MaxValue, feed)
      case other => sys.error(s"inconsistent snapshot offsets $other — " +
        "a chunk window must stay within its initial-load version")
    }
    // project onto the DECLARED schema by name: evolution-added columns
    // stay invisible until restart, omitted trailing columns null-fill
    val have = batch.columns.toSet
    val shaped = batch.select(declared.fields.toSeq.map { f =>
      (if (have(f.name)) col(f.name).cast(f.dataType)
       else lit(null).cast(f.dataType)).as(f.name)
    }: _*)
    // in the INITIAL-LOAD window only (full or chunked), delete-key
    // scans stay BATCH leaves: a snapshot with pending merge-on-read
    // deletes anti-joins them, and only the stream-STATIC LeftAnti
    // shape is plannable per micro-batch. Feed DELTA windows project
    // delete keys into rows (union, not join) — there they are the
    // window's DATA and must be streaming like any other leaf (a
    // delete-only window would otherwise have no streaming leaf at all)
    org.apache.spark.sql.graftbridge.Bridge.asStreaming(shaped,
      staticLeaf =
        if (from._1 == 0 || from._2.isDefined) Snapshots.isDeleteKeySchema
        else _ => false)
  }

  override def commit(end: Offset): Unit = offsetOf(end) match {
    case (v, None) =>
      pinConsumer.foreach(n =>
        Snapshots.advanceConsumer(spark, table, n, v.toInt))
    case _ => () // mid-initial-load: the start pin already covers it
  }

  override def stop(): Unit = ()

  override def toString: String =
    s"SnapshotStreamSource[$table${if (feed) ", feed" else ""}]"
}
