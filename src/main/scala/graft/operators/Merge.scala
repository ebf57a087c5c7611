package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Latest-wins CDC apply — MERGE INTO (upsert + delete) semantics for a
  * long-lived corpus snapshot maintained incrementally: the target holds
  * one row per key; a change batch carries any number of change rows per
  * key, each with a sequence value establishing order (a CDC log LSN /
  * commit timestamp) and an op marker (`"u"` upsert, `"d"` delete). The
  * result is the next snapshot: per key, the highest-sequence change wins
  * over the target row and over every earlier change; a winning delete
  * removes the key.
  *
  * NOT implemented as a join. The scalable formulation is union +
  * compaction: target rows enter at precedence 0 (sequence irrelevant),
  * change rows at precedence 1, then ONE key-grouped exchange reduces
  * each key with a map-side-combinable
  * `max_by(row, struct(precedence, seq, row))`. Why this beats the two
  * textbook shapes at 100 TB:
  *
  *  - MERGE-as-full-outer-join ships the target AND the change batch
  *    through a join exchange each, and still needs a pre-compaction of
  *    multi-change keys (a second exchange) before the join is 1:1.
  *  - The window formulation (`row_number() OVER (PARTITION BY key ORDER
  *    BY prec DESC, seq DESC) = 1`) is only hot-key-safe when an
  *    optimizer rescues it: Spark 4's `WindowGroupLimit` partial
  *    pushdown keeps top-1 per key map-side, and measured under 2M
  *    changes on ONE key it then matches `max_by` within noise
  *    (SURVEY.md §2.4, the r11 merge hot-key probe; rescue verified in
  *    the executed plan). Without that engine-specific rewrite — other engines, or a
  *    rank predicate the rewrite declines — the hot key's entire change
  *    history sorts in one window task.
  *
  *  `max_by` partials combine BEFORE the shuffle by the aggregate's own
  *  algebra: the hot key ships one partial row per map partition,
  *  bounded by partition count, not by change-log length — a guarantee
  *  carried by the operator itself rather than by an optimizer pattern
  *  match, and with no sort at all. (Same discipline as
  *  [[Components.keepBestRepresentatives]].)
  *
  * Determinism: the comparator ends with the row struct itself, so equal
  * (precedence, seq) ties — absent from a well-formed CDC log, where seq
  * is unique per key — still resolve identically on any engine.
  *
  * Contract: `target` columns = key ++ data; `changes` columns ⊇ key ++
  * data ++ (seqCol, opCol). Rows for keys absent from the target are
  * inserts; a delete for an absent key is a no-op (filtered with the
  * rest).
  */
object Merge {

  def applyChanges(
      target: DataFrame,
      changes: DataFrame,
      key: Seq[String],
      seqCol: String,
      opCol: String): DataFrame = {
    val dataCols = target.columns.toSeq
    require(key.forall(dataCols.contains), s"key $key must be target columns")
    val tagged = target
      .withColumn("_prec", lit(0))
      .withColumn("_seq", lit(Long.MinValue))
      .withColumn("_op", lit("u"))
      .unionByName(changes
        .select(dataCols.map(col) :+ lit(1).as("_prec") :+
          col(seqCol).cast("long").as("_seq") :+ col(opCol).as("_op"): _*))
    val row = struct((dataCols.filterNot(key.contains).map(col) :+
      col("_op")): _*)
    val won = tagged
      .groupBy(key.map(col): _*)
      .agg(max_by(row, struct(col("_prec"), col("_seq"), row)).as("_w"))
    won
      .filter(col("_w._op") =!= "d")
      .select(dataCols.map(c =>
        if (key.contains(c)) col(c) else col(s"_w.$c").as(c)): _*)
  }

  /** Partition-scoped CDC apply over a hive-partitioned parquet snapshot
    * — the lakehouse upsert shape: at 100 TB you never rewrite the whole
    * snapshot for a change batch that touches a handful of partitions.
    *
    *  1. The affected partition values come off the change batch (one
    *     bounded driver action — affected-partition count, the same
    *     driver-scalar budget as Components' edge count; pruning cannot
    *     be expressed without it).
    *  2. ONLY those partitions are read back (`isin` partition filter →
    *     partition pruning at the scan: untouched partitions contribute
    *     zero input splits) and merged with [[applyChanges]].
    *  3. The merged rows overwrite ONLY their partitions (dynamic
    *     partition overwrite); untouched partition directories keep
    *     their files byte-for-byte. Dynamic overwrite cannot express "a
    *     partition whose every row was deleted" (no output rows → no
    *     overwrite), so emptied affected partitions are removed
    *     explicitly through the Hadoop FS — without this, a fully
    *     deleted partition would silently resurrect its pre-merge rows.
    *
    * Returns the affected partition values (stringified), for logging /
    * test assertion. The partition column must be stable under updates
    * (a change row that MOVES a key across partitions would need a
    * delete in the old partition — the standard constraint for
    * partition-scoped upserts without a table format's manifest).
    */
  def applyChangesPartitioned(
      snapshotDir: String,
      changes: DataFrame,
      key: Seq[String],
      seqCol: String,
      opCol: String,
      partCol: String): Seq[String] = {
    val spark = changes.sparkSession
    // collect each affected partition twice over: the TYPED value drives
    // the pruning predicate; the cast-to-string drives the directory
    // path, because that cast (session timezone and all) is exactly how
    // the parquet writer renders partition values — String.valueOf of
    // the JVM object diverges for timestamp ("...12:34:56.0"), decimal
    // (sci notation) and similar, and a diverged delete path would
    // silently miss the emptied directory and resurrect its rows
    val affectedRows = changes
      .select(col(partCol), col(partCol).cast("string").as("_r"))
      .distinct().collect()
    val affected = affectedRows.map(_.get(0)).toSeq
    val rendered = affectedRows
      .map(r => if (r.isNullAt(1)) null else r.getString(1)).toSeq
    if (affected.isEmpty) return Seq.empty
    // isin never matches NULL, so a null-partition change batch needs the
    // explicit isNull disjunct or its target rows would never be read back
    // (the merge would then emit duplicates instead of upserts)
    val nonNull = affected.filter(_ != null)
    val partPred =
      if (nonNull.size == affected.size) col(partCol).isin(nonNull: _*)
      else if (nonNull.isEmpty) col(partCol).isNull
      else col(partCol).isin(nonNull: _*) || col(partCol).isNull
    val snap = spark.read.parquet(snapshotDir).filter(partPred)
    // NOT persisted even though the survivor collect and the overwrite
    // write both execute the merge: the survivor pass is column-PRUNED
    // to partCol (far cheaper than a full pass), while a cache pin would
    // force one full-width materialization plus a cache round-trip —
    // measured ~1 s/apply SLOWER at sf0.1 (r19).
    val merged = applyChanges(snap, changes, key, seqCol, opCol)
    val survivors = merged.select(col(partCol).cast("string")).distinct()
      .collect().map(r => if (r.isNullAt(0)) null else r.getString(0)).toSet
    // partitionOverwriteMode as a per-write option, NOT a session conf
    // mutation: the conf dance would leak dynamic overwrite into any
    // concurrent write on the same session (or clobber a concurrent setter
    // on restore)
    merged.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCol)
      .parquet(snapshotDir)
    val fs = new org.apache.hadoop.fs.Path(snapshotDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    rendered.filterNot(survivors.contains).foreach { v =>
      // the writer hive-escapes partition directory names (space, ':',
      // '%', '#', ... and null -> __HIVE_DEFAULT_PARTITION__); build the
      // doomed path with the same escaping or the delete silently misses
      // the real directory and the emptied partition resurrects its
      // pre-merge rows
      val dirName = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .getPartitionPathString(partCol, v)
      fs.delete(new org.apache.hadoop.fs.Path(s"$snapshotDir/$dirName"), true)
    }
    rendered.map(String.valueOf)
  }
}
