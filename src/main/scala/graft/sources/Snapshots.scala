package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.graftbridge.FileStats
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DateType, IntegerType, LongType, MapType, ShortType, StringType, StructType}

/** Manifest-based snapshot storage: atomic commits, versioned reads
  * (time travel), snapshot-isolated compaction, and orphan-file vacuum
  * over plain parquet — the minimal table format that closes the gap
  * [[Layout.compactSmallFiles]]'s scaladoc names explicitly ("concurrent
  * readers racing the one rename window need table-format-level
  * atomicity this plain-directory layout cannot provide").
  *
  * Layout:
  * {{{
  *   table/
  *     _manifests/v00000001.txt   -- VERSION file: header lines
  *                                -- (`# token=`, `# schema=`) + one
  *                                -- `@<segment>` reference per commit
  *     _manifests/_head.hint      -- best-effort O(1) head hint (the
  *                                -- Delta `_last_checkpoint` pattern);
  *                                -- advisory, LIST is the fallback
  *     _segments/s-<uuid>.txt     -- immutable SEGMENT: one data line per
  *                                -- file staged by ONE commit:
  *                                --   relpath[\tcol=kind:lo:hi ...]
  *     _branches/<name>/vNNN.txt  -- a branch's own version files (same
  *                                -- format; v1 carries `# fork=`)
  *     data/<commit-uuid>/part-*.parquet
  * }}}
  *
  * The protocol (the same core idea as the log-structured lakehouse
  * formats, reduced to its load-bearing minimum):
  *
  *   1. A commit first writes its data files under a fresh unique
  *      directory — INVISIBLE to every reader, because readers resolve
  *      files through manifests only, never by listing `data/`.
  *   2. It then writes its file list as an immutable SEGMENT under a
  *      unique name, and publishes version file v(N+1) — the head's
  *      segment references plus one new one — with create-if-absent
  *      semantics. Readers see v(N) or v(N+1), never anything between;
  *      a crash before publish leaves only an orphan data directory and
  *      segment (reclaimed by [[vacuum]]), never a torn table.
  *   3. Concurrent committers race on the SAME version-file name; exactly
  *      one create succeeds, the loser re-reads the new head and
  *      retries — an append therefore serializes against every other
  *      commit (its base segment list is re-resolved each attempt). The
  *      create-if-absent slot: `link(2)` on local filesystems, full
  *      tmp-write + atomic `rename` on HDFS-like stores, a conditional
  *      put on object stores (see [[createExclusive]]).
  *
  * Every version file of every chain — main, branch or clone — is
  * written by ONE commit path, [[commit]]: it stamps the headers in
  * their fixed order (`# ts=`, `# fork=`, `# token=`,
  * `# dataChange=false`, `# schema=`) and owns the slot and its retry
  * loop. A commit that copies or rewrites the head it planned against
  * (compaction, metadata fold, partial rewrite, merge, first version,
  * clone, branch create, fast-forward) goes through [[commitOnHead]],
  * which refuses any other head with a [[ConcurrentCommitException]];
  * the rewrites share one body shape, [[rewriteCommit]]: a carry
  * segment of entries kept by reference plus one staged segment.
  *
  * Commit METADATA cost is O(delta): an append writes ONE segment (its
  * own staged lines) and ONE version file listing segment names — it
  * never rewrites the table's file list. A version file holds one ~50 B
  * reference per commit since the last overwrite/compaction, so at 10⁶
  * files across 10³ commits the per-commit metadata write is a few KB,
  * not the tens of MB a full file-list copy would be; [[compactCommit]] /
  * [[compactCommitOrdered]] fold the chain back to one segment.
  * [[readChangesBetween]] diffs SEGMENT LISTS, so an incremental
  * consumer's planning cost is O(delta + commits), not O(files²).
  *
  * Why a manifest instead of directory listing, at 100 TB: a million-file
  * table costs a million-object LIST per query planning pass on an object
  * store (rate-limited, eventually consistent on some), while the
  * manifest is a handful of driver-side reads of a few MB handed straight
  * to the parquet scan as an explicit file list; `mergeSchema`-style
  * drift, half-written files, and the compact/rename races all disappear
  * because the file set is closed at commit time. Overwrites never
  * delete data — old versions stay readable (time travel, audit,
  * reproducible training runs pin a version) until [[vacuum]] reclaims
  * them explicitly.
  *
  * Schema: every commit records the snapshot's schema in the version file
  * (`# schema=` header, Spark DataType JSON). Reads plan against the
  * COMMITTED schema — no footer reads at planning time, and a file that
  * predates a column null-fills it at scan time, which is what makes
  * ADDITIVE SCHEMA EVOLUTION safe: [[commitAppend]] with
  * `evolve = true` accepts an append that adds new (nullable) trailing
  * columns — old files stay untouched and read back with NULLs in the
  * new columns — or one that omits previously-added trailing columns
  * (its rows null-fill). Type changes, renames, reorders and dropped
  * base columns are always rejected: those rewrite history, which is
  * [[commitOverwrite]]'s job. Time travel across an evolution boundary
  * reads each version under ITS OWN committed schema.
  *
  * Data skipping: a commit made with `statsCols` records per-file
  * (min, max) of each listed column — integral (`long`), `string`
  * (binary/UTF-8 order, matching Spark and DuckDB comparison), or
  * `date` (epoch day) — and [[readPrunedWhere]] plans only the files
  * whose stats can overlap a CONJUNCTION of ranges; skipped files cost
  * no footer open, no GET. Compose with a range-clustered or
  * Hilbert/Z-ordered staging for disjoint per-file ranges. Correctness
  * never rests on the stats (stats-less files always read, predicates
  * re-applied per row). The same stats drive PARTIAL REWRITES:
  * [[erasePurgeCommit]] and [[deleteWhereCommit]] rewrite only the
  * files whose stats can contain a doomed row and carry every other
  * file into the new version BY REFERENCE, original stats intact.
  *
  * Row-level erasure (GDPR): [[erasePurgeCommit]] rewrites the head
  * snapshot with every row of the requested keys physically dropped —
  * the compaction half of a delete; pair it with a tombstone append
  * through the merge-on-read lane for immediate logical disappearance,
  * then [[vacuum]] past the purge version to make the BYTES leave the
  * table (no remaining data file contains the erased keys —
  * spec-verified by scanning every surviving file).
  *
  * Branches: [[createBranch]] forks a WRITEABLE ref off a committed
  * version — the experimentation contract a curation team runs: try a
  * filter or a new cleaning rule on a branch ([[commitAppendToBranch]] /
  * [[commitOverwriteToBranch]]), diff it against main ([[diff]]), and
  * [[fastForwardMerge]] it back if main has not moved since the fork.
  * A branch is its own version-file chain under `_branches/<name>/`
  * sharing the table's data files and segments (the fork copies segment
  * REFERENCES, never data); [[vacuum]] treats every branch version as
  * live, so branch snapshots pin their files like tags do.
  * [[auditedAppendCommit]] composes branches into write-audit-publish:
  * a batch is gated against its COMMITTED bytes on a throwaway branch
  * and either merges atomically or never touches main.
  *
  * DML: [[mergeIntoCommit]] (keyed upsert+delete, two-pass touch
  * planning — no source key reaches the driver), [[updateWhereCommit]]
  * and [[deleteWhereCommit]] (conjunction-matched rows, simultaneous
  * SET assignment / SQL NULL semantics), all as stats-pruned PARTIAL
  * rewrites: only files whose committed stats can hold a matched row
  * rewrite, the rest carry by reference. [[eraseMoRCommit]] is the
  * O(keys) merge-on-read logical delete (readers anti-join in commit
  * order; [[compactCommit]] folds). Equality pruning on UNCLUSTERED
  * keys comes from per-file bucket-occupancy cells
  * (`bucketCols`, [[readPrunedByKey]]); per-file row counts give
  * [[rowCount]] metadata-only `count(*)`.
  *
  * Change consumption: [[readChangesBetween]] (append ranges,
  * O(delta)), [[changeFeed]] (ordered row-level changes ACROSS
  * merge-on-read deletes, applied downstream by `Merge.applyChanges`),
  * and the exactly-once consumer groups [[consumeChanges]] /
  * [[consumeFeed]]. Operations: [[readAsOf]] / [[commitTimes]] /
  * [[historyDf]] / [[filesDf]] / [[vacuumPlan]] / [[fsck]] /
  * [[rollbackCommit]] / [[compactSmallFilesCommit]].
  *
  * Kept deliberately out: multi-table transactions, three-way merges
  * (a non-fast-forward merge is a data decision, not a format one).
  */
object Snapshots {

  private val ManifestDir = "_manifests"
  private val SegmentsDir = "_segments"
  private val BranchesDir = "_branches"
  private val RefsDir = "_refs"
  private val DataDir = "data"

  private val TokenHeader = "# token="
  private val SchemaHeader = "# schema="
  private val ForkHeader = "# fork="
  // wall-clock commit time, stamped by commit() on every version file:
  // drives AS-OF timestamp resolution and the history metadata table.
  // Advisory like any wall clock (not the serialization order source —
  // version numbers are), but monotone in practice since commits
  // serialize through the slot.
  private val TimeHeader = "# ts="
  // stamped by MAINTENANCE commits (compaction / small-file packing /
  // re-clustering / metadata folds): the version rewrote segment
  // REFERENCES only — its logical row set equals its predecessor's.
  // The Delta/Iceberg dataChange=false convention: incremental readers
  // (readChangesBetween / changeFeed / consumeChanges / consumeFeed /
  // the streaming source) SKIP such versions instead of failing, so
  // routine small-file maintenance on a streamed table no longer forces
  // a full re-load of every downstream consumer. A version WITHOUT this
  // header that breaks the append-range prefix still fails loudly — the
  // header is the maintenance commit's explicit no-rows-changed claim,
  // never inferred.
  private val DataChangeFalseHeader = "# dataChange=false"
  private val SegRef = "@"
  // a merge-on-read EQUALITY-DELETE segment reference:
  // `@-<urlenc keyCol>:<segment>` — the segment's entries are parquet
  // files holding the deleted keys (one column, the key's type), staged
  // under data/ like any commit's files. Checked BEFORE SegRef wherever
  // body lines are interpreted (it shares the `@` prefix).
  private val DelRef = "@-"
  private val DelKeyCol = "__graft_del_key"

  private def fs(spark: SparkSession, table: String): FileSystem =
    new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** One versioned chain of manifest (version) files — the main table
    * history or one branch. All data files and segments are shared
    * table-wide; only the version files are chain-scoped.
    */
  private final case class Chain(table: String, dir: String, label: String) {
    def manifestPath(v: Int): Path = new Path(table, f"$dir/v$v%08d.txt")
  }
  private def mainChain(table: String): Chain =
    Chain(table, ManifestDir, table)
  private def branchChain(table: String, name: String): Chain =
    Chain(table, s"$BranchesDir/$name", s"$table branch '$name'")

  /** Committed versions, ascending (empty for a chain with no commits). */
  private def chainVersions(spark: SparkSession, c: Chain): Seq[Int] = {
    val dir = new Path(c.table, c.dir)
    val f = fs(spark, c.table)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).map(_.getPath.getName)
      .collect { case n if n.matches("v\\d{8}\\.txt") =>
        n.substring(1, 9).toInt }
      .sorted.toSeq
  }

  // best-effort HEAD HINT (the Delta `_last_checkpoint` pattern): one
  // tiny file per chain naming a recently committed version, refreshed
  // after every publish. Purely advisory — correctness never depends on
  // it (the create-exclusive slot still serializes commits, and a stale
  // hint only costs extra existence probes), but it turns head
  // resolution from an O(live versions) directory LIST per commit/read
  // into O(1) filesystem calls: ONE hint read + ONE existence probe on
  // the hot path. On object stores LIST is the expensive, rate-limited
  // call — this was the last super-linear metadata cost on the
  // commit/read path (a 10^4-commit probe measured the append wall
  // growing 130 -> 522 ms across 10^2 -> 10^4 commits from the LIST
  // alone; ledger in SURVEY.md, Appendix A r17/r18). The name cannot collide with version files (v\d{8}\.txt)
  // so every existing LIST-based reader skips it.
  private val HeadHintFile = "_head.hint"
  // the VACUUM FLOOR: the monotone max of every vacuum's keepFrom,
  // raised (tmp+rename) BEFORE any manifest is deleted. Soundness
  // anchor for the hint's forward-probe: vacuum never deletes a
  // version >= keepFrom, so [floor, head] is CONTIGUOUS — a probe walk
  // starting at floor or above cannot stop early at a vacuum gap.
  // Below the floor live only tag/branch/consumer-pinned islands, so a
  // hint pointing there (a committer stalled across a vacuum regressed
  // it) is REJECTED and the reader LISTs. Without this, a regressed
  // hint at a pinned island would probe exists(island+1)=false and
  // return a WRONG head — and commit() would then fork history into
  // the freed slot above it.
  private val VacuumFloorFile = "_vacuum.floor"

  private def headHintPath(c: Chain): Path =
    new Path(c.table, s"${c.dir}/$HeadHintFile")

  /** Write a small advisory value file via tmp + rename (atomic where
    * the store provides rename-overwrite — POSIX/local always; stores
    * without it should map this to their atomic put, and the brief
    * delete+rename fallback window degrades to the reader's
    * conservative path). Best-effort: ANY failure — including a
    * read-only caller — degrades to re-listing, never to a wrong
    * answer.
    */
  private def writeAdvisory(f: FileSystem, table: String, dir: String,
                            name: String, v: Int): Unit =
    try {
      val tgt = new Path(table, s"$dir/$name")
      val tmp = new Path(table,
        s"$dir/.$name.${java.util.UUID.randomUUID()}.tmp")
      val out = f.create(tmp, true)
      try out.write((v.toString + "\n").getBytes("UTF-8"))
      finally out.close()
      if (!f.rename(tmp, tgt)) { // HDFS-style no-overwrite rename
        f.delete(tgt, false)
        if (!f.rename(tmp, tgt)) f.delete(tmp, false)
      }
    } catch { case _: java.io.IOException => () }

  private def readAdvisory(f: FileSystem, table: String, dir: String,
                           name: String): Option[Int] =
    try readSmallFile(f, new Path(table, s"$dir/$name")).headOption
      .map(_.trim)
      .filter(s => s.nonEmpty && s.length <= 9 && s.forall(_.isDigit))
      .map(_.toInt)
    catch { case _: java.io.IOException => None } // missing/unreadable

  /** MONOTONE hint refresh: skip when the current hint is already at or
    * above `v` (a racing committer published further) — the
    * read-then-rename window in which a stale value can still land is
    * microseconds, and [[chainHead]]'s floor check makes even that
    * landing harmless.
    */
  private def writeHeadHint(f: FileSystem, c: Chain, v: Int): Unit =
    if (!readAdvisory(f, c.table, c.dir, HeadHintFile).exists(_ >= v))
      writeAdvisory(f, c.table, c.dir, HeadHintFile, v)

  /** Raise the chain's vacuum floor to `keepFrom` (monotone; called by
    * [[vacuum]] BEFORE it deletes any manifest).
    */
  private def raiseVacuumFloor(spark: SparkSession, c: Chain,
                               keepFrom: Int): Unit = {
    val f = fs(spark, c.table)
    val cur = readAdvisory(f, c.table, c.dir, VacuumFloorFile).getOrElse(1)
    if (keepFrom > cur)
      writeAdvisory(f, c.table, c.dir, VacuumFloorFile, keepFrom)
  }

  /** The chain's head version in O(1) filesystem calls: read the hint,
    * reject it unless it is at or above the chain's vacuum floor (below
    * the floor sit only pinned islands — a probe walk from one would
    * stop at the vacuum gap and answer WRONG; [floor, head] is
    * contiguous by vacuum's keepFrom contract, so a walk from a valid
    * hint cannot), verify its version file exists, then probe forward
    * past any commits the hint missed (racing committers can regress
    * the hint — the monotone write guard makes that rare, the floor
    * check makes it harmless, and the walk re-converges and refreshes).
    * A missing, unreadable, torn, dangling or sub-floor hint falls back
    * to the full directory LIST and re-seeds. Every answer is an
    * actually committed version — the hint is never trusted without its
    * manifest existing.
    */
  private def chainHead(spark: SparkSession, c: Chain): Option[Int] = {
    val f = fs(spark, c.table)
    val floor = readAdvisory(f, c.table, c.dir, VacuumFloorFile).getOrElse(1)
    val hinted: Option[Int] =
      readAdvisory(f, c.table, c.dir, HeadHintFile)
        .filter(h => h >= 1 && h >= floor && f.exists(c.manifestPath(h)))
    hinted match {
      case Some(h0) =>
        var h = h0
        while (f.exists(c.manifestPath(h + 1))) h += 1
        if (h != h0) writeHeadHint(f, c, h) // refresh a stale hint
        Some(h)
      case None =>
        val head = chainVersions(spark, c).lastOption
        head.foreach(writeHeadHint(f, c, _)) // seed for the next caller
        head
    }
  }

  /** One existence probe — the O(1) committed-version check the
    * validation paths use instead of LIST + contains (the error paths
    * still LIST, for the message).
    */
  private def isCommitted(spark: SparkSession, c: Chain, v: Int): Boolean =
    v >= 1 && fs(spark, c.table).exists(c.manifestPath(v))

  /** Committed versions of the MAIN chain, ascending. */
  def versions(spark: SparkSession, table: String): Seq[Int] =
    chainVersions(spark, mainChain(table))

  /** The main chain's head version in O(1) filesystem calls (hint +
    * existence probes; see [[chainHead]]) — what the streaming source's
    * per-trigger head discovery reads so a caught-up stream's tick
    * never LISTs `_manifests`.
    */
  private[sources] def headVersion(spark: SparkSession, table: String): Option[Int] =
    chainHead(spark, mainChain(table))

  private def readSmallFile(f: FileSystem, p: Path): Seq[String] = {
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).toList
    finally in.close()
  }

  private def manifestLines(spark: SparkSession, c: Chain, v: Int): Seq[String] =
    readSmallFile(fs(spark, c.table), c.manifestPath(v))

  /** Per-file committed (min, max) of one stats column, as the manifest
    * stores it: `kind` is `long` (all integral types), `string`, or
    * `date` (values rendered as epoch days); `lo`/`hi` are the
    * URL-encoded rendered bounds.
    */
  final case class ColStat(kind: String, lo: String, hi: String)

  /** Per-file committed bucket occupancy of one column: `mod` is the
    * bucket count, `ids` the DISTINCT `pmod(xxhash64(col), mod)` values
    * present in the file. The equality complement of (min, max) stats:
    * on a hash-distributed (unclustered) key, min/max spans the whole
    * domain in every file and prunes nothing, while a bucket-clustered
    * layout gives each file one or two bucket ids — an equality key
    * hashes to ONE bucket, so a point lookup, erase plan or merge plan
    * touches only the files listing it. The Iceberg bucket-transform
    * idea carried as a per-file cell.
    */
  final case class BucketStat(mod: Int, ids: Seq[Int])

  /** One manifest data entry: a relative file path, its byte length
    * (recorded at commit time from the staging listing — files are
    * immutable once committed, so the length never goes stale; None
    * only for pre-r15 lines), its committed per-column (min, max) stats
    * and its committed per-column bucket occupancy (each empty when the
    * commit didn't request them).
    */
  final case class Entry(path: String, size: Option[Long],
                         stats: Map[String, ColStat],
                         buckets: Map[String, BucketStat] = Map.empty,
                         rows: Option[Long] = None,
                         nulls: Map[String, Long] = Map.empty)

  /** A Column reference by RAW top-level name: `functions.col` parses
    * dots as nested-field access, so every internal reference built
    * from a user-supplied or schema-derived column name must quote
    * (backticks doubled) — a table with a column literally named
    * "user.id" is legal and must survive the MoR anti-join, the change
    * feed, the DML key paths and the stats machinery.
    */
  private def qcol(name: String): Column =
    org.apache.spark.sql.functions.col("`" + name.replace("`", "``") + "`")

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  private val SizeCell = "sz="
  // bucket-occupancy cell: `~<urlenc col>=<mod>:<id,id,...>` — the `~`
  // prefix cannot collide with a stats cell (URLEncoder escapes '~' to
  // %7E, so an encoded column name never starts with a literal '~')
  private val BucketCellPrefix = "~"
  // per-file row count, recorded whenever a commit's stats pass runs
  // (same reserved-prefix discipline as `sz=`)
  private val RowsCell = "rc="
  // per-file per-column NULL count: `!<urlenc col>=<n>` — the `!` prefix
  // cannot collide with a stats cell (URLEncoder escapes '!' to %21).
  // Recorded for every stats column, INCLUDING n = 0: zero nulls is the
  // side that prunes IS NULL, and nulls = rows prunes IS NOT NULL — the
  // one case min/max can never answer (an all-NULL column has no
  // min/max cell at all)
  private val NullsCellPrefix = "!"

  private def parseEntry(line: String): Entry = {
    val cells = line.split('\t')
    // `sz=<bytes>` is reserved (a stats column literally named "sz"
    // renders as `sz=kind:lo:hi`, which this prefix+digits match skips)
    val size = cells.drop(1).collectFirst {
      case c if c.startsWith(SizeCell) && c.drop(SizeCell.length).forall(_.isDigit)
        && c.length > SizeCell.length => c.drop(SizeCell.length).toLong
    }
    val rows = cells.drop(1).collectFirst {
      case c if c.startsWith(RowsCell) && c.drop(RowsCell.length).forall(_.isDigit)
        && c.length > RowsCell.length => c.drop(RowsCell.length).toLong
    }
    // same degradation contract as the stats parser below: anything
    // malformed (bitrot, hand edits, an out-of-Int-range mod) parses as
    // no-cell — conservatively read, never wrong, only slower
    def smallInt(s: String): Boolean =
      s.nonEmpty && s.length <= 9 && s.forall(_.isDigit)
    val buckets = cells.drop(1).flatMap { cell =>
      if (!cell.startsWith(BucketCellPrefix)) None
      else cell.substring(BucketCellPrefix.length).split('=') match {
        case Array(n, v) => v.split(':') match {
          case Array(mod, ids) if smallInt(mod) &&
            ids.split(',').forall(smallInt) =>
            Some(dec(n) -> BucketStat(mod.toInt,
              ids.split(',').map(_.toInt).toSeq))
          case _ => None
        }
        case _ => None
      }
    }.toMap
    val nulls = cells.drop(1).flatMap { cell =>
      if (!cell.startsWith(NullsCellPrefix)) None
      else cell.substring(NullsCellPrefix.length).split('=') match {
        case Array(n, v) if v.nonEmpty && v.length <= 18 && v.forall(_.isDigit) =>
          Some(dec(n) -> v.toLong)
        case _ => None // malformed: no-cell, conservatively read
      }
    }.toMap
    val stats = cells.drop(1).flatMap { cell =>
      // named multi-column cell: name=kind:lo:hi (all URL-encoded).
      // Anything else (incl. the pre-r14 anonymous `lo\thi` pair) parses
      // as no-stats — conservatively read, never wrong, only slower.
      if (cell.startsWith(BucketCellPrefix) ||
        cell.startsWith(NullsCellPrefix)) None
      else cell.split('=') match {
        case Array(n, v) => v.split(':') match {
          case Array(k, lo, hi) if Set("long", "string", "date")(k) =>
            Some(dec(n) -> ColStat(k, dec(lo), dec(hi)))
          case _ => None
        }
        case _ => None
      }
    }.toMap
    Entry(cells.head, size, stats, buckets, rows, nulls)
  }

  // ----------------------------------------------------------- segments

  /** Write `lines` as an immutable segment; returns its `@name` body
    * line. The name is a fresh UUID, so no create race exists; a crash
    * before the referencing version file publishes leaves an orphan
    * segment for [[vacuum]].
    */
  private def writeSegment(spark: SparkSession, table: String,
                           lines: Seq[String]): String = {
    val name = s"s-${java.util.UUID.randomUUID()}.txt"
    val f = fs(spark, table)
    val p = new Path(table, s"$SegmentsDir/$name")
    f.mkdirs(p.getParent)
    val out = f.create(p, false)
    try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    SegRef + name
  }

  private def segmentLines(spark: SparkSession, table: String,
                           name: String): Seq[String] =
    readSmallFile(fs(spark, table), new Path(table, s"$SegmentsDir/$name"))

  /** The version file's body: `@segment` references (and, for tables
    * written before the segment format, inline data lines) — the unit an
    * append copies forward, O(commits since last overwrite), never
    * O(files).
    */
  private def bodyLines(spark: SparkSession, c: Chain, v: Int): Seq[String] =
    manifestLines(spark, c, v).filterNot(_.startsWith("#"))

  /** Expand body lines to raw DATA lines, reading each referenced
    * segment once; inline (pre-segment) data lines pass through.
    * Merge-on-read delete references are SKIPPED — their key files are
    * not data (readers apply them as anti-joins; [[vacuum]] tracks their
    * liveness separately).
    */
  private def expand(spark: SparkSession, table: String,
                     body: Seq[String]): Seq[String] =
    body.flatMap { l =>
      if (l.startsWith(DelRef)) Seq.empty
      else if (l.startsWith(SegRef)) segmentLines(spark, table, l.substring(SegRef.length))
      else Seq(l)
    }

  /** Partition a version body into merge-on-read structure: data-line
    * groups interleaved with equality-delete sets, in commit order.
    * `groups(i)` holds the raw data lines committed BEFORE delete `i`
    * (so deletes `i..` apply to them); `groups(deletes.size)` is the
    * tail committed after the last delete (nothing applies). Delete
    * tuples are (keyCol, segmentName).
    */
  private def morPartition(body: Seq[String]): (Seq[Seq[String]], Seq[(String, String)]) = {
    val groups = Seq.newBuilder[Seq[String]]
    val deletes = Seq.newBuilder[(String, String)]
    var cur = Seq.newBuilder[String]
    body.foreach { l =>
      if (l.startsWith(DelRef)) {
        val rest = l.substring(DelRef.length)
        val i = rest.indexOf(':')
        require(i > 0, s"malformed delete reference '$l'")
        groups += cur.result(); cur = Seq.newBuilder[String]
        deletes += ((dec(rest.substring(0, i)), rest.substring(i + 1)))
      } else cur += l
    }
    groups += cur.result()
    (groups.result(), deletes.result())
  }

  private def hasMorDeletes(body: Seq[String]): Boolean =
    body.exists(_.startsWith(DelRef))

  /** Raw data lines of version `v` (headers skipped, segments expanded;
    * stats preserved verbatim).
    */
  private def manifestDataLines(spark: SparkSession, c: Chain, v: Int): Seq[String] =
    expand(spark, c.table, bodyLines(spark, c, v))

  /** Parsed data entries of version `v`. */
  private def manifestEntries(spark: SparkSession, c: Chain, v: Int): Seq[Entry] =
    manifestDataLines(spark, c, v).map(parseEntry)

  /** Relative data-file paths of version `v` (stats dropped). */
  private def manifestFiles(spark: SparkSession, c: Chain, v: Int): Seq[String] =
    manifestEntries(spark, c, v).map(_.path)

  /** The manifest entries of a committed version — path + per-column
    * stats per data file, segments expanded. Public so probes and
    * tooling can measure the METADATA path (version read + segment
    * expand + parse) apart from Spark scan construction, and so
    * external schedulers can plan against the closed file list.
    */
  def entries(spark: SparkSession, table: String,
              version: Option[Int] = None): Seq[Entry] = {
    val c = mainChain(table)
    manifestEntries(spark, c, resolveChainVersion(spark, c, version))
  }

  /** The commit tokens recorded by [[commitAppendOnce]] across live
    * (non-vacuumed) versions — bounded to the most recent `lastK`
    * manifests when given. Without the bound a long-running streaming
    * sink would pay O(versions) manifest reads PER COMMIT (quadratic
    * over the stream's life); with it, token dedup costs O(horizon),
    * which matches the replay reality — a retried micro-batch is always
    * within the source's checkpoint horizon of the head, never 10⁵
    * commits back. Version files are header lines + segment references
    * only, so each read is a few KB regardless of table size.
    */
  def committedTokens(spark: SparkSession, table: String,
                      lastK: Option[Int] = None): Set[String] = {
    val c = mainChain(table)
    def tokensOf(v: Int): Seq[String] =
      manifestLines(spark, c, v).collect {
        case l if l.startsWith(TokenHeader) => l.substring(TokenHeader.length)
      }
    lastK match {
      case None => // full-history audit: the LIST is the point
        chainVersions(spark, c).flatMap(tokensOf).toSet
      case Some(k) => // hot path (every tokened commit): zero LIST in
        // steady state — head via the hint, then the horizon's version
        // files by NUMBER, sound because [floor, head] is contiguous.
        // When the numeric window reaches below the vacuum floor, fall
        // back to the COMMITTED-version window (the pre-hint contract:
        // the last k manifests that EXIST, so a live tag-pinned old
        // version's token still dedups its replay) — that LIST is
        // bounded small by construction: floor > head-k means fewer
        // than k live versions above the floor, plus pinned islands.
        chainHead(spark, c).fold(Set.empty[String]) { h =>
          val start = math.max(1, h - k + 1)
          val f = fs(spark, table)
          val floor = readAdvisory(f, table, c.dir, VacuumFloorFile).getOrElse(1)
          val scan =
            if (start >= floor) (start to h).toSeq
            else chainVersions(spark, c).takeRight(k)
          scan.flatMap { v =>
            try tokensOf(v)
            catch { case _: java.io.FileNotFoundException => Seq.empty }
          }.toSet
        }
    }
  }

  private def chainSchema(spark: SparkSession, c: Chain, v: Int): Option[StructType] =
    manifestLines(spark, c, v).collectFirst {
      case l if l.startsWith(SchemaHeader) =>
        DataType.fromJson(l.substring(SchemaHeader.length)).asInstanceOf[StructType]
    }

  /** The committed schema of version `v` — present on every commit made
    * by this code (tables written before the schema header read back
    * with None and fall back to footer-derived schemas).
    */
  def committedSchema(spark: SparkSession, table: String, v: Int): Option[StructType] =
    chainSchema(spark, mainChain(table), v)

  private def isDataChangeFalse(spark: SparkSession, c: Chain, v: Int): Boolean =
    manifestLines(spark, c, v).contains(DataChangeFalseHeader)

  /** True when version `v` is a MAINTENANCE commit (compaction /
    * small-file packing / re-clustering / metadata fold): it rewrote
    * segment references only, its logical rows equal its predecessor's,
    * and every incremental reader skips it. Public so operators and
    * monitoring can tell maintenance history from data history.
    */
  def isMaintenanceVersion(spark: SparkSession, table: String, v: Int): Boolean =
    isDataChangeFalse(spark, mainChain(table), v)

  /** Version `v`'s schema: the committed header, else ONE file footer. */
  private def versionSchema(spark: SparkSession, c: Chain, v: Int): Option[StructType] =
    chainSchema(spark, c, v).orElse(
      manifestFiles(spark, c, v).headOption
        .map(rel => spark.read.parquet(new Path(c.table, rel).toString).schema))

  /** Nullability relaxed RECURSIVELY: the stored snapshot schema must
    * admit null-fill for files that predate a column, must stay valid
    * when a later evolved append writes NULLs into a column an earlier
    * commit declared required, and two appends whose NESTED fields
    * differ only in nullability describe the same logical shape (the
    * additive-evolution comparison runs on relaxed types).
    */
  private def relaxType(dt: DataType): DataType = dt match {
    case st: StructType => StructType(st.fields.map(f =>
      f.copy(dataType = relaxType(f.dataType), nullable = true)))
    case at: ArrayType => ArrayType(relaxType(at.elementType), containsNull = true)
    case mt: MapType =>
      MapType(relaxType(mt.keyType), relaxType(mt.valueType), valueContainsNull = true)
    case other => other
  }

  private def relaxed(st: StructType): StructType =
    relaxType(st).asInstanceOf[StructType]

  private def emptyOf(spark: SparkSession, st: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), st)

  /** The last two path components (commit-uuid dir + part file) —
    * unique per data file by construction, and scheme/qualification-
    * proof where comparing full URIs is not.
    */
  private def pathTail2(p: String): String =
    p.split('/').takeRight(2).mkString("/")

  /** Per-file admit for Spark's PUSHED data filters — what makes a
    * plain `Snapshots.read(t).filter(col("id") === 5)` skip files at
    * PLANNING time with zero extra API: Spark hands the scan's
    * FileIndex its pushed predicate conjunction, and this function
    * answers each file from the manifest's committed (min, max) stats
    * and bucket-occupancy cells — the explicit [[readPrunedWhere]] /
    * [[readPrunedByKey]] surfaces stay for callers that want the
    * planned file list pinned, but the pruning itself now rides every
    * filtered read automatically, like partition pruning does.
    * Conservative everywhere: unknown filter shapes, missing stats,
    * kind/type mismatches all admit; string bounds honor truncation
    * (lo is a prefix ≤ the true min, hi a strict upper bound).
    */
  private def filterAdmit(st: StructType, entries: Seq[Entry])
      : (String, Seq[org.apache.spark.sql.sources.Filter]) => Boolean = {
    import org.apache.spark.sql.sources._
    val byTail = entries.map(e => pathTail2(e.path) -> e).toMap
    def dt(c: String) = st.fields.find(_.name == c).map(_.dataType)
    // Some(cmp) of a committed bound against a filter value, None on
    // any kind/type mismatch (callers treat None as admit)
    def cmpBound(kind: String, bound: String, v: Any): Option[Int] = (kind, v) match {
      case ("long", n: java.lang.Number) =>
        Some(java.lang.Long.compare(bound.toLong, n.longValue))
      case ("string", s: String) => Some(utf8Cmp(bound, s))
      case ("date", d: java.sql.Date) =>
        Some(java.lang.Long.compare(bound.toLong, d.toLocalDate.toEpochDay))
      case ("date", d: java.time.LocalDate) =>
        Some(java.lang.Long.compare(bound.toLong, d.toEpochDay))
      case _ => None
    }
    def admits(e: Entry, f: Filter): Boolean = f match {
      case EqualTo(c, v) if v != null => keyTouches(e, c, Seq(v), dt(c))
      case EqualNullSafe(c, v) if v != null => keyTouches(e, c, Seq(v), dt(c))
      case In(c, vs) =>
        val real = vs.filter(_ != null).toSeq
        real.isEmpty || keyTouches(e, c, real, dt(c))
      // a file survives `col > v` iff its max can exceed v: exact for
      // long/date bounds; string his are bumped STRICTLY ABOVE the true
      // max, so pruning on hi <= v is safe and hi > v conservatively keeps
      case GreaterThan(c, v) =>
        e.stats.get(c).forall(cs => cmpBound(cs.kind, cs.hi, v).forall(_ > 0))
      case GreaterThanOrEqual(c, v) =>
        e.stats.get(c).forall(cs => cmpBound(cs.kind, cs.hi, v).forall(_ >= 0))
      case LessThan(c, v) =>
        e.stats.get(c).forall(cs => cmpBound(cs.kind, cs.lo, v).forall(_ < 0))
      case LessThanOrEqual(c, v) =>
        e.stats.get(c).forall(cs => cmpBound(cs.kind, cs.lo, v).forall(_ <= 0))
      // the null-count cell answers what min/max never can: a file with
      // zero nulls has no IS NULL row, a file that is ALL nulls (which
      // records no min/max cell at all) has no IS NOT NULL row — the
      // latter matters because Spark pushes an implicit IsNotNull for
      // every predicated column
      case IsNull(c) => e.nulls.get(c).forall(_ > 0)
      case IsNotNull(c) =>
        !e.nulls.get(c).exists(n => e.rows.contains(n))
      // `col LIKE 'p%'`: every matching string is >= p and < bump(p)
      // (p with its last incrementable char incremented — the same
      // order argument as truncateUpper). hi < p prunes whether hi is
      // the exact max or the strictly-above truncated bound; lo is a
      // prefix <= the true min, so lo >= bump(p) proves min > all
      // matches. An un-bumpable prefix only prunes on the hi side.
      case StringStartsWith(c, p) =>
        e.stats.get(c).forall(cs => cs.kind != "string" ||
          (utf8Cmp(cs.hi, p) >= 0 &&
            bumpAbove(p).forall(u => utf8Cmp(cs.lo, u) < 0)))
      case And(a, b) => admits(e, a) && admits(e, b)
      case Or(a, b) => admits(e, a) || admits(e, b)
      case _ => true
    }
    (path, filters) => byTail.get(pathTail2(path)) match {
      case None => true
      // a committed zero-row file (rc=0 — e.g. an empty hash-partition
      // slot) can match nothing; its absence of per-column cells must
      // not readmit it conservatively
      case Some(e) if e.rows.contains(0L) => false
      case Some(e) => filters.forall(admits(e, _))
    }
  }

  /** Plan the scan of `entries`. With a committed schema AND committed
    * file lengths (every post-r15 commit), the scan plans from manifest
    * metadata ALONE through [[graftbridge.Bridge.manifestParquetScan]] —
    * zero driver-side filesystem calls: no footer reads (schema is
    * committed) and no per-path FileStatus stats (lengths are
    * committed), which `spark.read.parquet(paths*)` pays once per file
    * (~1.8 ms each — 18 s to plan a 10⁴-file snapshot, measured by the
    * r15 file-count probe before the fix; ledger in SURVEY.md). Pre-r15 lines (no length) or tables
    * without a schema header fall back to the stock reader.
    */
  private def scan(spark: SparkSession, table: String,
                   schema: Option[StructType], entries: Seq[Entry]): DataFrame = {
    val f = fs(spark, table)
    (schema, entries.forall(_.size.isDefined)) match {
      case (Some(st), true) =>
        org.apache.spark.sql.graftbridge.Bridge.manifestParquetScan(
          spark, st, f.makeQualified(new Path(table)),
          entries.map(e =>
            (f.makeQualified(new Path(table, e.path)), e.size.get)),
          admit =
            if (entries.exists(e =>
              e.stats.nonEmpty || e.buckets.nonEmpty || e.nulls.nonEmpty))
              filterAdmit(st, entries)
            else (_, _) => true)
      // explicit schema: no footer read at planning time, and files that
      // predate an evolved-in column null-fill it at scan time
      case (Some(st), false) =>
        spark.read.schema(st)
          .parquet(entries.map(e => new Path(table, e.path).toString): _*)
      case (None, _) =>
        spark.read.parquet(entries.map(e => new Path(table, e.path).toString): _*)
    }
  }

  private def resolveChainVersion(spark: SparkSession, c: Chain,
                                  version: Option[Int]): Int = version match {
    // O(1) on both faces: head via the hint, an explicit version via one
    // existence probe; only the FAILURE messages pay a LIST (to name
    // what the chain does have)
    case None =>
      chainHead(spark, c).getOrElse(
        throw new IllegalArgumentException(
          s"requirement failed: ${c.label} has no committed versions"))
    case Some(v) =>
      if (isCommitted(spark, c, v)) v
      else {
        val vs = chainVersions(spark, c)
        require(vs.nonEmpty, s"${c.label} has no committed versions")
        throw new IllegalArgumentException(s"requirement failed: " +
          s"${c.label} has no version $v (have ${vs.mkString(",")})")
      }
  }

  /** Scan version `v` under merge-on-read delete semantics: each data
    * group anti-joins every equality-delete set committed AFTER it in
    * body order (a key re-inserted after its delete survives — the
    * delete never reaches forward). Delete sets with the same key
    * column applying to the same group union into ONE anti-join
    * (anti(k1 ∪ k2) ≡ anti(k1) ∘ anti(k2)); the number of plan branches
    * is bounded by the delete-commit count since the last compaction,
    * which the maintenance contract keeps small. `keep` filters the
    * data entries of each group (manifest-level pruning composes — a
    * pruned-away file's deleted rows were never going to be read).
    */
  private def morScanChain(spark: SparkSession, c: Chain, v: Int,
                           keep: Entry => Boolean): DataFrame = {
    import org.apache.spark.sql.functions.col
    val (groupLines, deletes) = morPartition(bodyLines(spark, c, v))
    val schema = chainSchema(spark, c, v)
    val keySchema: String => StructType = kc => {
      val st = schema.orElse(versionSchema(spark, c, v)).getOrElse(
        sys.error(s"${c.label} v$v has no schema for delete key '$kc'"))
      StructType(Seq(org.apache.spark.sql.types.StructField(
        DelKeyCol, relaxType(st(kc).dataType), nullable = true)))
    }
    val parts = groupLines.zipWithIndex.flatMap { case (ls, i) =>
      val es = expand(spark, c.table, ls).map(parseEntry).filter(keep)
      if (es.isEmpty) None
      else Some(deletes.drop(i).groupBy(_._1).toSeq.sortBy(_._1)
        .foldLeft(scan(spark, c.table, schema, es)) { case (df, (kc, segs)) =>
          val kes = segs.map { case (_, seg) =>
            scan(spark, c.table, Some(keySchema(kc)),
              segmentLines(spark, c.table, seg).map(parseEntry))
          }.reduce(_ unionByName _)
          df.join(kes, qcol(kc) === col(DelKeyCol), "left_anti")
        })
    }
    if (parts.isEmpty) {
      val st = schema.getOrElse(sys.error(
        s"${c.label} v$v is an empty snapshot with no committed schema; " +
          "commit a non-empty DataFrame or read a different version"))
      emptyOf(spark, st)
    } else parts.reduce(_ unionByName _)
  }

  private def readChain(spark: SparkSession, c: Chain,
                        version: Option[Int]): DataFrame = {
    val v = resolveChainVersion(spark, c, version)
    if (hasMorDeletes(bodyLines(spark, c, v)))
      return morScanChain(spark, c, v, _ => true)
    val es = manifestEntries(spark, c, v)
    val schema = chainSchema(spark, c, v)
    if (es.isEmpty) {
      require(schema.isDefined,
        s"${c.label} v$v is an empty snapshot with no committed schema; commit " +
          "a non-empty DataFrame or read a different version")
      emptyOf(spark, schema.get)
    } else scan(spark, c.table, schema, es)
  }

  /** Read a snapshot: the given version, or the latest. The scan gets an
    * explicit closed file list — no directory listing, no risk of seeing
    * a concurrent commit's half-written files — planned under the
    * version's OWN committed schema (time travel across a schema
    * evolution boundary sees each version's shape).
    */
  def read(spark: SparkSession, table: String, version: Option[Int] = None): DataFrame =
    readChain(spark, mainChain(table), version)

  /** One snapshot as a SINGLE flat parquet scan — the shape a V1
    * `RelationProvider` can serve as a `BaseRelation` (see
    * [[SnapshotStreamSource.createRelation]]: `spark.read
    * .format("graft-snapshot")` and SQL `CREATE ... USING
    * graft-snapshot`). Identical planning to [[read]] — the committed
    * schema, the manifest-backed FileIndex, stats/bucket/null-count
    * pushdown — EXCEPT that a snapshot with PENDING merge-on-read
    * deletes fails loudly: its read is an anti-join plan, not a single
    * relation, and silently serving the un-deleted superset would be a
    * wrong answer. [[compactCommit]] folds the deletes (making the
    * table format-addressable again), and [[read]] always serves the
    * full semantics.
    */
  private[sources] def flatScan(spark: SparkSession, table: String,
                                version: Option[Int],
                                branch: Option[String]): DataFrame = {
    val c = branch.fold(mainChain(table))(branchChain(table, _))
    val v = resolveChainVersion(spark, c, version)
    require(!hasMorDeletes(bodyLines(spark, c, v)),
      s"${c.label} v$v has pending merge-on-read deletes — a single-" +
        "relation batch read cannot express the delete anti-join; " +
        "compactCommit to fold them, or read through Snapshots.read")
    val es = manifestEntries(spark, c, v)
    val schema = chainSchema(spark, c, v)
    require(es.nonEmpty || schema.isDefined,
      s"${c.label} v$v is an empty snapshot with no committed schema")
    scan(spark, c.table, schema, es)
  }

  /** Whether the snapshot has PENDING merge-on-read deletes — the shape
    * [[flatScan]] cannot serve as one relation. The format reader probes
    * this to route such snapshots through the anti-join plan
    * ([[read]]/[[readBranch]]) behind a computed relation instead.
    */
  private[sources] def hasPendingMorDeletes(spark: SparkSession, table: String,
                                            version: Option[Int],
                                            branch: Option[String]): Boolean = {
    val c = branch.fold(mainChain(table))(branchChain(table, _))
    hasMorDeletes(bodyLines(spark, c, resolveChainVersion(spark, c, version)))
  }

  /** Resolve (head or explicit) to a pinned committed version on main
    * or a branch — the format reader resolves ONCE and passes the pin
    * to both the MoR probe and the scan, so a commit racing between
    * the two cannot flip the relation's shape mid-construction.
    */
  private[sources] def resolveVersion(spark: SparkSession, table: String,
                                      version: Option[Int],
                                      branch: Option[String]): Int =
    resolveChainVersion(spark,
      branch.fold(mainChain(table))(branchChain(table, _)), version)

  /** Commit `df` as the table's FIRST version, planned on the empty
    * head: the emptiness check and the commit are one atomic step, so
    * two racing first writers cannot both land (the loser sees the
    * winner's head and throws [[ConcurrentCommitException]] — its staged
    * segment and data are vacuumable orphans). What the format writer's
    * ErrorIfExists/Ignore modes need; a check-then-act
    * `versions(...).isEmpty` outside the slot is a TOCTOU race.
    */
  private[sources] def commitFirstVersion(spark: SparkSession, table: String,
                                          df: DataFrame,
                                          statsCols: Seq[String] = Nil,
                                          bucketCols: Map[String, Int] = Map.empty): Int =
    commitOnHead(spark, mainChain(table), "first commit", None,
      Version(stageSegment(spark, table, df, statsCols, bucketCols), Some(df.schema)))

  /** The version that was the head at wall-clock `tsMillis` — the
    * resolution [[readAsOf]] reads; public for the format reader's
    * `timestampAsOf` option.
    */
  def versionAsOf(spark: SparkSession, table: String, tsMillis: Long): Int = {
    val c = mainChain(table)
    chainVersions(spark, c)
      .filter(v => chainCommitTime(spark, c, v).exists(_ <= tsMillis))
      .lastOption
      .getOrElse(sys.error(s"$table has no version committed at or before " +
        s"$tsMillis (${java.time.Instant.ofEpochMilli(tsMillis)})"))
  }

  private def chainCommitTime(spark: SparkSession, c: Chain, v: Int): Option[Long] =
    manifestLines(spark, c, v).collectFirst {
      case l if l.startsWith(TimeHeader) => l.substring(TimeHeader.length)
    }.filter(s => s.nonEmpty && s.length <= 18 && s.forall(_.isDigit))
      .map(_.toLong)
      // same degradation contract as the sz=/rc= cell parsers: a
      // bitrotted or hand-edited timestamp header parses as NO
      // timestamp (readAsOf skips the version, expireSnapshots keeps
      // it conservatively) instead of throwing NumberFormatException
      // for the whole table's history surface

  /** (version, commit wall-clock millis) per main-chain version, in
    * version order. None for versions written before commit times were
    * stamped.
    */
  def commitTimes(spark: SparkSession, table: String): Seq[(Int, Option[Long])] = {
    val c = mainChain(table)
    chainVersions(spark, c).map(v => v -> chainCommitTime(spark, c, v))
  }

  /** AS-OF read: the snapshot that was the head at wall-clock
    * `tsMillis` — the latest version whose committed timestamp is <=
    * the bound. The "read what production read at 14:30" contract;
    * version-pinned reads ([[read]] with a version, or [[tagVersion]])
    * remain the REPRODUCIBLE contract, since wall clocks are advisory.
    * Versions predating commit timestamps cannot be time-resolved and
    * are skipped with the same conservatism as any missing metadata;
    * fails loudly when no version is old enough.
    */
  def readAsOf(spark: SparkSession, table: String, tsMillis: Long): DataFrame =
    read(spark, table, Some(versionAsOf(spark, table, tsMillis)))

  /** The history metadata table: one row per main-chain version —
    * (version, committed_at, token, n_segments, maintenance). The
    * operational audit surface ("what landed when, under which
    * idempotency token, and which versions are dataChange=false
    * maintenance — compactions/folds — vs data commits"); costs one
    * small version-file read per version, never a segment expand.
    */
  def historyDf(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val c = mainChain(table)
    chainVersions(spark, c).map { v =>
      val lines = manifestLines(spark, c, v)
      (v,
        chainCommitTime(spark, c, v).map(new java.sql.Timestamp(_)).orNull,
        lines.collectFirst { case l if l.startsWith(TokenHeader) =>
          l.substring(TokenHeader.length) }.orNull,
        lines.count(!_.startsWith("#")),
        lines.contains(DataChangeFalseHeader))
    }.toDF("version", "committed_at", "token", "n_segments", "maintenance")
  }

  /** The files metadata table of one version: (path, size_bytes,
    * row_count, stats, buckets) per data file — [[entries]] as a
    * DataFrame, stats rendered `kind:lo:hi` and buckets `mod:id,id`.
    * What an external scheduler or a debugging session joins against.
    */
  def filesDf(spark: SparkSession, table: String,
              version: Option[Int] = None): DataFrame = {
    import spark.implicits._
    entries(spark, table, version).map { e =>
      (e.path, e.size, e.rows,
        e.stats.map { case (c, s) => c -> s"${s.kind}:${s.lo}:${s.hi}" },
        e.buckets.map { case (c, b) => c -> s"${b.mod}:${b.ids.mkString(",")}" })
    }.toDF("path", "size_bytes", "row_count", "stats", "buckets")
  }

  /** Manifest string stats are TRUNCATED like parquet's column-index
    * bounds — a stats column over long text would otherwise copy whole
    * documents into every manifest line (a segment must stay a
    * few-MB driver-side read at 10⁶ files). A truncated MIN is safe
    * as-is (a prefix is ≤ every string it prefixes in UTF-8 byte
    * order); a truncated MAX must be bumped STRICTLY ABOVE everything
    * it could stand for: the rightmost incrementable char of the prefix
    * is incremented and the tail dropped (code-point order = UTF-8 byte
    * order, so the bump dominates every extension of the original
    * prefix). A char is incrementable when the landing code point is a
    * real non-surrogate BMP value: anything below U+D7FF, or the private
    * -use/compat range U+E000..U+FFFD (only the surrogate block
    * U+D800..U+DFFF must never be landed on). A prefix with no
    * incrementable position yields None — the file goes stats-less for
    * that column, which pruned reads treat conservatively.
    */
  private val StatsMaxChars = 64

  private[sources] def truncateLower(s: String): String =
    if (s.length <= StatsMaxChars) s else s.substring(0, StatsMaxChars)

  /** The smallest string strictly above `s` AND every extension of `s`
    * in UTF-8 byte order: the rightmost incrementable char incremented,
    * the tail dropped. None when no position is incrementable. Shared
    * by [[truncateUpper]] (bounding a truncated max) and
    * [[filterAdmit]]'s StringStartsWith (bounding a LIKE-prefix band).
    */
  private def bumpAbove(s: String): Option[String] = {
    val p = s.toCharArray
    var i = p.length - 1
    while (i >= 0) {
      // c+1 must be a real non-surrogate code point whose UTF-8 encoding
      // compares above c's: below the surrogate block, or inside
      // E000..FFFD (landing at most U+FFFE, still single-char UTF-8)
      if (p(i) < 0xD7FF.toChar ||
        (p(i) >= 0xE000.toChar && p(i) <= 0xFFFD.toChar)) {
        p(i) = (p(i) + 1).toChar
        return Some(new String(p, 0, i + 1))
      }
      i -= 1
    }
    None
  }

  private[sources] def truncateUpper(s: String): Option[String] =
    if (s.length <= StatsMaxChars) Some(s)
    else bumpAbove(s.substring(0, StatsMaxChars))

  private def statKindOf(dt: DataType): Option[String] = dt match {
    case ByteType | ShortType | IntegerType | LongType => Some("long")
    case StringType => Some("string")
    case DateType => Some("date")
    case _ => None
  }

  private[sources] def statKind(c: String, dt: DataType): String =
    statKindOf(dt).getOrElse(throw new IllegalArgumentException(
      s"statsCols supports integral, string and date columns; $c is $dt"))

  /** A file listing more distinct buckets than this renders no bucket
    * cell (conservatively always-touched): the cell must stay a few
    * dozen bytes — a file that interleaves many buckets gains nothing
    * from the stat anyway (cluster by the bucket expression to get 1-2
    * per file).
    */
  private[sources] val BucketIdsMax = 16

  /** The bucket id of column `c` under `mod` — the expression whose
    * per-file DISTINCT values the manifest records. `xxhash64` is a
    * specified, seed-42-stable algorithm, so [[bucketOf]] can replay it
    * on the driver for planning.
    */
  private[sources] def bucketExpr(c: String, mod: Int): Column = {
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    pmod(xxhash64(qcol(c)), lit(mod.toLong))
  }

  /** Driver-side replay of [[bucketExpr]] for one literal key — the
    * SAME catalyst expression evaluated eagerly, so the two sides
    * cannot drift.
    */
  private def bucketOf(v: Any, dt: DataType, mod: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Pmod, XxHash64}
    Pmod(new XxHash64(Seq(Literal.create(v, dt))), Literal(mod.toLong))
      .eval(null).asInstanceOf[Long].toInt
  }

  /** Write `df` as parquet under the table-relative directory `rel` and
    * return the per-file stats its write tasks gathered for `statsCols`
    * and `bucketCols` ([[graftbridge.Bridge.writeParquet]]: one write
    * job, no re-read of the written files).
    */
  private def writeStaged(table: String, rel: String, df: DataFrame,
                          statsCols: Seq[String],
                          bucketCols: Seq[(String, Int)]): Seq[FileStats] =
    org.apache.spark.sql.graftbridge.Bridge.writeParquet(df,
      new Path(table, rel).toString, statsCols,
      bucketCols.map { case (c, m) => bucketExpr(c, m).cast("int") }, BucketIdsMax)

  /** Stage `df` as parquet under a fresh unique data directory and
    * return its manifest lines (paths relative to the table root). With
    * `statsCols` or `bucketCols` set, each line also carries the file's
    * row count, per stats column its (min, max) and NULL count, and per
    * bucket column its distinct bucket ids — all gathered by the write
    * tasks themselves ([[writeStaged]]) and attached to the FS listing
    * by file name. A column with no non-null values in a file stays
    * stats-less there and is conservatively kept by every pruned read; a
    * zero-row file records `rc=0` and zero NULLs. Unsupported stats
    * types and bucket mods fail before anything is written.
    */
  private[sources] def stage(spark: SparkSession, table: String, df: DataFrame,
                             statsCols: Seq[String] = Nil,
                             bucketCols: Map[String, Int] = Map.empty): Seq[String] = {
    bucketCols.foreach { case (c, m) =>
      require(m >= 2, s"bucketCols($c) needs mod >= 2, got $m") }
    val kinds = statsCols.map(c => statKind(c, df.schema(c).dataType))
    val rel = s"$DataDir/${java.util.UUID.randomUUID()}"
    val bks = bucketCols.toSeq.sortBy(_._1)
    val byName = writeStaged(table, rel, df, statsCols, bks)
      .map(s => s.file -> s).toMap
    // the staging listing is the ONE place file lengths are observed;
    // they ride in every manifest line (`sz=` cell) so reads never stat
    val listed = fs(spark, table).listStatus(new Path(table, rel))
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(s => (s.getPath.getName, s.getLen)).sortBy(_._1).toSeq
    listed.map { case (name, len) =>
      if (statsCols.isEmpty && bucketCols.isEmpty)
        renderLine(s"$rel/$name", Some(len), None, Nil, Nil, Nil)
      else {
        // a staged file no write task reported holds zero rows
        val st = byName.getOrElse(name,
          FileStats("", 0L, statsCols.map(_ => null),
            statsCols.map(_ => null), statsCols.map(_ => 0L), bks.map(_ => None)))
        val cells = statsCols.indices.flatMap { i =>
          val (lo, hi) = (st.lo(i), st.hi(i))
          if (lo == null) None
          else if (kinds(i) == "string")
            // bounded manifest cells: truncated lower prefix + bumped
            // upper bound (see truncateUpper); an un-bumpable upper
            // drops the column's stats for this file (conservative)
            truncateUpper(hi.asInstanceOf[String]).map(h =>
              statsCols(i) -> ColStat("string", truncateLower(lo.asInstanceOf[String]), h))
          else Some(statsCols(i) -> ColStat(kinds(i), lo.toString, hi.toString))
        }
        val bcells = bks.zip(st.bucketIds).flatMap { case ((c, m), ids) =>
          ids.map(c -> BucketStat(m, _)) }
        val nulls = statsCols.zip(st.nonNull).map { case (c, nn) => c -> (st.rows - nn) }
        renderLine(s"$rel/$name", Some(len), Some(st.rows), cells, bcells, nulls)
      }
    }
  }

  /** One manifest data line — the inverse of [[parseEntry]]: the path,
    * the `sz=` and `rc=` cells when known, then the stats, bucket and
    * NULL-count cells in the order given (a staged line keeps
    * `statsCols` order, a carried entry sorted order).
    */
  private[sources] def renderLine(path: String, size: Option[Long], rows: Option[Long],
                                  stats: Seq[(String, ColStat)],
                                  buckets: Seq[(String, BucketStat)],
                                  nulls: Seq[(String, Long)]): String =
    (path +: (size.map(SizeCell + _).toSeq ++ rows.map(RowsCell + _) ++
      stats.map { case (c, st) =>
        s"${enc(c)}=${st.kind}:${enc(st.lo)}:${enc(st.hi)}"
      } ++ buckets.map { case (c, b) =>
        s"$BucketCellPrefix${enc(c)}=${b.mod}:${b.ids.mkString(",")}"
      } ++ nulls.map { case (c, n) =>
        s"$NullsCellPrefix${enc(c)}=$n"
      })).mkString("\t")

  /** Stage + wrap as a segment reference: the body contribution of one
    * commit — empty when nothing was staged (token-only commits).
    */
  private def stageSegment(spark: SparkSession, table: String, df: DataFrame,
                           statsCols: Seq[String],
                           bucketCols: Map[String, Int] = Map.empty): Seq[String] = {
    val staged = stage(spark, table, df, statsCols, bucketCols)
    if (staged.isEmpty) Seq.empty
    else Seq(writeSegment(spark, table, staged))
  }

  /** The create-if-absent slot, scheme-dependent: on a LOCAL fs the
    * target is fully written to a dot-tmp sibling and published with
    * `link(2)` — POSIX's atomic fail-if-exists of a complete file
    * (Hadoop's RawLocalFileSystem `create(overwrite = false)` is
    * check-THEN-create, so two racers could both "win" and one append
    * would vanish; caught by the concurrent-committer spec under suite
    * load). On HDFS-like stores the bytes are fully written to a tmp
    * sibling and atomically `rename`d in — a crash mid-write leaves only
    * the tmp file, never a torn or empty target, and ONLY the
    * destination-exists failure maps to "lost the race" (any other
    * rename failure surfaces as an error instead of masquerading as a
    * racer). On object stores the slot maps to a conditional put.
    * Returns true iff this caller created the target.
    */
  private def createExclusive(f: FileSystem, tgt: Path, bytes: Array[Byte]): Boolean = {
    f.mkdirs(tgt.getParent)
    val scheme = tgt.toUri.getScheme
    if (scheme == null || scheme == "file") {
      val dir = java.nio.file.Paths.get(f.makeQualified(tgt).toUri.getPath).getParent
      val tmp = dir.resolve(s".${tgt.getName}.${java.util.UUID.randomUUID()}.tmp")
      java.nio.file.Files.write(tmp, bytes)
      try {
        java.nio.file.Files.createLink(dir.resolve(tgt.getName), tmp)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      } finally java.nio.file.Files.deleteIfExists(tmp)
    } else {
      val tmp = new Path(tgt.getParent,
        s".${tgt.getName}.${java.util.UUID.randomUUID()}.tmp")
      try {
        val out = f.create(tmp, false)
        try out.write(bytes) finally out.close()
        if (f.rename(tmp, tgt)) true
        else if (f.exists(tgt)) false // lost the create race
        else sys.error(s"rename $tmp -> $tgt failed without a racing winner")
      } finally f.delete(tmp, false)
    }
  }

  /** One version file's content besides its commit time: the body and
    * the headers [[commit]] writes for it. The schema is recorded
    * nullability-relaxed ([[relaxed]]), as every snapshot schema is.
    */
  private final case class Version(body: Seq[String], schema: Option[StructType],
                                   token: Option[String] = None,
                                   maintenance: Boolean = false,
                                   fork: Option[Int] = None)

  /** A commit planned against one head found another: its body copies
    * or rewrites the planned head's content, so publishing it on top of
    * a racing commit would drop that commit. Nothing was published;
    * rerunning the operation plans against the new head. An
    * `IllegalArgumentException`, like every other refused commit.
    */
  private[sources] final class ConcurrentCommitException(op: String,
                                                         planned: Option[Int],
                                                         found: Option[Int])
    extends IllegalArgumentException(s"concurrent commit during $op (head moved " +
      s"${planned.fold("none")("v" + _)} -> ${found.fold("none")("v" + _)}); rerun")

  /** THE commit path: publish the next version of chain `c` and return
    * it. Each attempt resolves the head, builds the version on top of it
    * (`next(head)` — a rebasing commit recomputes its body from whatever
    * head the winning racer left, so appends stay serializable without
    * locks), writes the headers in their fixed order (`# ts=`,
    * `# fork=`, `# token=`, `# dataChange=false`, `# schema=`) and
    * claims the slot head+1 through [[createExclusive]].
    */
  private def commit(spark: SparkSession, c: Chain)(next: Option[Int] => Version): Int = {
    val f = fs(spark, c.table)
    var attempt = 0
    while (attempt < 50) {
      // O(1) head resolution (hint + probes). A hint stale-low is safe:
      // the create-exclusive slot rejects the taken version and the next
      // iteration's probe loop walks to the real head — the slot, not
      // the hint, is what serializes commits.
      val head = chainHead(spark, c)
      val v = next(head)
      val slot = head.getOrElse(0) + 1
      val lines = Seq(TimeHeader + System.currentTimeMillis()) ++
        v.fork.map(ForkHeader + _) ++ v.token.map(TokenHeader + _) ++
        (if (v.maintenance) Seq(DataChangeFalseHeader) else Nil) ++
        v.schema.map(st => SchemaHeader + relaxed(st).json) ++ v.body
      if (createExclusive(f, c.manifestPath(slot),
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))) {
        writeHeadHint(f, c, slot) // advisory; next resolver probes forward
        return slot
      }
      attempt += 1
    }
    sys.error(s"could not commit to ${c.label} after 50 attempts")
  }

  /** [[commit]] of a version PLANNED against `head` (None: the empty
    * chain) for operation `op`: it lands on top of that head or not at
    * all ([[ConcurrentCommitException]]).
    */
  private def commitOnHead(spark: SparkSession, c: Chain, op: String,
                           head: Option[Int], v: Version): Int =
    commit(spark, c) { h =>
      if (h != head) throw new ConcurrentCommitException(op, head, h)
      v
    }

  /** Validate a commit token and its replay horizon, and say whether
    * the token already landed within the horizon — the replay lookup of
    * every tokened commit.
    */
  private def replayed(spark: SparkSession, table: String, token: String,
                       replayHorizon: Int): Boolean = {
    require(!token.contains("\n") && !token.contains("\r"),
      "token must be single-line")
    require(replayHorizon >= 1, "replayHorizon must be >= 1")
    // horizon-bounded dedup scan: O(horizon) manifest reads per commit
    // instead of O(versions) — see committedTokens. Tokens older than
    // the horizon are forgotten for dedup, which matches the source's
    // own replay bound (a streaming checkpoint never replays a batch
    // from 10⁵ commits ago).
    committedTokens(spark, table, Some(replayHorizon)).contains(token)
  }

  /** Version `v`'s schema ([[versionSchema]]), required. */
  private def schemaOf(spark: SparkSession, c: Chain, v: Int): StructType =
    versionSchema(spark, c, v).getOrElse(sys.error(s"${c.label} v$v has no schema"))

  private def commitOverwriteChain(spark: SparkSession, c: Chain, df: DataFrame,
                                   statsCols: Seq[String],
                                   bucketCols: Map[String, Int] = Map.empty,
                                   token: Option[String] = None): Int = {
    val body = stageSegment(spark, c.table, df, statsCols, bucketCols)
    commit(spark, c)(_ => Version(body, Some(df.schema), token))
  }

  /** Commit `df` as a full replacement snapshot. Old versions remain
    * readable until vacuumed. Returns the new version number. With
    * `statsCols`, the manifest carries per-file per-column (min, max)
    * for [[readPrunedWhere]]'s manifest-level file skipping; with
    * `bucketCols` (column -> bucket count) it carries per-file bucket
    * occupancy — the EQUALITY pruning stat for unclustered keys, read
    * by [[readPrunedByKey]], [[erasePlan]] and [[mergeTouchPlan]].
    * Cluster the data by [[bucketExpr]]'s value (e.g.
    * `repartition(n, pmod(xxhash64(col), lit(n)))`) for 1-2 buckets per
    * file; a file spanning more than 16 buckets records no cell.
    */
  def commitOverwrite(spark: SparkSession, table: String, df: DataFrame,
                      statsCols: Seq[String] = Nil,
                      bucketCols: Map[String, Int] = Map.empty): Int =
    commitOverwriteChain(spark, mainChain(table), df, statsCols, bucketCols)

  /** Token-idempotent OVERWRITE — [[commitAppendOnce]]'s replacement
    * twin, the primitive a COMPLETE-output-mode streaming sink needs:
    * each trigger re-emits the whole result and replaces the snapshot,
    * and a replayed trigger (same token within `replayHorizon`
    * versions) must be a version-level no-op, not a duplicate head.
    * Returns None on a replay. One writer per token stream, like
    * commitAppendOnce.
    */
  def commitOverwriteOnce(spark: SparkSession, table: String, df: DataFrame,
                          token: String, replayHorizon: Int = 128,
                          statsCols: Seq[String] = Nil): Option[Int] =
    if (replayed(spark, table, token, replayHorizon)) None
    else Some(commitOverwriteChain(spark, mainChain(table), df, statsCols,
      token = Some(token)))

  /** The snapshot schema an append of `incoming` produces on top of
    * `head` — or a rejection. Without `evolve`, names and types must
    * match exactly (nullability — top-level or nested — is not
    * compared). With `evolve`, the contract is ADDITIVE evolution on
    * (name, type) prefixes: new trailing columns append (recorded
    * nullable — old files null-fill at read), and an append may omit
    * previously-added trailing columns (its rows null-fill); type
    * changes, renames, reorders and dropped base columns are rejected
    * either way — those rewrite history, which is [[commitOverwrite]]'s
    * job.
    */
  private def evolvedSchema(head: Option[StructType], incoming: StructType,
                            evolve: Boolean, label: String): StructType = {
    val inc = relaxed(incoming)
    head.map(relaxed) match {
      case None => inc
      case Some(h) =>
        def shape(st: StructType) = st.fields.map(f => (f.name, f.dataType)).toSeq
        val hs = shape(h)
        val is = shape(inc)
        if (is == hs) h
        else if (!evolve) throw new IllegalArgumentException(
          s"append schema ${is.mkString(",")} does not match $label's head " +
            s"snapshot ${hs.mkString(",")}; pass evolve = true for additive " +
            "column adds, or commitOverwrite to start a new shape")
        else if (is.startsWith(hs))
          StructType(h.fields ++ inc.fields.drop(hs.length))
        else if (hs.startsWith(is)) h
        else throw new IllegalArgumentException(
          s"append schema ${is.mkString(",")} is not an additive evolution " +
            s"of $label's head snapshot ${hs.mkString(",")}: only ADDING " +
            "trailing nullable columns (or omitting previously-added " +
            "trailing columns) is allowed; type changes, renames and " +
            "reorders need commitOverwrite")
    }
  }

  /** Auto-fold threshold: once a head version's body carries this many
    * FOLDABLE reference lines (one per commit since the last
    * fold/overwrite), the next append first publishes a
    * [[checkpointMetadataCommit]]. Keeps the O(commits) body copy every
    * append pays BOUNDED — at 10⁴ tiny commits the un-folded body is
    * ~440 KB re-written per commit (SURVEY.md, Appendix A r16) — without
    * ever rewriting data. 256 references ≈ 11 KB body; the fold itself
    * costs one read of every live segment (O(files) driver-side lines),
    * amortized to O(files/256) per append.
    */
  private val FoldThreshold = 256

  /** METADATA CHECKPOINT: fold the head's segment-reference chain into
    * ONE fresh segment per merge-on-read group — zero data movement
    * (the new segment lists the same data lines verbatim: paths, sizes,
    * stats, bucket and null cells all carried), delete references keep
    * their body positions so MoR scoping is unchanged, and the commit
    * is stamped dataChange=false so every incremental consumer skips
    * it. This is what keeps append cost and consumer planning FLAT on
    * a high-frequency streamed table WITHOUT paying [[compactCommit]]'s
    * O(table) data rewrite (9.8 s vs zero data bytes at the probe's
    * 10⁴-commit shape): the Delta checkpoint idea expressed in this
    * format's segment terms. Runs automatically from the append path
    * past [[FoldThreshold]] (256) foldable references; callable
    * directly for scheduled maintenance. No-ops (returns the head) when
    * every group already holds at most one reference.
    */
  def checkpointMetadataCommit(spark: SparkSession, table: String): Int = {
    val head = resolveChainVersion(spark, mainChain(table), None)
    foldCommit(spark, table, head, 1).getOrElse(head)
  }

  /** Publish the metadata fold of main version `head`, planned on it,
    * when its body holds at least `minFoldable` FOLDABLE references —
    * the lines a fold can actually remove (group size beyond 1 each;
    * delete refs and singleton groups are irreducible). Counting raw
    * body lines would make a delete-heavy table (2·deletes+1
    * irreducible lines past the threshold) publish a useless
    * maintenance version on EVERY append forever.
    */
  private def foldCommit(spark: SparkSession, table: String, head: Int,
                         minFoldable: Int): Option[Int] = {
    val c = mainChain(table)
    val (groups, deletes) = morPartition(bodyLines(spark, c, head))
    if (groups.map(g => math.max(0, g.size - 1)).sum < minFoldable) return None
    val schema = schemaOf(spark, c, head)
    def fold(group: Seq[String]): Seq[String] =
      if (group.size <= 1) group
      else Seq(writeSegment(spark, table, expand(spark, table, group)))
    val folded = groups.map(fold)
    val newBody = folded.head ++ deletes.zipWithIndex.flatMap {
      case ((kc, seg), i) => (DelRef + enc(kc) + ":" + seg) +: folded(i + 1)
    }
    Some(commitOnHead(spark, c, "metadata checkpoint", Some(head),
      Version(newBody, Some(schema), maintenance = true)))
  }

  /** The append path's fold of main version `head` past `foldThreshold`
    * foldable references. Best-effort: the fold publishes on top of
    * `head`, and a RACING commit legitimately moves it — the user's
    * append must not die for a failed maintenance opportunity
    * ([[commit]]'s own retry loop keeps appends lock-free), so a lost
    * race skips the fold and the next append past the threshold tries
    * again.
    */
  private[sources] def autoFold(spark: SparkSession, table: String, head: Int,
                                foldThreshold: Int): Unit =
    try { foldCommit(spark, table, head, foldThreshold); () }
    catch { case _: ConcurrentCommitException => () }

  /** The shared append path: stage once, then publish headers + the
    * head's body references + one new segment reference. Metadata cost
    * is O(delta + commits since last overwrite), never O(files) — and
    * BOUNDED: past `foldThreshold` foldable references the append first
    * folds the head ([[autoFold]]: its own dataChange=false version, so
    * a fold+append never breaks the incremental readers' span diff).
    * Main chain only — branches are short-lived and their merge laws
    * compare bodies against the fork.
    */
  private def appendChain(spark: SparkSession, c: Chain, df: DataFrame,
                          statsCols: Seq[String], evolve: Boolean,
                          token: Option[String],
                          bucketCols: Map[String, Int] = Map.empty,
                          foldThreshold: Int = FoldThreshold): Int = {
    if (c.dir == ManifestDir)
      chainHead(spark, c).foreach(autoFold(spark, c.table, _, foldThreshold))
    // fail fast before paying the staging write; re-validated per retry
    // inside the commit (the head — and its schema — may move)
    chainHead(spark, c).foreach(v =>
      evolvedSchema(versionSchema(spark, c, v), df.schema, evolve, c.label))
    val segBody = stageSegment(spark, c.table, df, statsCols, bucketCols)
    commit(spark, c) { head =>
      Version(head.map(bodyLines(spark, c, _)).getOrElse(Seq.empty) ++ segBody,
        Some(evolvedSchema(head.flatMap(versionSchema(spark, c, _)), df.schema,
          evolve, c.label)), token)
    }
  }

  /** Commit `df` appended to the (retry-time) head snapshot. With
    * `evolve = true`, additive schema evolution is allowed — see
    * [[evolvedSchema]] for the exact contract.
    */
  def commitAppend(spark: SparkSession, table: String, df: DataFrame,
                   statsCols: Seq[String] = Nil,
                   evolve: Boolean = false,
                   bucketCols: Map[String, Int] = Map.empty): Int =
    appendChain(spark, mainChain(table), df, statsCols, evolve, None, bucketCols)

  /** [[commitAppend]] with the auto-fold threshold given instead of
    * [[FoldThreshold]] — how specs reach the fold at a few commits.
    */
  private[sources] def commitAppend(spark: SparkSession, table: String,
                                    df: DataFrame, foldThreshold: Int): Int =
    appendChain(spark, mainChain(table), df, Nil, evolve = false, None,
      foldThreshold = foldThreshold)

  /** A requested stats range for [[readPrunedWhere]] — one per column,
    * combined as a CONJUNCTION. Bounds are inclusive. String bounds
    * compare in binary/UTF-8 order (Spark's and DuckDB's default string
    * comparison); date bounds in epoch days.
    */
  sealed trait StatRange { def column: String }
  final case class LongRange(column: String, lo: Long, hi: Long) extends StatRange {
    require(lo <= hi, s"need lo <= hi, got $lo > $hi")
  }
  final case class StringRange(column: String, lo: String, hi: String) extends StatRange {
    require(utf8Cmp(lo, hi) <= 0, s"need lo <= hi (UTF-8 order), got '$lo' > '$hi'")
  }
  final case class DateRange(column: String, lo: java.time.LocalDate,
                             hi: java.time.LocalDate) extends StatRange {
    require(!lo.isAfter(hi), s"need lo <= hi, got $lo > $hi")
  }

  /** Unsigned UTF-8 byte-order comparison — the order Spark's
    * UTF8String and DuckDB's default collation sort strings in (Java's
    * String.compareTo is UTF-16 code-unit order, which DIVERGES on
    * supplementary characters).
    */
  private def utf8Cmp(a: String, b: String): Int = {
    val x = a.getBytes("UTF-8")
    val y = b.getBytes("UTF-8")
    var i = 0
    while (i < x.length && i < y.length) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  private def overlaps(st: Option[ColStat], r: StatRange): Boolean = st match {
    case None => true // stats-less file: conservatively read
    case Some(cs) => r match {
      case LongRange(c, lo, hi) =>
        require(cs.kind == "long", s"$c has ${cs.kind} stats, not long")
        cs.hi.toLong >= lo && cs.lo.toLong <= hi
      case StringRange(c, lo, hi) =>
        require(cs.kind == "string", s"$c has ${cs.kind} stats, not string")
        utf8Cmp(cs.hi, lo) >= 0 && utf8Cmp(cs.lo, hi) <= 0
      case DateRange(c, lo, hi) =>
        require(cs.kind == "date", s"$c has ${cs.kind} stats, not date")
        cs.hi.toLong >= lo.toEpochDay && cs.lo.toLong <= hi.toEpochDay
    }
  }

  private def rowPredicate(r: StatRange): Column = {
    import org.apache.spark.sql.functions.{col, lit}
    r match {
      case LongRange(c, lo, hi) => col(c) >= lo && col(c) <= hi
      case StringRange(c, lo, hi) => col(c) >= lit(lo) && col(c) <= lit(hi)
      case DateRange(c, lo, hi) =>
        col(c) >= lit(java.sql.Date.valueOf(lo)) &&
          col(c) <= lit(java.sql.Date.valueOf(hi))
    }
  }

  /** The relative file paths a [[readPrunedWhere]] of `ranges` would
    * plan — exposed so specs and probes can pin the files-touched count
    * without executing the scan.
    */
  private def prunedEntries(spark: SparkSession, c: Chain, v: Int,
                            ranges: Seq[StatRange]): Seq[Entry] = {
    require(ranges.nonEmpty, "at least one range required")
    require(ranges.map(_.column).distinct.size == ranges.size,
      "one range per column")
    manifestEntries(spark, c, v)
      .filter(e => ranges.forall(r => overlaps(e.stats.get(r.column), r)))
  }

  def plannedFiles(spark: SparkSession, table: String, ranges: Seq[StatRange],
                   version: Option[Int] = None): Seq[String] = {
    val c = mainChain(table)
    prunedEntries(spark, c, resolveChainVersion(spark, c, version), ranges)
      .map(_.path)
  }

  /** Range read with MANIFEST-LEVEL file skipping over a CONJUNCTION of
    * per-column ranges: plans only the files whose committed per-column
    * (min, max) stats can overlap EVERY range — a skipped file costs
    * NOTHING, not even a footer open (parquet row-group pruning still
    * needs to open every file; an object-store GET per footer is the
    * planning cost this removes at 10⁶ files). Commit with `statsCols` +
    * a range-clustered layout (repartitionByRange / Z-order / Hilbert)
    * to make per-file ranges disjoint and the skipping sharp; a
    * multi-dimensional conjunction prunes sharpest over a Hilbert/
    * Z-order clustering, where every file is tight in EVERY listed
    * dimension. Correctness NEVER rests on the stats: stats-less
    * entries are always read, and every range is re-applied to each
    * surviving row — stale or absent stats only cost speed.
    */
  def readPrunedWhere(spark: SparkSession, table: String,
                      ranges: Seq[StatRange],
                      version: Option[Int] = None): DataFrame = {
    val c = mainChain(table)
    val v = resolveChainVersion(spark, c, version)
    if (hasMorDeletes(bodyLines(spark, c, v))) {
      require(ranges.nonEmpty, "at least one range required")
      require(ranges.map(_.column).distinct.size == ranges.size,
        "one range per column")
      // pruning composes with merge-on-read: data entries prune by
      // stats per group, delete sets still apply to the survivors
      return morScanChain(spark, c, v,
        e => ranges.forall(r => overlaps(e.stats.get(r.column), r)))
        .filter(ranges.map(rowPredicate).reduce(_ && _))
    }
    val entries = manifestEntries(spark, c, v)
    require(entries.nonEmpty || chainSchema(spark, c, v).isDefined,
      s"$table v$v is an empty snapshot")
    val kept = prunedEntries(spark, c, v, ranges)
    val base =
      if (kept.isEmpty) {
        val st = chainSchema(spark, c, v)
        if (st.isDefined) emptyOf(spark, st.get)
        else read(spark, table, Some(v)).limit(0)
      } else scan(spark, table, chainSchema(spark, c, v), kept)
    base.filter(ranges.map(rowPredicate).reduce(_ && _))
  }

  /** Single-long-column pruned range read (the common case). */
  def readPruned(spark: SparkSession, table: String, statsCol: String,
                 lo: Long, hi: Long, version: Option[Int] = None): DataFrame =
    readPrunedWhere(spark, table, Seq(LongRange(statsCol, lo, hi)), version)

  /** `count(*)` from manifest metadata ALONE when every entry of the
    * version carries a committed per-file row count (any commit whose
    * stats pass ran — `statsCols` or `bucketCols` — records one): a
    * driver-side sum over the parsed manifest, zero files opened, zero
    * jobs. The metadata-only count the lakehouse formats answer
    * `SELECT count(*)` with. Falls back to an honest scan-count when
    * any entry predates row counts or merge-on-read deletes pend (their
    * removed-row count is not knowable from metadata).
    */
  def rowCount(spark: SparkSession, table: String,
               version: Option[Int] = None): Long = {
    val c = mainChain(table)
    val v = resolveChainVersion(spark, c, version)
    if (!hasMorDeletes(bodyLines(spark, c, v))) {
      val es = manifestEntries(spark, c, v)
      if (es.isEmpty) return 0L
      if (es.forall(_.rows.isDefined)) return es.flatMap(_.rows).sum
    }
    read(spark, table, Some(v)).count()
  }

  /** Point-lookup read: rows whose `keyCol` equals any of `keys`,
    * planned through EVERY committed per-file stat — bucket occupancy
    * (the stat that works on hash-distributed keys, where min/max
    * spans the domain in every file) AND (min, max) where present. On
    * a bucket-clustered table a k-key lookup opens O(k) files out of
    * 10⁶ with zero footer reads — the "fetch these documents by id"
    * path a curation pipeline runs constantly. `keys` is a bounded
    * literal list (a request batch, like [[erasePlan]]'s); the
    * predicate is re-applied per row, so stats-less files only cost
    * speed. Composes with merge-on-read deletes.
    */
  def readPrunedByKey(spark: SparkSession, table: String, keyCol: String,
                      keys: Seq[Any], version: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    require(keys.nonEmpty, "at least one key required")
    val c = mainChain(table)
    val v = resolveChainVersion(spark, c, version)
    val ks = keys.filter(_ != null)
    val st = chainSchema(spark, c, v).orElse(versionSchema(spark, c, v))
    val dt = st.map(_.apply(keyCol).dataType)
    val keep: Entry => Boolean = keyTouches(_, keyCol, ks, dt)
    val base =
      if (hasMorDeletes(bodyLines(spark, c, v))) morScanChain(spark, c, v, keep)
      else {
        val kept = manifestEntries(spark, c, v).filter(keep)
        if (kept.isEmpty) read(spark, table, Some(v)).limit(0)
        else scan(spark, table, st, kept)
      }
    base.filter(qcol(keyCol).isin(ks: _*))
  }

  /** Exactly-once append for replayable sources (streaming foreachBatch):
    * the commit records `token` (e.g. the micro-batch id) in its
    * manifest, and a replay of an already-committed token is a NO-OP —
    * the crash window between a successful manifest publish and the
    * caller's acknowledgment is closed by the manifest itself. Returns
    * Some(version) if committed, None if the token had already landed.
    * One writer per token (a streaming query owns its sink); two racing
    * writers with the SAME token are out of contract.
    */
  def commitAppendOnce(spark: SparkSession, table: String, df: DataFrame,
                       token: String, replayHorizon: Int = 128,
                       evolve: Boolean = false,
                       statsCols: Seq[String] = Nil): Option[Int] =
    if (replayed(spark, table, token, replayHorizon)) None
    else Some(appendChain(spark, mainChain(table), df, statsCols, evolve, Some(token)))

  /** Incremental read: the rows ADDED between `fromVersion` (exclusive)
    * and `toVersion` (inclusive, default head) — the files `toVersion`
    * references that `fromVersion` does not. This is THE primitive an
    * incremental pipeline wants ("process only what landed since the
    * version I last consumed"): planning diffs the two versions' SEGMENT
    * REFERENCE lists — O(commits) set membership, and only the DELTA's
    * segments are ever opened, so metadata cost is O(delta + commits),
    * never O(files) — and no per-row timestamps or CDC columns are
    * needed: the manifest diff IS the change log. Contract: valid for
    * APPEND-range histories; dataChange=false MAINTENANCE versions
    * (compaction/fold) inside the range are SKIPPED — they rewrite
    * references, not rows — so routine small-file maintenance no longer
    * breaks incremental consumers; an OVERWRITE in the range breaks
    * "new files = new rows" and is rejected by checking body
    * containment per maintenance-free span. The delta reads under
    * `toVersion`'s schema, so a range crossing an additive schema
    * evolution null-fills old-shape rows.
    */
  /** The append-range delta's data entries between two committed
    * versions — the shared planning core of [[readChangesBetween]] and
    * [[streamBatch]]: validates the range is append-shaped (no
    * overwrite/compaction, no merge-on-read delete) and expands ONLY
    * the delta's segments.
    */
  /** The window's NEW body lines in commit order, paired with a
    * MONOTONE sequence index (ties the change feed's `_seq` to commit
    * order across the whole window) — and COMPACTION-TRANSPARENT: a
    * `dataChange=false` maintenance version inside the window rewrote
    * segment references only (logical rows unchanged), so the window
    * segments at each maintenance commit and each maintenance-free SPAN
    * is diffed independently; the maintenance versions themselves
    * contribute nothing. The happy path (no maintenance in the window
    * — the overwhelmingly common trigger window) stays the 2-version-
    * file diff; a window that crosses maintenance pays O(spans + window
    * commits) small version-file reads, never a data re-load. A broken
    * prefix WITHOUT a maintenance header in the window (overwrite,
    * rollback into the window, pre-header compaction) still fails
    * loudly — the header is the commit's explicit no-rows-changed
    * claim, never inferred from body shape.
    */
  private def appendRangeNewLines(spark: SparkSession, c: Chain,
                                  fromVersion: Int, to: Int): Seq[(String, Int)] = {
    val before = bodyLines(spark, c, fromVersion)
    val after = bodyLines(spark, c, to)
    val afterSet = after.toSet
    if (before.forall(afterSet)) {
      // fast path (2 version reads): the whole window is append-shaped
      val beforeSet = before.toSet
      after.zipWithIndex.filterNot { case (l, _) => beforeSet(l) }
    } else {
      val wvs = chainVersions(spark, c).filter(v => v > fromVersion && v <= to)
      val maint = wvs.filter(isDataChangeFalse(spark, c, _))
      require(maint.nonEmpty,
        s"${c.label} v$fromVersion..v$to is not an append range (a segment " +
          s"of v$fromVersion is gone by v$to — an overwrite rewrote " +
          "history); read full snapshots instead")
      val out = Seq.newBuilder[(String, Int)]
      var offset = 0
      var base = fromVersion
      def span(b: Int, e: Int): Unit = if (e > b) {
        val sb = bodyLines(spark, c, b)
        val sa = bodyLines(spark, c, e)
        val saSet = sa.toSet
        require(sb.forall(saSet),
          s"${c.label} v$b..v$e (inside window v$fromVersion..v$to) is " +
            "not an append range (a segment of the span base is gone — " +
            "an overwrite rewrote history between maintenance commits); " +
            "read full snapshots instead")
        val sbSet = sb.toSet
        out ++= sa.zipWithIndex.collect {
          case (l, i) if !sbSet(l) => (l, offset + i) }
        offset += sa.length
      }
      maint.foreach { m =>
        span(base, (fromVersion +: wvs.filter(_ < m)).last)
        base = m
      }
      span(base, to)
      out.result()
    }
  }

  private def appendRangeAdded(spark: SparkSession, table: String,
                               fromVersion: Int, to: Int): Seq[Entry] = {
    val added = appendRangeNewLines(spark, mainChain(table), fromVersion, to)
      .map(_._1)
    // a merge-on-read delete in the range REMOVES rows — "new files =
    // new rows" no longer holds, and an incremental consumer that only
    // saw the adds would diverge from the snapshot. Loud, like an
    // overwrite.
    require(added.forall(!_.startsWith(DelRef)),
      s"$table v$fromVersion..v$to contains a merge-on-read delete — " +
        "not an append range; read full snapshots instead (or compact " +
        "and restart the consumer from the compacted version)")
    // only the delta's segments are expanded — the base's file lines are
    // never read, which is what keeps a high-frequency incremental
    // consumer O(delta) on a 10⁶-file table
    expand(spark, table, added).map(parseEntry)
  }

  def readChangesBetween(spark: SparkSession, table: String,
                         fromVersion: Int,
                         toVersion: Option[Int] = None): DataFrame = {
    val c = mainChain(table)
    // O(1) validation (hint + existence probes) — this runs on every
    // incremental tick; the failure message LISTs lazily
    val to = toVersion.getOrElse(resolveChainVersion(spark, c, None))
    require(isCommitted(spark, c, fromVersion) && isCommitted(spark, c, to) &&
      fromVersion <= to,
      s"need committed versions from<=to, got $fromVersion..$to of " +
        s"${chainVersions(spark, c).mkString(",")}")
    val added = appendRangeAdded(spark, table, fromVersion, to)
    if (added.isEmpty) // legitimate: token-only or empty-batch commits
      read(spark, table, Some(to)).limit(0)
    else scan(spark, table, chainSchema(spark, c, to), added)
  }

  /** One STREAMING-SOURCE micro-batch window: the rows of `(fromVersion,
    * toVersion]` under offset semantics "offset v = all data through
    * version v consumed". `fromVersion = 0` is the INITIAL LOAD — the
    * full snapshot at `toVersion` (what a new stream with
    * startingVersion=earliest sees first, chunked by the trigger's
    * version bound like every later window); `fromVersion >= 1` is the
    * append-range delta ([[readChangesBetween]] semantics) or, with
    * `feed = true`, the ordered row-level [[changeFeed]] (op='u' rows
    * and op='d' delete keys, so the stream keeps flowing across
    * merge-on-read erases). Empty windows return an empty LOCAL
    * relation (never a limit(0) plan — the streaming wrapper marks
    * every node of the returned plan streaming, and a Limit inside a
    * streaming plan is not incrementalizable). Used by
    * [[SnapshotStreamSource]]; callers outside streaming want
    * [[readChangesBetween]] / [[changeFeed]] directly.
    */
  /** The change feed's own output columns — ONE definition shared by
    * [[changeFeed]], [[streamBatch]]'s initial-load/empty windows, and
    * the streaming source's declared schema, so the feed shape cannot
    * silently diverge between the surfaces.
    */
  private[sources] val FeedFields: Seq[org.apache.spark.sql.types.StructField] = Seq(
    org.apache.spark.sql.types.StructField("_op", StringType, nullable = false),
    org.apache.spark.sql.types.StructField("_seq", IntegerType, nullable = false))

  /** The reserved-name guard shared by [[changeFeed]] and the streaming
    * source's schema resolution (see the `_op`/`_seq` discipline there).
    */
  private[sources] def requireNoFeedColumns(table: String, st: StructType): Unit =
    st.fieldNames.toSeq.intersect(FeedFields.map(_.name)) match {
      case Seq() => ()
      case taken => sys.error(s"$table carries reserved change-feed " +
        s"column name(s) ${taken.mkString(", ")}; rename them before " +
        "consuming a change feed")
    }

  /** True for the single-column schema of a merge-on-read DELETE-KEY
    * scan — the one leaf of a snapshot read that must stay a BATCH
    * relation when the plan is re-rooted for streaming (a stream-static
    * anti-join is plannable; a stream-stream LeftAnti is not).
    */
  private[sources] def isDeleteKeySchema(st: StructType): Boolean =
    st.fieldNames.sameElements(Array(DelKeyCol))

  /** The data entries of version `v` in BODY ORDER — the deterministic
    * file-granularity plan the streaming source chunks a split initial
    * load over (same window, same files, same order, forever — the
    * replay-determinism contract). Sizes come from the committed `sz=`
    * cells; entries without one (pre-r15 lines) read back None and the
    * source treats them conservatively under byte admission.
    */
  private[sources] def orderedDataEntries(spark: SparkSession, table: String,
                                          v: Int): Seq[Entry] = {
    val c = mainChain(table)
    val (groups, _) = morPartition(bodyLines(spark, c, v))
    groups.flatMap(ls => expand(spark, table, ls).map(parseEntry))
  }

  /** One INITIAL-LOAD CHUNK: snapshot `v` restricted to its data
    * entries `[fromFile, toFile)` in body order. Merge-on-read delete
    * sets are NOT data files and still anti-join every chunk they
    * scope, so the union of a snapshot's chunks equals the snapshot
    * exactly (spec-pinned) — which is what lets `maxBytesPerTrigger`
    * split a bootstrap-sized initial load across micro-batches without
    * changing its semantics.
    */
  private[sources] def snapshotChunk(spark: SparkSession, table: String,
                                     v: Int, fromFile: Int, toFile: Int,
                                     feed: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val keepPaths = orderedDataEntries(spark, table, v)
      .slice(fromFile, toFile).map(_.path).toSet
    val df = morScanChain(spark, mainChain(table), v, e => keepPaths(e.path))
    if (!feed) df
    else df.select(df.columns.map(col) :+
      lit("u").as("_op") :+ lit(0).as("_seq"): _*)
  }

  /** The committed bytes version `v` ADDED over `prev` — what
    * `maxBytesPerTrigger` admission sums per candidate version. 0 for
    * dataChange=false maintenance versions (reference rewrites plan
    * empty windows). Conservative on every unknown: a file without a
    * committed size, or a non-append-shaped step, counts as `unknown`
    * so the version lands in its own micro-batch (where a genuinely
    * broken range then fails loudly at getBatch, exactly as an
    * unbounded window would).
    */
  private[sources] def versionDeltaBytes(spark: SparkSession, table: String,
                                         prev: Int, v: Int,
                                         unknown: Long): Long = {
    val c = mainChain(table)
    if (isDataChangeFalse(spark, c, v)) return 0L
    val before = bodyLines(spark, c, prev).toSet
    val after = bodyLines(spark, c, v)
    if (!before.forall(after.toSet)) return unknown
    val newLines = after.filterNot(before)
    if (newLines.exists(_.startsWith(DelRef))) return unknown
    expand(spark, table, newLines).map(parseEntry)
      .map(_.size.getOrElse(unknown))
      .foldLeft(0L)((a, b) => math.min(Long.MaxValue / 2, a + b))
  }

  def streamBatch(spark: SparkSession, table: String, fromVersion: Int,
                  toVersion: Int, feed: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val c = mainChain(table)
    // per-micro-batch validation: existence probes, never a LIST
    require(fromVersion >= 0 && isCommitted(spark, c, toVersion) &&
      fromVersion <= toVersion,
      s"need 0 <= from <= committed to, got $fromVersion..$toVersion " +
        s"of ${chainVersions(spark, c).mkString(",")}")
    def feedCols(df: DataFrame): DataFrame =
      df.select(df.columns.map(col) :+
        lit("u").as("_op") :+ lit(0).as("_seq"): _*)
    if (fromVersion == 0) {
      val snap = read(spark, table, Some(toVersion))
      if (feed) feedCols(snap) else snap
    } else if (fromVersion == toVersion) {
      val st = versionSchema(spark, c, toVersion).getOrElse(
        sys.error(s"$table v$toVersion has no schema"))
      val withFeed = if (!feed) relaxed(st) else StructType(
        relaxed(st).fields ++ FeedFields)
      emptyOf(spark, withFeed)
    } else if (feed) {
      changeFeed(spark, table, fromVersion, Some(toVersion))
    } else {
      val added = appendRangeAdded(spark, table, fromVersion, toVersion)
      if (added.isEmpty)
        emptyOf(spark, relaxed(versionSchema(spark, c, toVersion).getOrElse(
          sys.error(s"$table v$toVersion has no schema"))))
      else scan(spark, table, chainSchema(spark, c, toVersion), added)
    }
  }

  /** Advance (registering on first call) consumer `name`'s committed
    * offset to `toVersion` — MONOTONE (a lagging or repeated call
    * no-ops). This is the STREAMING-SOURCE vacuum pin: a Spark
    * structured stream reading the table owns its exactly-once offsets
    * in its own checkpoint, but [[vacuum]] knows nothing about
    * checkpoints — advancing a named consumer as batches commit keeps
    * the format-level consumer floor in step so retention never
    * reclaims versions an attached stream still needs (lagging on a
    * crash pins MORE, the safe direction). NOT a consumption API: a
    * consumer name is owned by ONE mode — either the exactly-once
    * [[consumeChanges]]/[[consumeFeed]] tickers or this pin — never
    * both.
    */
  def advanceConsumer(spark: SparkSession, table: String, name: String,
                      toVersion: Int): Unit = {
    require(name.matches(RefName), s"consumer name must be $RefName, got '$name'")
    val f = fs(spark, table)
    val bytes = (toVersion.toString + "\n").getBytes("UTF-8")
    // bounded retry: every iteration either creates a generation file or
    // observes a racer's strictly newer one, so two racers converge in a
    // handful of rounds; the cap only guards a pathological filesystem
    // readers take the LAST generation, so a write only counts if its
    // slot is the chain head when it lands. The prune below deletes old
    // slots, and a racer acting on a STALE listing can win a create in
    // such a freed slot — publishing its value BELOW the real head,
    // where no reader ever sees it (observed under suite load as
    // o1=8, o3=6, o4=7: the maximum landed in a shadowed slot and was
    // lost). So every successful create is VERIFIED against a fresh
    // listing: shadowed writes loop and re-advance against the real
    // head (where the monotone check then no-ops if already covered).
    def headAfterCreate(g: Int): Boolean =
      consumerGen(spark, table, name, "o").last == g
    var attempt = 0
    while (attempt < 50) {
      attempt += 1
      val ogens = consumerGen(spark, table, name, "o")
      if (ogens.isEmpty) {
        if (createExclusive(f, consumerFile(spark, table, name, "o", 1), bytes)
          && headAfterCreate(1))
          return
        // lost the registration race (or our create landed in a pruned,
        // shadowed slot 1): loop into the monotone branch instead of
        // silently returning, so EVERY call lands under the same
        // documented contract (advance when higher, no-op when lagging)
        // rather than the first call being dropped outright. A racing
        // LOWER floor still no-ops by that contract — sharing one pin
        // name between two streams remains a misconfiguration (a pin is
        // owned by ONE stream; registerConsumer is the loud create-once
        // path).
      } else {
        val k = ogens.last
        // a racer's lag-1 prune can delete generation k between our
        // listing and this read — treat it as a stale listing and
        // re-list (the racer's newer generation is what we must compare
        // against), never as a failure
        val cur =
          try Some(readConsumerFile(spark, table, name, "o", k))
          catch { case _: java.io.FileNotFoundException => None }
        cur match {
          case Some(v) if toVersion <= v => return
          case Some(_) =>
            if (createExclusive(f,
              consumerFile(spark, table, name, "o", k + 1), bytes)
              && headAfterCreate(k + 1)) {
              // lag-1 prune, like consumeTick: bounded state per consumer
              consumerGen(spark, table, name, "o").filter(_ < k).foreach(g =>
                f.delete(consumerFile(spark, table, name, "o", g), false))
              return
            }
          // lost an advance race (or wrote into a shadowed slot from a
          // stale listing): re-read the new latest generation and
          // re-check monotonicity against IT (the racer may have
          // advanced past toVersion, making this call a no-op)
          case None => () // generation pruned under us: re-list
        }
      }
    }
    sys.error(s"advanceConsumer($table, $name) could not converge " +
      "after 50 attempts")
  }

  /** CHANGE DATA FEED: the ORDERED row-level changes between two
    * versions — what [[readChangesBetween]] cannot give once
    * merge-on-read deletes enter the range (it rejects them loudly,
    * because "new files = new rows" breaks). One output row per
    * change, in COMMIT ORDER via `_seq` (the body position of the
    * change's segment):
    *
    *   - `_op = 'u'`: an appended row, all columns populated;
    *   - `_op = 'd'`: an equality-delete key — the delete's key column
    *     holds the key, every other column is NULL.
    *
    * Downstream application IS the existing merge operator: for a
    * key-unique table,
    * `Merge.applyChanges(read(from), feed, Seq(keyCol), "_seq", "_op")`
    * reproduces `read(to)` exactly — later sequence wins, so a delete
    * followed by a re-insert lands the re-insert, matching the MoR
    * read semantics (spec-pinned as a law, and the op codes are
    * applyChanges' own). Planning is O(delta + commits): only the
    * delta's segments are opened. dataChange=false maintenance versions
    * in the range are skipped (like readChangesBetween); overwrites
    * still reject loudly. The feed itself
    * is exact row-wise for ANY table; the apply-law additionally needs
    * key-uniqueness (a multiset table has no keyed CDC semantics).
    */
  def changeFeed(spark: SparkSession, table: String, fromVersion: Int,
                 toVersion: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val c = mainChain(table)
    val to = toVersion.getOrElse(resolveChainVersion(spark, c, None))
    require(isCommitted(spark, c, fromVersion) && isCommitted(spark, c, to) &&
      fromVersion <= to,
      s"need committed versions from<=to, got $fromVersion..$to of " +
        s"${chainVersions(spark, c).mkString(",")}")
    val schema = chainSchema(spark, c, to).orElse(versionSchema(spark, c, to))
      .getOrElse(sys.error(s"$table v$to has no schema"))
    // `_op`/`_seq` are the feed's OWN columns — a table already carrying
    // either would emit duplicate names and break the downstream
    // Merge.applyChanges(replica, feed, key, "_seq", "_op") contract on
    // ambiguous references (same reserved-name discipline as DelKeyCol)
    requireNoFeedColumns(table, schema)
    def feedCols(row: Map[String, Column]): Seq[Column] =
      schema.fields.toSeq.map(f =>
        row.getOrElse(f.name, lit(null)).cast(f.dataType).as(f.name))
    // compaction-transparent window diff: dataChange=false maintenance
    // versions inside the window are skipped (reference rewrites only —
    // a fold of deletes the feed ALREADY EMITTED as 'd' rows at their
    // own commit positions), overwrites still fail loudly; `_seq` stays
    // monotone in commit order across maintenance boundaries
    val parts = appendRangeNewLines(spark, c, fromVersion, to)
      .flatMap {
        case (l, idx) if l.startsWith(DelRef) =>
          val rest = l.substring(DelRef.length)
          val i = rest.indexOf(':')
          val kc = dec(rest.substring(0, i))
          val kes = segmentLines(spark, table, rest.substring(i + 1)).map(parseEntry)
          val kst = StructType(Seq(org.apache.spark.sql.types.StructField(
            DelKeyCol, relaxType(schema(kc).dataType), nullable = true)))
          Some(scan(spark, table, Some(kst), kes)
            .select(feedCols(Map(kc -> col(DelKeyCol))) :+
              lit("d").as("_op") :+ lit(idx).as("_seq"): _*))
        case (l, idx) =>
          val es = expand(spark, table, Seq(l)).map(parseEntry)
          if (es.isEmpty) None
          else Some(scan(spark, table, Some(schema), es)
            .select(feedCols(schema.fieldNames.map(n => n -> qcol(n)).toMap) :+
              lit("u").as("_op") :+ lit(idx).as("_seq"): _*))
      }
    if (parts.isEmpty)
      emptyOf(spark, StructType(relaxed(schema).fields ++ FeedFields))
    else parts.reduce(_ unionByName _)
  }

  /** Snapshot-isolated compaction: rewrite the head snapshot into
    * `ceil(bytes / targetFileBytes)` files and commit the result as a
    * NEW version. Unlike [[Layout.compactSmallFiles]]' rename swap there
    * is no reader-visible window at all — concurrent readers keep
    * resolving the old manifest; the old files stay until [[vacuum]].
    * Compaction also folds the version file's segment-reference chain
    * back to ONE segment, resetting the O(commits) body growth.
    */
  def compactCommit(spark: SparkSession, table: String,
                    targetFileBytes: Long): Int =
    maintenanceCommit(spark, table, targetFileBytes,
      (df, n) => df.repartition(n), statsCols = Nil)

  /** The OPTIMIZE move: compaction + range-clustering + stats refresh in
    * ONE committed version — the head snapshot rewritten into
    * size-targeted files that are range-partitioned and locally sorted
    * on `orderCol`, with per-file (min, max) recorded for
    * [[readPruned]]. The maintenance pass that turns a table fragmented
    * by streaming appends (each with interleaved key ranges, so pruning
    * skips nothing) back into a sharply skippable layout, under the same
    * no-reader-visible-window protocol as every other commit.
    */
  def compactCommitOrdered(spark: SparkSession, table: String,
                           targetFileBytes: Long, orderCol: String): Int = {
    import org.apache.spark.sql.functions.col
    maintenanceCommit(spark, table, targetFileBytes,
      (df, n) => df.repartitionByRange(n, qcol(orderCol))
        .sortWithinPartitions(orderCol),
      statsCols = Seq(orderCol))
  }

  /** INCREMENTAL compaction — the maintenance move that scales: rewrite
    * only files smaller than `smallFileBytes` into `targetFileBytes`-
    * sized packed files and carry every already-right-sized file BY
    * REFERENCE (stats, buckets and row counts intact). A streaming sink
    * appending every trigger leaves thousands of tiny files; the full
    * [[compactCommit]] pays an O(table) rewrite to fix them, which at
    * 100 TB is not a routine maintenance cost — this pays O(small
    * files) only. Entries without a committed size conservatively count
    * as small (pre-r15 lines — compacting them also upgrades their
    * metadata). Statistics for the packed segment are recomputed when
    * `statsCols`/`bucketCols` are passed; refuses while merge-on-read
    * deletes pend (same resurrection hazard as every partial rewrite —
    * fold with [[compactCommit]] first, which also resets the body).
    * No-ops (returns the head unchanged) when fewer than two small
    * files exist — one small file cannot pack into fewer.
    */
  def compactSmallFilesCommit(spark: SparkSession, table: String,
                              targetFileBytes: Long, smallFileBytes: Long,
                              statsCols: Seq[String] = Nil,
                              bucketCols: Map[String, Int] = Map.empty): Int = {
    require(targetFileBytes > 0 && smallFileBytes > 0 &&
      smallFileBytes <= targetFileBytes,
      "need 0 < smallFileBytes <= targetFileBytes")
    val c = mainChain(table)
    val head = resolveChainVersion(spark, c, None)
    requireNoMorDeletes(spark, c, head)
    val es = manifestEntries(spark, c, head)
    val (small, big) = es.partition(_.size.forall(_ < smallFileBytes))
    if (small.size < 2) return head
    val schema = schemaOf(spark, c, head)
    val bytes = small.flatMap(_.size).sum
    val n = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    rewriteCommit(spark, table, "small-file compaction", head, schema, big,
      Some(scan(spark, table, Some(schema), small).repartition(n)), statsCols,
      bucketCols, maintenance = true)
  }

  /** OPTIMIZE for bucket layouts: compaction + re-cluster by the bucket
    * expression + bucket-cell (and stats) refresh in ONE committed
    * version. The maintenance move after appends fragment a bucketed
    * table — appended files interleave buckets (or lack cells
    * entirely), so [[readPrunedByKey]]'s pruning decays until a
    * re-cluster makes each file hold few buckets again.
    */
  def compactCommitBucketed(spark: SparkSession, table: String,
                            targetFileBytes: Long, keyCol: String, mod: Int,
                            statsCols: Seq[String] = Nil): Int =
    maintenanceCommit(spark, table, targetFileBytes,
      (df, n) => df.repartition(n, bucketExpr(keyCol, mod)),
      statsCols, Map(keyCol -> mod))

  private def maintenanceCommit(spark: SparkSession, table: String,
                                targetFileBytes: Long,
                                arrange: (DataFrame, Int) => DataFrame,
                                statsCols: Seq[String],
                                bucketCols: Map[String, Int] = Map.empty): Int = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val c = mainChain(table)
    val head = resolveChainVersion(spark, c, None)
    val es = manifestEntries(spark, c, head)
    val f = fs(spark, table)
    // committed lengths when every entry has one (post-r15 commits):
    // sizing the compaction needs zero FileStatus calls
    val bytes =
      if (es.forall(_.size.isDefined)) es.flatMap(_.size).sum
      else es.map(e => f.getFileStatus(new Path(table, e.path)).getLen).sum
    val n = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    // compaction reads the head snapshot (merge-on-read deletes applied,
    // so folding them preserves the LOGICAL row set) and re-stages the
    // same rows: the version is a maintenance commit
    val source = read(spark, table, Some(head))
    rewriteCommit(spark, table, "compaction", head, source.schema, Nil,
      Some(arrange(source, n)), statsCols, bucketCols, maintenance = true)
  }

  /** The one REWRITE commit, planned on main version `head` (a racing
    * commit fails it with [[ConcurrentCommitException]] — rewriting over
    * it would silently drop it; rerun). Its body is a carry segment of
    * the head entries kept BY REFERENCE (their original lines: size,
    * rows, stats, bucket and NULL cells, in sorted cell order) plus one
    * staged segment of `content`. Compaction rewrites everything and
    * carries nothing; small-file compaction rewrites the small files and
    * carries the big ones; the partial rewrites and merge rewrite the
    * touched files (merge plus its upserts) and carry the rest.
    */
  private[sources] def rewriteCommit(spark: SparkSession, table: String, op: String,
                                     head: Int, schema: StructType, carry: Seq[Entry],
                                     content: Option[DataFrame], statsCols: Seq[String],
                                     bucketCols: Map[String, Int] = Map.empty,
                                     maintenance: Boolean = false,
                                     token: Option[String] = None): Int = {
    val staged = content.toSeq.flatMap(stageSegment(spark, table, _, statsCols, bucketCols))
    val carried =
      if (carry.isEmpty) Seq.empty
      else Seq(writeSegment(spark, table, carry.map(e => renderLine(e.path, e.size,
        e.rows, e.stats.toSeq.sortBy(_._1), e.buckets.toSeq.sortBy(_._1),
        e.nulls.toSeq.sortBy(_._1)))))
    commitOnHead(spark, mainChain(table), op, Some(head),
      Version(carried ++ staged, Some(schema), token, maintenance))
  }

  /** The per-file rewrite plan of a stats-pruned delete: `rewrite` holds
    * the head entries whose committed stats CAN contain a doomed row
    * (plus every stats-less entry — conservatively rewritten), `carry`
    * the entries provably untouched, which the delete commit re-links by
    * reference (original stats intact, zero bytes moved).
    */
  final case class RewritePlan(rewrite: Seq[Entry], carry: Seq[Entry])

  private def splitByTouch(entries: Seq[Entry],
                           touches: Entry => Boolean): RewritePlan = {
    val (r, k) = entries.partition(touches)
    RewritePlan(r, k)
  }

  /** Can any key fall inside this entry's committed metadata for
    * `keyCol`? A key must be admitted by BOTH the (min, max) stats and
    * the bucket occupancy to touch; either stat missing (or a
    * kind/type mismatch) admits — correctness never rests on the stats.
    * `keyDt` enables the bucket check (the driver replays the bucket
    * expression on each literal key).
    */
  private def keyTouches(e: Entry, keyCol: String, keys: Seq[Any],
                         keyDt: Option[DataType] = None): Boolean = {
    def statAdmit(k: Any): Boolean = e.stats.get(keyCol) match {
      case None => true
      case Some(cs) => (cs.kind, k) match {
        case ("long", n: java.lang.Number) =>
          val v = n.longValue
          v >= cs.lo.toLong && v <= cs.hi.toLong
        case ("string", s: String) =>
          utf8Cmp(s, cs.lo) >= 0 && utf8Cmp(s, cs.hi) <= 0
        case ("date", d: java.sql.Date) =>
          val v = d.toLocalDate.toEpochDay
          v >= cs.lo.toLong && v <= cs.hi.toLong
        case ("date", d: java.time.LocalDate) =>
          val v = d.toEpochDay
          v >= cs.lo.toLong && v <= cs.hi.toLong
        case _ => true // unexpected key type: rewrite conservatively
      }
    }
    def bucketAdmit(k: Any): Boolean = (e.buckets.get(keyCol), keyDt) match {
      case (Some(b), Some(dt)) =>
        try b.ids.contains(bucketOf(k, dt, b.mod))
        catch { case _: Exception => true } // un-evaluable: conservative
      case _ => true
    }
    keys.exists(k => statAdmit(k) && bucketAdmit(k))
  }

  /** The default [[erasePlan]] key cap — 1M distinct keys is a few tens
    * of MB on the driver, far above any human-scale erasure batch and
    * far below OOM territory.
    */
  val ErasePlanMaxKeys: Int = 1000000

  /** The [[erasePurgeCommit]] rewrite plan for `keys` against the head
    * (or given) version — exposed so specs and probes can pin "k of N
    * files rewritten" without paying the rewrite.
    *
    * CONTRACT: `keys` is an erasure REQUEST batch, and the plan replays
    * each key against the manifest cells on the driver — the collect
    * here is the point (the same values broadcast into the rewrite scan
    * anyway), but it is guarded by `maxKeys` so a caller that
    * mistakenly routes a data-scale key set through the erasure lane
    * fails loudly instead of OOM-ing the driver. Bulk keyed deletes
    * belong to [[mergeIntoCommit]] (op='d' rows) or [[eraseMoRCommit]]:
    * both plan through [[mergeTouchPlan]]'s executor-side probe /
    * the merge-on-read lane and never move a key to the driver.
    */
  def erasePlan(spark: SparkSession, table: String, keyCol: String,
                keys: DataFrame, version: Option[Int] = None,
                maxKeys: Int = ErasePlanMaxKeys): RewritePlan = {
    require(keys.columns.length == 1,
      s"keys must be a single-column request list, got ${keys.columns.mkString(",")}")
    val c = mainChain(table)
    val v = resolveChainVersion(spark, c, version)
    // limit(maxKeys + 1) bounds the driver materialization BEFORE the
    // collect — an over-cap batch ships at most cap+1 rows, never the
    // whole set
    val ks0 = keys.distinct().limit(maxKeys + 1).collect()
    require(ks0.length <= maxKeys,
      s"erasePlan got more than $maxKeys distinct keys — that is a " +
        "data-scale key set, not an erasure request batch; route it " +
        "through mergeIntoCommit (op='d') or eraseMoRCommit, whose " +
        "planning never collects keys to the driver (or raise maxKeys " +
        "explicitly if the batch really is a bounded request)")
    val ks = ks0.map(_.get(0)).filter(_ != null).toSeq
    // bucket replay must hash under the TABLE column's type: xxhash64 of
    // a 4-byte int differs from the 8-byte long the cells were computed
    // from, so hashing a mis-typed request's values under its own type
    // would prune the WRONG files silently. Under the table type, a
    // physically mismatched request value fails Literal conversion and
    // bucketAdmit's catch answers conservatively — never wrong
    val tableDt = versionSchema(spark, c, v)
      .flatMap(st => st.fields.find(_.name == keyCol)).map(_.dataType)
    splitByTouch(manifestEntries(spark, c, v),
      keyTouches(_, keyCol, ks, tableDt))
  }

  /** Shared tail of the stats-pruned DML commits: rewrite only
    * `plan.rewrite`'s files through `purge` and carry `plan.carry` by
    * reference ([[rewriteCommit]]), on top of the planned head.
    */
  private def partialRewriteCommit(spark: SparkSession, table: String, op: String,
                                   head: Int, plan: RewritePlan,
                                   purge: DataFrame => DataFrame,
                                   statsCols: Seq[String]): Int = {
    val c = mainChain(table)
    requireNoMorDeletes(spark, c, head)
    val schema = schemaOf(spark, c, head)
    rewriteCommit(spark, table, op, head, schema, plan.carry,
      if (plan.rewrite.isEmpty) None
      else Some(purge(scan(spark, table, Some(schema), plan.rewrite))),
      statsCols)
  }

  /** Partial-rewrite commits (erase purge, retention delete, merge)
    * plan over [[manifestEntries]], which a pending merge-on-read
    * delete is invisible to — carrying a file by reference would
    * resurrect its logically-deleted rows. Fold the deletes first.
    */
  private def requireNoMorDeletes(spark: SparkSession, c: Chain, v: Int): Unit =
    require(!hasMorDeletes(bodyLines(spark, c, v)),
      s"${c.label} v$v has merge-on-read delete files; compactCommit to " +
        "fold them before a partial-rewrite commit")

  /** Row-level erasure, the PHYSICAL half (GDPR "right to be forgotten"):
    * rewrite the head snapshot with every row whose `keyCol` equals a
    * key in `keys` dropped — merge-on-read tombstones for those keys
    * included — and commit the result as a new version. The protocol a
    * deletion request actually needs is three moves:
    *
    *   1. logical delete NOW: append op='d' tombstones through the
    *      merge-on-read lane ([[commitAppend]]) — O(delta), readers'
    *      latest-wins merge stops surfacing the keys immediately;
    *   2. physical purge: this commit — O(files that can contain the
    *      keys): with committed `keyCol` stats (a clustered layout makes
    *      them disjoint), only the k-of-N overlapping files are
    *      rewritten and the rest carry into the new version BY
    *      REFERENCE ([[erasePlan]] exposes the split); stats-less
    *      tables degrade to the honest full rewrite;
    *   3. [[vacuum]] past the purge version — pre-purge files (which
    *      still contain the keys) leave the disk; time travel to them is
    *      gone, which for erasure is the point, so pick the vacuum
    *      horizon from the erasure SLA, not the general retention one.
    *
    * `keys` is a single-column erasure request list — broadcast into
    * the rewrite scan (bounded by contract: it is a request batch, not
    * a data-scale table). NULL keys never match (erasure keys are real
    * identifiers). Returns the purge version.
    *
    * CLONE AWARENESS: fails loudly while the table has live clone pins
    * — a purge the pinned pre-purge snapshots (and the clones sharing
    * their files) can still serve is not an erasure; see
    * [[requireNoClonePins]] for the override contract
    * (`ignoreClonePins = true`).
    */
  def erasePurgeCommit(spark: SparkSession, table: String, keyCol: String,
                       keys: DataFrame, statsCols: Seq[String] = Nil,
                       ignoreClonePins: Boolean = false): Int = {
    import org.apache.spark.sql.functions.{broadcast, col}
    requireNoClonePins(spark, table, ignoreClonePins, "erasePurgeCommit")
    val head = resolveChainVersion(spark, mainChain(table), None)
    val plan = erasePlan(spark, table, keyCol, keys, Some(head))
    val req = broadcast(keys.toDF("__graft_erase_key").distinct())
    partialRewriteCommit(spark, table, "erase purge", head, plan,
      src => src.join(req, qcol(keyCol) === col("__graft_erase_key"), "left_anti"),
      statsCols)
  }

  /** Merge-on-read row erasure — the O(keys) LOGICAL delete: commit a
    * tiny EQUALITY-DELETE file (the distinct non-null keys, staged as
    * parquet like any commit) and a version whose body appends one
    * delete reference; NO data file is read, rewritten, or moved, so
    * the commit costs O(keys) regardless of table size — the move that
    * makes "stop surfacing these keys NOW" affordable on a 100 TB
    * table, where even a stats-pruned partial rewrite pays a scan of
    * every overlapping file. Readers apply the delete as an anti-join
    * scoped by COMMIT ORDER: rows committed before the delete drop,
    * rows appended after it (a re-inserted key) survive — the standard
    * equality-delete sequencing of the log-structured formats.
    *
    * The complement of [[erasePurgeCommit]], not a replacement: the
    * bytes remain on disk until a [[compactCommit]] folds the delete
    * into a rewritten snapshot (after which vacuum can reclaim them) or
    * a purge rewrites the files. The GDPR protocol composes all three:
    * eraseMoRCommit now (instant logical disappearance), compact or
    * purge within the SLA, vacuum past it. While delete files are
    * pending: incremental reads across the delete version fail loudly
    * (removed rows break "new files = new rows"), and the
    * partial-rewrite commits (erase purge / retention delete / merge)
    * refuse until a compaction folds — both spec-pinned. NULL keys
    * never match (SQL equality) and are dropped from the key file.
    * Deletes with DIFFERENT key columns stack; so do repeated deletes
    * on one column. Returns the new version.
    *
    * CLONE AWARENESS, same contract as [[erasePurgeCommit]]: this is
    * the documented ENTRY POINT of the GDPR protocol (logical delete
    * now → compact/purge → vacuum), and no step downstream of it can
    * make the bytes leave while clone pins hold pre-delete versions —
    * so the refusal sits HERE, at the start, where the operator still
    * has options, not after a compaction already churned the table.
    * A plain CDC/retention delete on a knowingly-cloned table passes
    * `ignoreClonePins = true`.
    */
  def eraseMoRCommit(spark: SparkSession, table: String, keyCol: String,
                     keys: DataFrame,
                     ignoreClonePins: Boolean = false): Int = {
    requireNoClonePins(spark, table, ignoreClonePins, "eraseMoRCommit")
    require(keys.columns.length == 1,
      s"keys must be a single-column request list, got ${keys.columns.mkString(",")}")
    val c = mainChain(table)
    val st = schemaOf(spark, c, resolveChainVersion(spark, c, None))
    require(st.fieldNames.contains(keyCol),
      s"$keyCol is not a column of $table (${st.fieldNames.mkString(",")})")
    val want = relaxType(st(keyCol).dataType)
    val got = relaxType(keys.schema.head.dataType)
    require(want == got,
      s"delete keys must be ${want.simpleString} like $table.$keyCol, " +
        s"got ${got.simpleString}")
    val cleaned = keys.toDF(DelKeyCol).na.drop().distinct().coalesce(1)
    // the no-op check must be on KEY ROWS, not staged files: an empty
    // 1-partition DataFrame still writes one zero-row part file, and a
    // delete reference over an empty key file would needlessly block
    // every partial-rewrite commit and incremental read until a
    // compaction folds it
    val delBody =
      if (cleaned.isEmpty) Seq.empty // an empty request: a no-op version
      else {
        val seg = writeSegment(spark, table, stage(spark, table, cleaned))
        Seq(DelRef + enc(keyCol) + ":" + seg.substring(SegRef.length))
      }
    // append-shaped publish: the delete applies to everything before it
    // in body order, INCLUDING commits that raced in ahead of us — for
    // an erasure request ("these keys, gone") that is the semantics you
    // want. Additive evolution keeps keyCol at any head, but a racing
    // OVERWRITE may drop or retype it — re-validate per retry, or the
    // published head would be unreadable (morScanChain resolves the
    // delete key's type from the version's own schema)
    commit(spark, c) { headOpt =>
      val h = headOpt.getOrElse(sys.error(s"$table lost its versions mid-commit"))
      if (delBody.nonEmpty) {
        val hs = schemaOf(spark, c, h)
        require(hs.fieldNames.contains(keyCol) &&
          relaxType(hs(keyCol).dataType) == want,
          s"$table's head moved to v$h whose schema lost or retyped " +
            s"$keyCol (a concurrent overwrite); re-run the erase against " +
            "the new shape")
      }
      Version(bodyLines(spark, c, h) ++ delBody, chainSchema(spark, c, h))
    }
  }

  /** The [[deleteWhereCommit]] rewrite plan — which head files a
    * range-delete must rewrite vs carry by reference.
    */
  def deletePlan(spark: SparkSession, table: String, ranges: Seq[StatRange],
                 version: Option[Int] = None): RewritePlan = {
    require(ranges.nonEmpty, "at least one range required")
    require(ranges.map(_.column).distinct.size == ranges.size,
      "one range per column")
    val c = mainChain(table)
    val v = resolveChainVersion(spark, c, version)
    splitByTouch(manifestEntries(spark, c, v),
      e => ranges.forall(r => overlaps(e.stats.get(r.column), r)))
  }

  /** Retention delete: drop every row matching the CONJUNCTION of
    * `ranges` ("event_date < horizon AND tier = 'raw'") and commit the
    * result. The stats-pruned generalization of [[erasePurgeCommit]]:
    * only files whose committed stats can overlap EVERY range are
    * rewritten (on a range-clustered table, the k files holding the
    * expired band); all others carry by reference with their original
    * stats. Returns the new version.
    *
    * Same clone awareness as [[erasePurgeCommit]]: when the retention
    * delete is privacy-motivated, live clone pins mean the dropped
    * rows' bytes stay served through the pinned snapshots — fail
    * loudly with the pin list; a routine space/TTL delete on a
    * knowingly-cloned table passes `ignoreClonePins = true`.
    */
  def deleteWhereCommit(spark: SparkSession, table: String,
                        ranges: Seq[StatRange],
                        statsCols: Seq[String] = Nil,
                        ignoreClonePins: Boolean = false): Int = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    requireNoClonePins(spark, table, ignoreClonePins, "deleteWhereCommit")
    val head = resolveChainVersion(spark, mainChain(table), None)
    val plan = deletePlan(spark, table, ranges, Some(head))
    // SQL DELETE WHERE semantics: a row where the conjunction evaluates
    // to NULL (a NULL in a range column) is NOT matched and must
    // survive — without the coalesce, filter(not(NULL)) would drop it
    // in rewritten files while the identical row in a carried file
    // survived, making row fate depend on physical placement
    partialRewriteCommit(spark, table, "delete where", head, plan,
      src => src.filter(not(coalesce(
        ranges.map(rowPredicate).reduce(_ && _), lit(false)))),
      statsCols)
  }

  /** WRITE-AUDIT-PUBLISH — the publish-or-nothing append a production
    * ingest runs so a bad batch can NEVER be observed on main, even
    * transiently:
    *
    *   1. WRITE: the batch appends to a throwaway branch (zero main
    *      visibility; the branch fork is O(commits) metadata);
    *   2. AUDIT: the checks run against the BRANCH HEAD's appended
    *      delta as committed — the exact bytes main would serve, after
    *      parquet serialization, not the in-memory DataFrame;
    *   3. PUBLISH: clean → [[fastForwardMerge]] to main (atomic through
    *      the slot; fails cleanly if main moved since the fork — rerun);
    *      violations → the branch is dropped and the commit NEVER
    *      happened on main; the violating rows come back for triage.
    *
    * Returns Right(main version) on publish, Left([[AuditViolations]])
    * on audit failure: the violating rows (input schema + `violations`
    * array) are staged to a QUARANTINE parquet directory under the
    * table BEFORE the branch drops, and the result carries the
    * quarantine path, per-check violation counts, the total, a bounded
    * driver-side sample (first [[AuditSampleRows]] rows, for error
    * messages and triage UIs) and a DataFrame reading the quarantined
    * set — so a production-scale batch failing its audit costs O(1)
    * driver memory, never a full-batch collect. The quarantine
    * directory is the caller's to reclaim (vacuum never touches
    * `_quarantine/`); its name is the WAP branch's, for log
    * correlation. The audited-ingest counterpart of
    * [[graft.operators.IncrementalPipeline]]'s quarantine gate: there
    * the bad rows land in a quarantine table and the good half
    * publishes; here the unit of publication is the WHOLE batch.
    */
  def auditedAppendCommit(spark: SparkSession, table: String, df: DataFrame,
                          checks: Seq[graft.operators.Expectations.Check],
                          statsCols: Seq[String] = Nil,
                          evolve: Boolean = false): Either[AuditViolations, Int] = {
    import org.apache.spark.sql.functions.{col, explode}
    val name = s"wap-${java.util.UUID.randomUUID()}"
    createBranch(spark, table, name)
    try {
      val bv = commitAppendToBranch(spark, table, name, df, statsCols, evolve)
      // the committed delta, read back through the format (audit what
      // main WOULD serve, not the caller's in-memory df) at O(batch):
      // the branch head's body is its predecessor's plus exactly the
      // appended segment, so only the new segment's files are scanned —
      // a full-table except would re-scan the whole base per batch and
      // break under additive evolution (column counts differ)
      val bc = branchChain(table, name)
      val beforeSet = bodyLines(spark, bc, bv - 1).toSet
      val added = expand(spark, table,
        bodyLines(spark, bc, bv).filterNot(beforeSet)).map(parseEntry)
      val committed =
        if (added.isEmpty) readBranch(spark, table, name).limit(0)
        else scan(spark, table, chainSchema(spark, bc, bv), added)
      val (_, bad) = graft.operators.Expectations.gate(committed, checks)
      if (bad.isEmpty) Right(fastForwardMerge(spark, table, name))
      else {
        // stage the violating rows DURABLY (executor-side write, driver
        // sees no row) before the branch — and its data files — can
        // drop; everything below reads the small quarantine parquet
        val qPath = new Path(table, s"$QuarantineDir/$name").toString
        bad.write.parquet(qPath)
        val q = spark.read.parquet(qPath)
        val counts = q.select(explode(col("violations")).as("check"))
          .groupBy("check").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        Left(AuditViolations(qPath, counts, q.count(),
          q.limit(AuditSampleRows).collect().toSeq, q))
      }
    } finally dropBranch(spark, table, name)
  }

  private val QuarantineDir = "_quarantine"

  /** Bound on [[AuditViolations.sample]] — enough for an error message
    * and a triage glance, O(1) driver memory however large the batch.
    */
  val AuditSampleRows: Int = 20

  /** An audit failure's triage surface: where the full violating set
    * was quarantined, how many rows failed which check, a bounded
    * sample, and a DataFrame over the quarantined parquet for
    * distributed follow-up. `counts` sums can exceed `total` (one row
    * can fail several checks).
    */
  final case class AuditViolations(quarantinePath: String,
                                   counts: Map[String, Long], total: Long,
                                   sample: Seq[Row], violations: DataFrame)

  /** UPDATE ... SET ... WHERE as a committed version — the third DML
    * verb beside [[deleteWhereCommit]] and [[mergeIntoCommit]], same
    * stats-pruned partial-rewrite shape: only files whose committed
    * stats can overlap the WHERE conjunction rewrite (each matching row
    * gets every `set` expression applied; non-matching rows in those
    * files pass through byte-identical in value), every other file
    * carries BY REFERENCE. SQL UPDATE semantics for NULLs: a row where
    * the conjunction evaluates NULL is NOT matched and keeps its
    * values. `set` maps column name -> expression over the row's
    * CURRENT values (all assignments read the pre-update row, like
    * SQL's simultaneous assignment). Set columns must exist — UPDATE
    * never changes the schema (that is evolution's job). Returns the
    * new version.
    */
  def updateWhereCommit(spark: SparkSession, table: String,
                        ranges: Seq[StatRange], set: Map[String, Column],
                        statsCols: Seq[String] = Nil): Int = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    require(set.nonEmpty, "at least one SET assignment required")
    val c = mainChain(table)
    val head = resolveChainVersion(spark, c, None)
    val schema = schemaOf(spark, c, head)
    set.keys.foreach(k => require(schema.fieldNames.contains(k),
      s"SET column $k is not a column of $table (${schema.fieldNames.mkString(",")})"))
    val plan = deletePlan(spark, table, ranges, Some(head))
    val matched = coalesce(ranges.map(rowPredicate).reduce(_ && _), lit(false))
    partialRewriteCommit(spark, table, "update where", head, plan,
      src => src.select(schema.fieldNames.toSeq.map { f =>
        // simultaneous assignment: every RHS reads the pre-update row
        // (select evaluates all exprs against the input), matched rows
        // cast back to the column's committed type so an UPDATE cannot
        // drift the schema
        set.get(f).map(e => when(matched, e.cast(schema(f).dataType))
          .otherwise(qcol(f)).as(f)).getOrElse(qcol(f))
      }: _*),
      statsCols)
  }

  // -------------------------------------------------------- merge into

  /** The [[mergeIntoCommit]] rewrite plan: which head files hold at least
    * one row whose `keyCol` equals a source key, vs files provably
    * untouched. Unlike [[erasePlan]] the key set here is DATA-SCALE (a
    * merge batch, not a bounded erasure request), so no key ever reaches
    * the driver; the plan is found in two moves:
    *
    *   1. stats pre-prune: ONE tiny aggregate (a 2-scalar driver
    *      action) takes the batch's global (min, max) key band — inside
    *      [[mergeIntoCommit]] the band is instead folded from the
    *      staged batch's per-file key bounds, with no job — and only
    *      head files whose committed `keyCol` stats can overlap that
    *      band (plus every stats-less file) become candidates — on a
    *      key-clustered table this alone discards most of the table
    *      without reading a row;
    *   2. executor-side touch probe: the candidates are scanned for
    *      `keyCol` ONLY (column pruning keeps the probe narrow),
    *      key-equality semi-joined against the batch keys, and the
    *      DISTINCT matched file names come back — driver traffic is
    *      O(candidate files), never O(keys).
    *
    * Files the probe does not name are CARRIED BY REFERENCE by the merge
    * commit (original stats intact, zero bytes moved) — the two-pass
    * MERGE shape every log-structured lakehouse format runs, because at
    * 100 TB a merge batch touching 0.1% of files must not rewrite the
    * other 99.9%. `keys` must be a single-column DataFrame of `keyCol`'s
    * type. NULL keys never match a target row (SQL equality) and prune
    * nothing.
    */
  def mergeTouchPlan(spark: SparkSession, table: String, keyCol: String,
                     keys: DataFrame, version: Option[Int] = None): RewritePlan =
    touchPlan(spark, table, keyCol, keys, version, keyBand(keyCol, _))

  /** Move 1's band of a key batch already cast to the table column's
    * type: one 2-scalar driver action. None for an empty or all-NULL
    * batch and for a type with no stats kind.
    */
  private def keyBand(keyCol: String, keysT: DataFrame): Option[StatRange] = {
    import org.apache.spark.sql.functions.{col, max, min}
    val k = keysT.columns.head
    keysT.schema.head.dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        val r = keysT.agg(min(col(k)).cast("long"), max(col(k)).cast("long")).head()
        if (r.isNullAt(0)) None
        else Some(LongRange(keyCol, r.getLong(0), r.getLong(1)))
      case StringType =>
        val r = keysT.agg(min(col(k)), max(col(k))).head()
        if (r.isNullAt(0)) None
        else Some(StringRange(keyCol, r.getString(0), r.getString(1)))
      case DateType =>
        val r = keysT.agg(min(col(k)), max(col(k))).head()
        if (r.isNullAt(0)) None
        else Some(DateRange(keyCol, r.getDate(0).toLocalDate,
          r.getDate(1).toLocalDate))
      case _ => None // no stats kind for this type: every file is a candidate
    }
  }

  /** [[mergeTouchPlan]] with move 1's band supplied by `band`, which
    * receives the type-aligned key batch.
    */
  private def touchPlan(spark: SparkSession, table: String, keyCol: String,
                        keys: DataFrame, version: Option[Int],
                        band: DataFrame => Option[StatRange]): RewritePlan = {
    import org.apache.spark.sql.functions.{col, input_file_name}
    require(keys.columns.length == 1,
      s"keys must be a single-column batch key list, got ${keys.columns.mkString(",")}")
    val c = mainChain(table)
    val v = resolveChainVersion(spark, c, version)
    val es = manifestEntries(spark, c, v)
    val k0 = keys.columns.head
    // plan under the TABLE column's type: a mis-typed batch (int keys
    // against a long column) would band-compare and — worse — xxhash64
    // under the wrong width, silently pruning files that DO hold
    // matches. The cast is value-preserving for the sanctioned widths;
    // an uncastable batch yields NULL keys, which match nothing
    val keysT = versionSchema(spark, c, v)
      .flatMap(st => st.fields.find(_.name == keyCol)).map(_.dataType) match {
      case Some(dt) if dt != keys.schema.head.dataType =>
        keys.select(col(k0).cast(dt).as(k0))
      case _ => keys
    }
    val k = k0
    // move 1: the batch's global key band
    val range = band(keysT)
    if (range.isEmpty && es.forall(_.stats.contains(keyCol)))
      // an all-NULL (or empty) batch matches nothing; es with stats prove it
      return RewritePlan(Seq.empty, es)
    // committed bucket occupancy prunes candidates by EQUALITY, which a
    // global band cannot on an unclustered key: one tiny distinct-agg of
    // the batch's bucket ids per mod in use (driver rows <= mod), then a
    // set-intersection test per entry
    val mods = es.flatMap(_.buckets.get(keyCol)).map(_.mod).distinct
    val batchBuckets: Map[Int, Set[Int]] = mods.map { m =>
      m -> keysT.select(bucketExpr(k, m).cast("int")).na.drop().distinct()
        .collect().map(_.getInt(0)).toSet
    }.toMap
    def bucketCand(e: Entry): Boolean = e.buckets.get(keyCol) match {
      case Some(b) => batchBuckets.get(b.mod).forall(s => b.ids.exists(s))
      case None => true
    }
    val (cand, carry0) = range match {
      case Some(b) =>
        es.partition(e => overlaps(e.stats.get(keyCol), b) && bucketCand(e))
      case None => es.partition(bucketCand)
    }
    if (cand.isEmpty) return RewritePlan(Seq.empty, es)
    // move 2: executor-side touch probe over the candidates only,
    // matched back to entries via pathTail2 (scheme-proof)
    val schema = chainSchema(spark, c, v)
    val touched = scan(spark, table, schema, cand)
      .select(qcol(keyCol), input_file_name().as("__graft_f"))
      .join(keysT.toDF(keyCol), Seq(keyCol), "left_semi")
      .select("__graft_f").distinct().collect()
      .map(r => pathTail2(r.getString(0))).toSet
    val (rewrite, untouched) = cand.partition(e => touched.contains(pathTail2(e.path)))
    RewritePlan(rewrite, carry0 ++ untouched)
  }

  /** MERGE INTO — the keyed upsert+delete every incrementally-maintained
    * corpus runs (`MERGE INTO target USING source ON target.key =
    * source.key WHEN MATCHED [AND op='d'] THEN DELETE / WHEN MATCHED
    * THEN UPDATE SET * / WHEN NOT MATCHED [AND op<>'d'] THEN INSERT *`),
    * committed as ONE new version of the snapshot table:
    *
    *   1. the source batch collapses LATEST-WINS per key when `seqCol`
    *      is given — the same map-side-combinable `max_by` algebra as
    *      [[graft.operators.Merge.applyChanges]] (a hot key ships one
    *      partial per map partition, never its whole change history);
    *      without `seqCol` the batch must be key-unique, enforced
    *      IN-FLOW (a duplicate key fails the commit at scan time, it
    *      cannot silently double-insert);
    *   2. [[mergeTouchPlan]] finds the k-of-N head files actually
    *      holding matched keys (stats pre-prune + executor touch probe —
    *      no key ever reaches the driver); its key band comes from the
    *      (min, max) key bounds the batch's durable staging write
    *      recorded per file, so the band costs no Spark job;
    *   3. only those files rewrite (matched rows replaced or deleted via
    *      ONE anti-join, source upserts and inserts appended to the same
    *      staged segment); every untouched file carries into the new
    *      version BY REFERENCE with its original stats.
    *
    * Result ≡ `Merge.applyChanges(head, source)` — spec-pinned as a law.
    * `opCol` absent = every source row upserts; a delete for an absent
    * key is a no-op. Source must carry EXACTLY the target's columns plus
    * `seqCol`/`opCol` (a typo'd or extra column fails loudly rather than
    * silently dropping data); additive schema evolution goes through
    * [[commitAppend]] first, then merge. NULL source keys match no
    * target row (SQL equality); they collapse as one group and, when
    * their winner upserts, insert as NULL-key rows. Publishes on top of
    * the planned head — a concurrent commit fails the slot cleanly
    * (rerun the merge). Returns the new version.
    */
  def mergeIntoCommit(spark: SparkSession, table: String, keyCol: String,
                      source: DataFrame, seqCol: Option[String] = None,
                      opCol: Option[String] = None,
                      statsCols: Seq[String] = Nil,
                      token: Option[String] = None,
                      replayHorizon: Int = 128): Int = {
    import org.apache.spark.sql.functions.{assert_true, col, count, lit, max_by, struct}
    val c = mainChain(table)
    // optional replay fast-path (the streaming update-mode sink's batch
    // token): a token already committed within the horizon means this
    // exact batch's merge effect is durable — skip the whole pass and
    // return the current head instead of appending a content-identical
    // version per crash replay. Merge stays effect-idempotent without a
    // token; the token only stops replays from GROWING the history.
    if (token.exists(replayed(spark, table, _, replayHorizon)))
      return resolveChainVersion(spark, c, None)
    val head = resolveChainVersion(spark, c, None)
    requireNoMorDeletes(spark, c, head)
    val headSchema = schemaOf(spark, c, head)
    val targetCols = headSchema.fields.map(_.name).toSeq
    require(targetCols.contains(keyCol),
      s"key column $keyCol is not a target column (${targetCols.mkString(",")})")
    val expected = targetCols ++ seqCol ++ opCol
    require(source.columns.sorted.sameElements(expected.sorted.distinct),
      s"merge source must carry exactly the target columns plus seq/op " +
        s"(${expected.mkString(",")}), got ${source.columns.mkString(",")}")
    // normalize to target column order, then hold the source to the
    // head's exact (name, type) shape — same rejection messages as append
    val aligned = source.select(targetCols.map(col) :+
      seqCol.map(s => col(s).cast("long")).getOrElse(lit(0L)).as("__graft_seq") :+
      opCol.map(col).getOrElse(lit("u")).as("__graft_op"): _*)
    evolvedSchema(Some(headSchema),
      StructType(aligned.schema.fields.dropRight(2)), evolve = false,
      s"$table (merge source)")
    val row = struct(targetCols.filterNot(_ == keyCol).map(col) :+
      col("__graft_op"): _*)
    val collapsed0 = (seqCol match {
      case Some(_) =>
        aligned.groupBy(qcol(keyCol))
          .agg(max_by(row, struct(col("__graft_seq"), row)).as("__graft_w"))
      case None =>
        // key-unique contract enforced in-flow: the count rides the same
        // aggregate and a >1 key fails the job before anything commits
        aligned.groupBy(qcol(keyCol))
          .agg(max_by(row, row).as("__graft_w"), count(lit(1)).as("__graft_n"))
          .filter(assert_true(col("__graft_n") === 1,
            lit(s"merge source has duplicate $keyCol keys; pass seqCol " +
              "for latest-wins collapse")).isNull)
    }).select(qcol(keyCol) +:
      targetCols.filterNot(_ == keyCol).map(n => col(s"__graft_w.$n").as(n)) :+
      col("__graft_w.__graft_op").as("__graft_op"): _*)
    // DURABLE staging, not a persist: the touch probe (step 2) and the
    // rewrite/anti-join (step 3) must observe the SAME collapsed batch,
    // or a non-deterministic source recomputed after cache eviction
    // could leave a matched key's old row alive in a file the probe
    // declared untouched (a silent duplicate). A MEMORY_AND_DISK
    // persist is best-effort — evicted/lost partitions recompute — so
    // the batch is written to a temp parquet under the table and both
    // passes re-read the frozen bytes. Costs one extra O(delta)
    // write+read; a crash before the cleanup leaves `_tmp/merge-*`
    // debris (safe to delete any time — nothing references it). The
    // staging write also records each file's key (min, max), so the
    // touch plan's key band is folded from them on the driver.
    val stagedRel = s"$TmpDir/merge-${java.util.UUID.randomUUID()}"
    val stagedBatch = new Path(table, stagedRel)
    val keyKind = statKindOf(headSchema(keyCol).dataType)
    val staged = writeStaged(table, stagedRel, collapsed0,
      keyKind.map(_ => keyCol).toSeq, Nil)
    val collapsed = spark.read.schema(collapsed0.schema).parquet(stagedBatch.toString)
    try {
      val keys = collapsed.select(qcol(keyCol))
      val plan = touchPlan(spark, table, keyCol, keys, Some(head),
        _ => keyKind.flatMap(foldBand(keyCol, _, staged)))
      val upserts = collapsed.filter(col("__graft_op") =!= "d")
        .select(targetCols.map(col): _*)
      val newContent =
        if (plan.rewrite.isEmpty) upserts
        else scan(spark, table, Some(headSchema), plan.rewrite)
          .join(keys, Seq(keyCol), "left_anti")
          .unionByName(upserts)
      rewriteCommit(spark, table, "merge", head, headSchema, plan.carry,
        Some(newContent), statsCols, token = token)
    } finally { fs(spark, table).delete(stagedBatch, true); () }
  }

  private val TmpDir = "_tmp"

  /** The global key band of a staged batch, folded on the driver from
    * its files' exact (untruncated) bounds of `keyCol` — the only stats
    * column of the staging write. None when no file holds a non-NULL key.
    */
  private def foldBand(keyCol: String, kind: String,
                       files: Seq[FileStats]): Option[StatRange] = {
    val bounded = files.filter(_.lo.head != null)
    if (bounded.isEmpty) None
    else kind match {
      case "string" =>
        val utf8 = Ordering.fromLessThan[String](utf8Cmp(_, _) < 0)
        Some(StringRange(keyCol, bounded.map(_.lo.head.asInstanceOf[String]).min(utf8),
          bounded.map(_.hi.head.asInstanceOf[String]).max(utf8)))
      case _ =>
        val lo = bounded.map(_.lo.head.asInstanceOf[Long]).min
        val hi = bounded.map(_.hi.head.asInstanceOf[Long]).max
        Some(if (kind == "date")
          DateRange(keyCol, java.time.LocalDate.ofEpochDay(lo), java.time.LocalDate.ofEpochDay(hi))
        else LongRange(keyCol, lo, hi))
    }
  }

  /** Row-level diff of two keyed DataFrames: one row per changed key
    * with `change` ∈ insert / delete / update — unchanged keys are not
    * emitted. Keys must be unique within each side (the caller's
    * primary-key contract). Value comparison is null-safe over the TO
    * side's columns; a FROM side missing some of them (additive schema
    * evolution) null-fills, so a row whose only change is a value in a
    * new column reads as an update.
    *
    * Scale shape: ONE full-outer key join with the non-key columns
    * pre-packed into a single struct per side (narrow shuffle rows,
    * null-safe struct equality instead of per-column predicates).
    */
  def diff(from: DataFrame, to: DataFrame, keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, struct, when}
    require(keyCols.nonEmpty, "at least one key column")
    val toCols = to.columns.toSeq
    require(keyCols.forall(from.columns.contains) && keyCols.forall(toCols.contains),
      s"key columns ${keyCols.mkString(",")} must exist on both sides")
    val valCols = toCols.filterNot(keyCols.contains)
    // align FROM onto the TO schema: columns added by evolution between
    // the two versions null-fill on the from side
    val fromAligned = toCols.foldLeft(from) { (df, c) =>
      if (df.columns.contains(c)) df
      else df.withColumn(c, lit(null).cast(to.schema(c).dataType))
    }
    def packed(df: DataFrame, tag: String): DataFrame =
      df.select(keyCols.map(col) :+
        struct(valCols.map(col): _*).as(s"__graft_v_$tag") :+
        lit(1).as(s"__graft_p_$tag"): _*)
    val joined = packed(fromAligned, "from")
      .join(packed(to, "to"), keyCols, "full_outer")
    joined
      .withColumn("change",
        when(col("__graft_p_from").isNull, "insert")
          .when(col("__graft_p_to").isNull, "delete")
          .when(col("__graft_v_from") <=> col("__graft_v_to"), lit(null))
          .otherwise("update"))
      .filter(col("change").isNotNull)
      .select(keyCols.map(col) :+ col("change"): _*)
  }

  /** [[diff]] between two committed versions — the audit answer ("what
    * exactly did that commit do to the table?") that manifest diffs
    * alone cannot give once overwrites, purges, or merge-on-read
    * compactions rewrite files. For an APPEND-range history, prefer
    * [[readChangesBetween]] — the manifest diff yields the inserts at
    * O(delta) without touching the base; this operator is for the
    * general case where history was rewritten.
    */
  def diffSnapshots(spark: SparkSession, table: String,
                    fromVersion: Int, toVersion: Int,
                    keyCols: Seq[String]): DataFrame =
    diff(read(spark, table, Some(fromVersion)),
      read(spark, table, Some(toVersion)), keyCols)

  /** RESTORE — the undo button after a bad overwrite / merge / purge:
    * commit a NEW head whose content is exactly `toVersion`'s snapshot.
    * Zero data movement (the new version file copies the old body's
    * segment references) and nothing is rewritten or lost — the bad
    * versions stay readable (audit: "what did the bad commit contain?")
    * until [[vacuum]] reclaims them. Time travel semantics stay simple:
    * history is append-only, a rollback is just one more version.
    * Incremental consumers positioned AT OR BEFORE `toVersion` keep
    * working (their base body is a prefix of the restored body; the
    * delta across the rollback is empty); a consumer positioned on a
    * rolled-back version fails its next tick loudly — its offset points
    * into abandoned history, a data decision for the operator.
    */
  def rollbackCommit(spark: SparkSession, table: String, toVersion: Int): Int = {
    val c = mainChain(table)
    val v = resolveChainVersion(spark, c, Some(toVersion))
    val version = Version(bodyLines(spark, c, v), versionSchema(spark, c, v))
    commit(spark, c)(_ => version)
  }

  /** What [[cloneTable]] created: the clone's first version (always 1)
    * and the tag pinned on the SOURCE that keeps the shared files safe
    * from the source's vacuum. Dropping a clone = delete its root +
    * [[dropClone]] the pin (tag + registry entry in one call).
    */
  final case class CloneInfo(version: Int, pinTag: String)

  private val ClonesDir = "_clones"

  /** One live clone pin on a source table: the pin tag, the source
    * version it pins, and the clone's root path — the enumeration
    * surface [[clones]] returns and the GDPR guard prints.
    */
  final case class ClonePin(tag: String, version: Int, dst: String)

  /** The LIVE clone pins of a source table — every [[cloneTable]] call
    * records its pin in a `_clones/<tag>.txt` registry entry (version +
    * clone root) beside the tag itself, so clones are enumerable by
    * MORE than tag-name convention (a custom `pinTag` is just as
    * discoverable as an auto `clone-<uuid8>` one). An entry whose tag
    * was [[dropTag]]ped is DEAD (the pin is the tag — no tag, no
    * retention claim) and is filtered out here; its registry file is
    * inert debris removed by the next [[dropClone]] of the same name or
    * harmless forever. Pre-registry clones (auto-named `clone-*` tags
    * without a registry file) are still reported, with an empty dst.
    */
  def clones(spark: SparkSession, table: String): Seq[ClonePin] = {
    val f = fs(spark, table)
    val live = tags(spark, table)
    val dir = new Path(table, ClonesDir)
    val registered: Seq[ClonePin] =
      if (!f.exists(dir)) Seq.empty
      else f.listStatus(dir).filter(_.isFile)
        .map(_.getPath).filter(_.getName.endsWith(".txt")).toSeq
        .flatMap { p =>
          val tag = p.getName.stripSuffix(".txt")
          live.get(tag).map { v =>
            val dst = readSmallFile(f, p).headOption
              .map(_.split('\t')).filter(_.length == 2).map(c => dec(c(1)))
              .getOrElse("")
            ClonePin(tag, v, dst)
          }
        }
    val regTags = registered.map(_.tag).toSet
    val legacy = live.collect {
      case (n, v) if n.startsWith("clone-") && !regTags(n) =>
        ClonePin(n, v, "")
    }.toSeq
    (registered ++ legacy).sortBy(_.tag)
  }

  /** Release a clone's retention claim on its SOURCE: drop the pin tag
    * and its registry entry. The clone TABLE itself (its root
    * directory) is the caller's to delete — this only makes the shared
    * files vacuumable again on the source, after which the clone's
    * absolute references dangle by design. Tolerates a half-dropped
    * state (tag already removed by a hand [[dropTag]], or a crash
    * between the two deletes): whichever half still exists is removed,
    * and only a name with NEITHER half fails loudly.
    */
  def dropClone(spark: SparkSession, table: String, tag: String): Unit = {
    val droppedTag =
      try { dropTag(spark, table, tag); true }
      catch { case _: IllegalArgumentException => false }
    val droppedReg =
      fs(spark, table).delete(new Path(table, s"$ClonesDir/$tag.txt"), false)
    require(droppedTag || droppedReg, s"$table has no clone pin '$tag'")
  }

  /** The GDPR-vs-clone guard (see [[cloneTable]]'s "flip side" note): a
    * PURGE rewrites the head so the doomed bytes can leave the table —
    * but every live clone pin holds a pre-purge version (a clone is
    * always cloned from history at or before the purge), so the purged
    * keys' bytes stay readable through the pinned snapshot and through
    * the clone that shares its files. Purging the source while clones
    * live is therefore NOT an erasure; this fails loudly with the full
    * pin list unless the caller explicitly acknowledges
    * (`ignoreClonePins = true` — e.g. the clones are being erased by
    * their own purge runs, or dropped before the vacuum deadline).
    */
  private def requireNoClonePins(spark: SparkSession, table: String,
                                 ignore: Boolean, op: String): Unit =
    if (!ignore) {
      val pins = clones(spark, table)
      require(pins.isEmpty,
        s"$op on $table is not an erasure while clone pins keep the " +
          s"pre-purge bytes alive: ${pins.map(p => s"${p.tag}@v${p.version}" +
            (if (p.dst.nonEmpty) s" -> ${p.dst}" else "")).mkString(", ")}. " +
          "Drop the clones first (delete each clone root + " +
          "Snapshots.dropClone the pin), run the same erase on each " +
          "clone, or pass ignoreClonePins = true to acknowledge that " +
          "the pinned snapshots retain the keys until their pins drop")
    }

  /** SHALLOW CLONE — a new, independently writable table whose first
    * version REFERENCES the source snapshot's files (absolute paths in
    * the clone's own segments): zero bytes copied, O(files) metadata,
    * the zero-copy dev/test/experiment fork at 100 TB ("try the new
    * cleaning rule against production's table without copying it" when
    * a [[createBranch]] inside the source table is not wanted — a clone
    * lives in its OWN root with its own history, branches, consumers
    * and retention). Merge-on-read structure clones faithfully (groups
    * and delete-key sets keep their order), stats/bucket/null cells
    * carry verbatim, and the clone point is any committed version.
    *
    * VACUUM SAFETY, both directions: the source version is pinned by a
    * create-once TAG before any clone metadata is written, so the
    * source's vacuum/expireSnapshots can never reclaim the shared files
    * while the clone lives (drop the clone = delete its root + dropTag
    * the pin — [[CloneInfo.pinTag]]); the clone's own vacuum only ever
    * deletes under ITS root, and the absolute source references never
    * match its data listing, so it cannot reach into the source.
    *
    * The flip side of sharing, stated plainly: a GDPR purge on the
    * source does NOT purge the clone — the clone pins the pre-purge
    * bytes via its tag. That is why every clone records a `_clones/`
    * REGISTRY entry beside its pin: [[clones]] enumerates them, and
    * [[erasePurgeCommit]]/[[deleteWhereCommit]] REFUSE while pins live
    * (override: `ignoreClonePins = true`), so an operator can never
    * silently "erase" keys a clone still serves. Writes on either side
    * never appear on the other (divergence is the point). A crash
    * between the pin and the publish leaves a droppable tag and
    * vacuumable orphan segments, never a torn clone; a crash between
    * pin and registry leaves a bare `clone-*` tag [[clones]] still
    * reports by naming convention.
    */
  def cloneTable(spark: SparkSession, src: String, dst: String,
                 version: Option[Int] = None,
                 pinTag: Option[String] = None): CloneInfo = {
    val c = mainChain(src)
    val v = resolveChainVersion(spark, c, version)
    require(chainVersions(spark, mainChain(dst)).isEmpty,
      s"$dst already has committed versions; clone into a fresh root")
    val f = fs(spark, src)
    val srcAbs = f.makeQualified(new Path(src)).toString
    def absolutize(line: String): String = {
      val cells = line.split('\t')
      val p = cells.head
      // absoluteness via the URI, not string shape: a prior clone's
      // lines are makeQualified URIs rendered SINGLE-slash
      // ("file:/root/.../x.parquet") — neither "/"-prefixed nor
      // "://"-containing — and re-prefixing them would durably commit
      // broken references in a clone of a clone
      val abs =
        if (p.startsWith("/") || new Path(p).toUri.getScheme != null) p
        else s"$srcAbs/$p"
      (abs +: cells.tail.toSeq).mkString("\t")
    }
    // pin BEFORE writing any clone metadata: from this point the
    // source's vacuum keeps every file version v references
    val tag = pinTag.getOrElse(
      s"clone-${java.util.UUID.randomUUID().toString.take(8)}")
    tagVersion(spark, src, tag, v)
    // the pin REGISTRY entry (tag won above, so the name is ours): what
    // makes clones enumerable by [[clones]] — and the GDPR erase guard
    // able to name them — rather than discoverable only by tag-name
    // convention. Written right after the pin so a crash between the
    // two leaves a droppable bare tag, never an unpinned registry row.
    // Winning the create-once TAG is the ownership proof, so a registry
    // file already present under this name is DEAD DEBRIS (a namesake
    // pin released by a bare dropTag) — overwrite it, or clones() would
    // report this live pin with the dead clone's root.
    f.mkdirs(new Path(src, ClonesDir))
    val regPath = new Path(src, s"$ClonesDir/$tag.txt")
    val regBytes =
      (s"$v\t${enc(f.makeQualified(new Path(dst)).toString)}\n").getBytes("UTF-8")
    if (!createExclusive(f, regPath, regBytes)) {
      f.delete(regPath, false)
      createExclusive(f, regPath, regBytes)
    }
    val schema = chainSchema(spark, c, v)
    val (groups, deletes) = morPartition(bodyLines(spark, c, v))
    def cloneGroup(ls: Seq[String]): Seq[String] = {
      val lines = expand(spark, src, ls).map(absolutize)
      if (lines.isEmpty) Seq.empty else Seq(writeSegment(spark, dst, lines))
    }
    val body = cloneGroup(groups.head) ++ deletes.zipWithIndex.flatMap {
      case ((kc, seg), i) =>
        val keySeg = writeSegment(spark, dst,
          segmentLines(spark, src, seg).map(absolutize))
        (DelRef + enc(kc) + ":" + keySeg.substring(SegRef.length)) +:
          cloneGroup(groups(i + 1))
    }
    CloneInfo(commitOnHead(spark, mainChain(dst), "clone", None,
      Version(body, schema)), tag)
  }

  // ----------------------------------------------------------- branches

  private val RefName = "[A-Za-z0-9._-]{1,64}"

  /** Writeable branch refs of the table (sorted). */
  def branches(spark: SparkSession, table: String): Seq[String] = {
    val dir = new Path(table, BranchesDir)
    val f = fs(spark, table)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).filter(_.isDirectory).map(_.getPath.getName)
      .sorted.toSeq
  }

  /** Fork a writeable branch off `fromVersion` (default: the main head).
    * The branch's v1 copies the fork point's segment REFERENCES — O(commits)
    * metadata, zero data movement — and records the fork version; commits
    * land on the branch through [[commitAppendToBranch]] /
    * [[commitOverwriteToBranch]] without touching main, and
    * [[fastForwardMerge]] folds the branch back when main has not moved.
    * Creation is atomic: the branch's v1 is a commit planned on the
    * empty branch chain, so of two racers creating the name one lands
    * and the other fails with [[ConcurrentCommitException]].
    */
  def createBranch(spark: SparkSession, table: String, name: String,
                   fromVersion: Option[Int] = None): Unit = {
    require(name.matches(RefName), s"branch name must be $RefName, got '$name'")
    val main = mainChain(table)
    val from = resolveChainVersion(spark, main, fromVersion)
    val c = branchChain(table, name)
    require(chainHead(spark, c).isEmpty,
      s"$table already has a branch '$name' (dropBranch first to recreate)")
    commitOnHead(spark, c, s"branch create '$name'", None, Version(
      bodyLines(spark, main, from), chainSchema(spark, main, from), fork = Some(from)))
    ()
  }

  /** The main version a branch forked from (recorded in its v1). */
  def branchFork(spark: SparkSession, table: String, name: String): Int = {
    val c = branchChain(table, name)
    require(chainVersions(spark, c).nonEmpty, s"$table has no branch '$name'")
    manifestLines(spark, c, 1).collectFirst {
      case l if l.startsWith(ForkHeader) => l.substring(ForkHeader.length).toInt
    }.getOrElse(sys.error(s"${c.label} v1 lacks its fork header"))
  }

  /** Committed versions of a branch, ascending. */
  def branchVersions(spark: SparkSession, table: String, name: String): Seq[Int] =
    chainVersions(spark, branchChain(table, name))

  /** Read a branch snapshot: the given branch version, or its head. */
  def readBranch(spark: SparkSession, table: String, name: String,
                 version: Option[Int] = None): DataFrame =
    readChain(spark, branchChain(table, name), version)

  /** Append to a branch — same serialization, schema-evolution and
    * O(delta) metadata contracts as [[commitAppend]], against the
    * branch's own chain. Returns the branch version.
    */
  def commitAppendToBranch(spark: SparkSession, table: String, name: String,
                           df: DataFrame, statsCols: Seq[String] = Nil,
                           evolve: Boolean = false): Int = {
    val c = branchChain(table, name)
    require(chainVersions(spark, c).nonEmpty, s"$table has no branch '$name'")
    appendChain(spark, c, df, statsCols, evolve, None)
  }

  /** Replace a branch's snapshot (the "try a different filter" move). */
  def commitOverwriteToBranch(spark: SparkSession, table: String, name: String,
                              df: DataFrame, statsCols: Seq[String] = Nil): Int = {
    val c = branchChain(table, name)
    require(chainVersions(spark, c).nonEmpty, s"$table has no branch '$name'")
    commitOverwriteChain(spark, c, df, statsCols)
  }

  /** Fast-forward the MAIN head to the branch's head: publishes a main
    * version whose body is the branch head's segment references (zero
    * data movement — the branch's files become main's). Requires main
    * not to have moved since the fork — a diverged main is a data
    * decision (recreate the branch from the new head, [[mergeBranch]]
    * the appends, or overwrite), not a format one: the commit is planned
    * on the fork version, so a moved main, racing or not, fails with
    * [[ConcurrentCommitException]]. Returns the new main version.
    */
  def fastForwardMerge(spark: SparkSession, table: String, name: String): Int = {
    val main = mainChain(table)
    val c = branchChain(table, name)
    val bvs = chainVersions(spark, c)
    require(bvs.nonEmpty, s"$table has no branch '$name'")
    val bhead = bvs.last
    val fork = branchFork(spark, table, name)
    commitOnHead(spark, main, s"fast-forward merge of branch '$name' forked at v$fork",
      Some(fork), Version(bodyLines(spark, c, bhead), Some(schemaOf(spark, c, bhead))))
  }

  /** Merge a branch into a DIVERGED main — the append-append case
    * [[fastForwardMerge]] rejects. Segment references make this a pure
    * METADATA UNION: when both sides only APPENDED since the fork
    * (each body is the fork body plus its own new segment references),
    * the merged head is main's body plus the branch's appended
    * references — zero data movement, O(commits) metadata, and every
    * row lands exactly once because the two deltas reference disjoint
    * segments by construction (segment names are fresh UUIDs).
    *
    * Anything else is a DATA CONFLICT and fails loudly, never
    * silently: a side that overwrote/compacted/rolled back (its body no
    * longer extends the fork body) rewrote history the other side
    * built on, and a merge-on-read DELETE in either delta is scoped by
    * body order, which the merge would re-interleave — whether the
    * other side's appends should fall inside the delete's scope is an
    * operator decision (re-run the erase after merging, or rebase).
    *
    * Schemas reconcile by the same additive-evolution contract as
    * appends: identical shapes merge, one side extending the other with
    * trailing nullable columns merges under the longer shape (the
    * shorter side's files null-fill at read), anything else rejects.
    *
    * The decision re-runs INSIDE the publish slot against the heads the
    * winning racers left — BOTH chains re-read per attempt — so a main
    * commit racing the merge either serializes cleanly before it (the
    * merge re-plans on top) or the publish retries, and a branch commit
    * landing during a retry joins the merged delta instead of being
    * snapshotted away. The unavoidable residue of merging across two
    * independent slot chains: a branch commit whose publish interleaves
    * AFTER the merge's winning create is NOT in the merged head — same
    * one-writer-per-branch discipline as [[fastForwardMerge]]; quiesce
    * branch writers before merging, or diff the branch head against the
    * merge before [[dropBranch]]. The branch survives (drop it
    * separately once merged). Returns the new main version.
    */
  def mergeBranch(spark: SparkSession, table: String, name: String): Int = {
    val main = mainChain(table)
    val bc = branchChain(table, name)
    require(chainVersions(spark, bc).nonEmpty, s"$table has no branch '$name'")
    val fork = branchFork(spark, table, name)
    val forkBody = bodyLines(spark, main, fork)
    def shape(st: StructType) =
      relaxed(st).fields.map(f => (f.name, f.dataType)).toSeq
    commit(spark, main) { hOpt =>
      val h = hOpt.getOrElse(sys.error(s"$table lost its versions mid-merge"))
      val bhead = chainVersions(spark, bc).last
      val branchBody = bodyLines(spark, bc, bhead)
      require(branchBody.startsWith(forkBody),
        s"$table branch '$name' rewrote its history since forking at " +
          s"v$fork (overwrite/compaction on the branch) — not an " +
          "append-append merge; commitOverwrite the decision instead")
      val branchDelta = branchBody.drop(forkBody.length)
      require(branchDelta.forall(!_.startsWith(DelRef)),
        s"$table branch '$name' committed merge-on-read deletes since the " +
          "fork; a delete's scope is its body order, which a merge would " +
          "re-interleave with main's appends — merge the appends from a " +
          "clean branch and re-run the erase on the merged head")
      val bSchema = schemaOf(spark, bc, bhead)
      val mainBody = bodyLines(spark, main, h)
      // main-side MAINTENANCE since the fork (dataChange=false folds /
      // compactions) is fine: main's current body references the same
      // logical rows as fork + main's appends, so appending the branch
      // delta to it is still the exact union. Only real rewrites
      // (overwrite/rollback — no maintenance claim) reject.
      val mainDelta =
        try appendRangeNewLines(spark, main, fork, h).map(_._1)
        catch {
          case e: IllegalArgumentException => throw new IllegalArgumentException(
            s"$table main rewrote history since branch '$name' forked at " +
              s"v$fork (overwrite/rollback by v$h) — not an append-append " +
              s"merge; rebase the branch from the new head (${e.getMessage})")
        }
      require(mainDelta.forall(!_.startsWith(DelRef)),
        s"$table main committed merge-on-read deletes since branch " +
          s"'$name' forked; whether the branch's rows fall inside their " +
          "scope is a data decision — re-run the erase on the merged " +
          "head if it must cover them (fold main's deletes + rebase " +
          "otherwise)")
      val mSchema = schemaOf(spark, main, h)
      val (ms, bs) = (shape(mSchema), shape(bSchema))
      val merged =
        if (bs.startsWith(ms)) bSchema
        else if (ms.startsWith(bs)) mSchema
        else sys.error(s"$table branch '$name' and main diverged to " +
          s"incompatible schemas (${bs.mkString(",")} vs " +
          s"${ms.mkString(",")}); only additive trailing-column " +
          "evolution merges")
      Version(mainBody ++ branchDelta, Some(merged))
    }
  }

  /** Delete a branch ref and its chain. Its data files and segments
    * stay until the next [[vacuum]] finds them unreferenced.
    */
  def dropBranch(spark: SparkSession, table: String, name: String): Unit = {
    require(name.matches(RefName), s"branch name must be $RefName, got '$name'")
    val f = fs(spark, table)
    require(f.delete(new Path(table, s"$BranchesDir/$name"), true),
      s"$table has no branch '$name'")
  }

  // ---------------------------------------------------------- consumers

  private val ConsumersDir = "_consumers"

  private def consumerDir(table: String, name: String): Path =
    new Path(table, s"$ConsumersDir/$name")

  private def consumerGen(spark: SparkSession, table: String, name: String,
                          prefix: String): Seq[Int] = {
    val dir = consumerDir(table, name)
    val f = fs(spark, table)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).map(_.getPath.getName)
      .collect { case n if n.matches(prefix + "\\d{8}\\.txt") =>
        n.substring(prefix.length, prefix.length + 8).toInt }
      .sorted.toSeq
  }

  private def consumerFile(spark: SparkSession, table: String, name: String,
                           prefix: String, g: Int): Path =
    new Path(consumerDir(table, name), f"$prefix$g%08d.txt")

  private def readConsumerFile(spark: SparkSession, table: String,
                               name: String, prefix: String, g: Int): Int =
    readSmallFile(fs(spark, table),
      consumerFile(spark, table, name, prefix, g)).head.trim.toInt

  /** Register a named changelog consumer starting AFTER `startVersion`
    * (its first batch is the delta startVersion → head). Create-once:
    * registering an existing name fails. The consumer's state is two
    * tiny generation chains under `_consumers/<name>/` — committed
    * offsets (`o`) and planned targets (`p`) — both written through the
    * same create-if-absent slot as every other ref.
    */
  def registerConsumer(spark: SparkSession, table: String, name: String,
                       startVersion: Int): Unit = {
    require(name.matches(RefName), s"consumer name must be $RefName, got '$name'")
    require(versions(spark, table).contains(startVersion),
      s"$table has no committed version $startVersion to start from")
    val won = createExclusive(fs(spark, table),
      consumerFile(spark, table, name, "o", 1),
      (startVersion.toString + "\n").getBytes("UTF-8"))
    require(won, s"$table already has a consumer '$name'")
  }

  /** Registered changelog consumers: name → committed offset (the last
    * source version whose rows the consumer has durably processed).
    */
  def consumers(spark: SparkSession, table: String): Map[String, Int] = {
    val dir = new Path(table, ConsumersDir)
    val f = fs(spark, table)
    // a consumer advancing CONCURRENTLY (a pinned stream) can prune a
    // generation between this reader's listing and its read — re-list
    // and retry rather than failing the whole vacuum/monitoring pass.
    // The latest generation itself is never deleted (lag-1 prune only
    // drops strictly older ones), so a retry always converges.
    def offsetOf(n: String): Option[Int] = {
      var attempt = 0
      while (attempt < 50) {
        attempt += 1
        consumerGen(spark, table, n, "o").lastOption match {
          case None => return None
          case Some(g) =>
            try return Some(readConsumerFile(spark, table, n, "o", g))
            catch { case _: java.io.FileNotFoundException => () } // pruned: re-list
        }
      }
      sys.error(s"consumers($table): could not read '$n' after 50 attempts")
    }
    if (!f.exists(dir)) Map.empty
    else f.listStatus(dir).filter(_.isDirectory).map(_.getPath.getName)
      .flatMap(n => offsetOf(n).map(n -> _)).toMap
  }

  /** The consumer's committed offset. */
  def consumerOffset(spark: SparkSession, table: String, name: String): Int =
    consumers(spark, table).getOrElse(name,
      throw new IllegalArgumentException(s"$table has no consumer '$name'"))

  /** One EXACTLY-ONCE consumption tick — the incremental-consumer
    * contract ("process only what landed since the version I last
    * consumed") made crash-safe, which a bare [[readChangesBetween]] +
    * hand-kept offset is NOT: a crash between processing and the offset
    * write replays the batch, and a crash after an offset write chosen
    * AFTER processing can skip rows the processing never saw. This is
    * Spark streaming's offset-log/commit-log dance re-expressed at the
    * format level:
    *
    *   1. RECOVER: if a planned target `p(k+1)` exists without its
    *      committed offset `o(k+1)`, the previous tick died mid-flight —
    *      reprocess exactly that window (same bounds, same token);
    *   2. else PLAN: target = the current head (no-op if caught up),
    *      durably logged via create-if-absent BEFORE any processing;
    *   3. PROCESS: `process(delta, token)` with the deterministic token
    *      `<name>:g<k+1>` — the callback must be token-idempotent
    *      (e.g. sink through [[commitAppendOnce]] with the given token);
    *   4. COMMIT: write `o(k+1) = target`.
    *
    * Every crash window replays into the SAME (bounds, token) pair, so
    * a token-idempotent sink yields exactly-once end-to-end effects
    * under at-least-once ticking. One ticker per consumer (the
    * [[commitAppendOnce]] one-writer contract); racing tickers still
    * serialize on the create-once slots. Returns the newly committed
    * offset, or None when caught up. The source windows are append
    * ranges by [[readChangesBetween]]'s contract — dataChange=false
    * maintenance versions in the window are skipped transparently; an
    * overwrite in the range fails the tick loudly (an overwritten
    * history has no incremental meaning; re-register the consumer).
    */
  def consumeChanges(spark: SparkSession, table: String, name: String)
                    (process: (DataFrame, String) => Unit): Option[Int] =
    consumeTick(spark, table, name,
      (b, t) => readChangesBetween(spark, table, b, Some(t)), process)

  /** The DELETE-TOLERANT consumption tick: identical exactly-once
    * plan/process/commit machinery to [[consumeChanges]], but the
    * window arrives as a [[changeFeed]] — op='u' rows and op='d'
    * delete keys in commit order — so a registered consumer keeps
    * ticking across merge-on-read erases instead of failing until an
    * operator intervenes. A downstream replica applies each window
    * with `Merge.applyChanges(replica, feed, key, "_seq", "_op")`
    * (spec-pinned: sequential tick applications ≡ the head).
    * Overwrite/compaction windows still fail loudly — a rewritten
    * history has no row-level change semantics.
    */
  def consumeFeed(spark: SparkSession, table: String, name: String)
                 (process: (DataFrame, String) => Unit): Option[Int] =
    consumeTick(spark, table, name,
      (b, t) => changeFeed(spark, table, b, Some(t)), process)

  private def consumeTick(spark: SparkSession, table: String, name: String,
                          delta: (Int, Int) => DataFrame,
                          process: (DataFrame, String) => Unit): Option[Int] = {
    val ogens = consumerGen(spark, table, name, "o")
    require(ogens.nonEmpty, s"$table has no consumer '$name'")
    val k = ogens.last
    val base = readConsumerFile(spark, table, name, "o", k)
    val pgens = consumerGen(spark, table, name, "p")
    val target =
      if (pgens.contains(k + 1)) readConsumerFile(spark, table, name, "p", k + 1)
      else {
        // head via the hint — the caught-up tick (the steady state of a
        // high-frequency consumer) costs O(1) filesystem calls, no LIST
        val head = resolveChainVersion(spark, mainChain(table), None)
        if (head <= base) return None // caught up
        // plan-before-process: the window is durable before any effect;
        // a racing ticker's create wins once and both re-read the winner
        createExclusive(fs(spark, table),
          consumerFile(spark, table, name, "p", k + 1),
          (head.toString + "\n").getBytes("UTF-8"))
        readConsumerFile(spark, table, name, "p", k + 1)
      }
    process(delta(base, target), s"$name:g${k + 1}")
    val f = fs(spark, table)
    createExclusive(f, consumerFile(spark, table, name, "o", k + 1),
      (target.toString + "\n").getBytes("UTF-8"))
    // prune DEAD generations, LAGGED BY ONE: recovery reads the latest
    // committed offset and its successor plan, and a torn newest offset
    // write must still find its predecessor — so keep o(k)/o(k+1) and
    // p(k+1), drop everything older. Without this a high-frequency
    // consumer accumulates one tiny file per tick forever and the
    // per-tick directory listing degrades to O(ticks ever); with it the
    // state is ≤ 3 files. Best-effort — a crash mid-prune just leaves
    // debris for the next tick's prune.
    consumerGen(spark, table, name, "o").filter(_ < k).foreach(g =>
      f.delete(consumerFile(spark, table, name, "o", g), false))
    consumerGen(spark, table, name, "p").filter(_ <= k).foreach(g =>
      f.delete(consumerFile(spark, table, name, "p", g), false))
    Some(target)
  }

  /** Drop a consumer and its offset state (its floor no longer pins
    * versions against [[vacuum]]).
    */
  def dropConsumer(spark: SparkSession, table: String, name: String): Unit = {
    val f = fs(spark, table)
    require(f.delete(consumerDir(table, name), true),
      s"$table has no consumer '$name'")
  }

  // --------------------------------------------------------------- tags

  /** Tag a committed version with an immutable name — how a reproducible
    * training run pins its input ("read what run-2026-08 read") without
    * carrying version numbers through configs. Tags are create-once
    * (published through the same create-if-absent slot as manifests, so
    * two racers cannot both claim a name) and PIN their version against
    * [[vacuum]]: a tagged snapshot survives any retention horizon until
    * [[dropTag]] releases it.
    */
  def tagVersion(spark: SparkSession, table: String, name: String,
                 version: Int): Unit = {
    require(name.matches(RefName), s"tag name must be $RefName, got '$name'")
    require(versions(spark, table).contains(version),
      s"$table has no committed version $version to tag")
    val tgt = new Path(table, s"$RefsDir/$name.txt")
    val won = createExclusive(fs(spark, table), tgt,
      (version.toString + "\n").getBytes("UTF-8"))
    require(won, s"$table already has a tag '$name' (tags are immutable; " +
      "dropTag first to re-point)")
  }

  /** All tags of the table: name → pinned version. A tag file that is
    * empty or unparsable (crash debris from a writer without the
    * [[createExclusive]] full-write + atomic-publish protocol, e.g. a
    * pre-r15 non-local writer that died between create and write) FAILS
    * LOUDLY with the offending path: the file may be the remains of a
    * PIN ATTEMPT, so silently skipping it would let [[vacuum]] delete
    * the very snapshot someone tried to protect — the operator must
    * [[dropTag]] the debris (or restore the pin) explicitly.
    */
  def tags(spark: SparkSession, table: String): Map[String, Int] = {
    val dir = new Path(table, RefsDir)
    val f = fs(spark, table)
    if (!f.exists(dir)) Map.empty
    else f.listStatus(dir).filter(_.isFile)
      .map(_.getPath).filter(_.getName.endsWith(".txt"))
      .map { p =>
        val v = readSmallFile(f, p).headOption.flatMap(_.trim.toIntOption)
          .getOrElse(sys.error(s"unparsable tag file $p (crash debris?): " +
            "dropTag it or restore its content before reading tags/vacuuming"))
        p.getName.stripSuffix(".txt") -> v
      }.toMap
  }

  /** Read the snapshot a tag pins. */
  def readTag(spark: SparkSession, table: String, name: String): DataFrame = {
    val v = tags(spark, table).getOrElse(name,
      throw new IllegalArgumentException(s"$table has no tag '$name'"))
    read(spark, table, Some(v))
  }

  /** Release a tag (its version becomes vacuumable again). */
  def dropTag(spark: SparkSession, table: String, name: String): Unit = {
    val f = fs(spark, table)
    require(f.delete(new Path(table, s"$RefsDir/$name.txt"), false),
      s"$table has no tag '$name'")
  }

  /** Reclaim space: drop all UNTAGGED main manifests BELOW `keepFrom`,
    * then delete every segment and data file no remaining manifest —
    * main OR branch — references (including orphans from crashed
    * commits). Returns the number of deleted data files. Time travel to
    * vacuumed versions is gone — that is the point — but a
    * [[tagVersion]]-pinned snapshot survives any horizon until its tag
    * is dropped (the reproducible-training-run contract), and every
    * BRANCH version is live by definition ([[dropBranch]] releases a
    * branch's claim). A dropped manifest also forgets its
    * [[commitAppendOnce]] token, so keep the retention horizon longer
    * than any source's replay horizon (a streaming checkpoint bounds
    * replays far tighter in practice).
    */
  /** What [[vacuum]] WOULD do, without doing it: the versions it would
    * drop, the segment files it would delete, and the data files (by
    * relative path) it would reclaim. The dry run an operator checks
    * before an irreversible horizon move — identical liveness logic to
    * the real vacuum (tags, consumer floors, branch pins, delete-key
    * files), spec-pinned to agree with it.
    */
  final case class VacuumPlan(dropVersions: Seq[Int], dropSegments: Seq[String],
                              dropFiles: Seq[String])

  def vacuumPlan(spark: SparkSession, table: String, keepFrom: Int): VacuumPlan = {
    val f = fs(spark, table)
    val main = mainChain(table)
    val pinned = tags(spark, table).values.toSet
    val consumerFloor = consumers(spark, table).values
      .minOption.getOrElse(Int.MaxValue)
    val (drop, keep) = chainVersions(spark, main)
      .partition(v => v < keepFrom && v < consumerFloor && !pinned.contains(v))
    require(keep.nonEmpty, s"vacuum would drop every version of $table")
    val live: Seq[(Chain, Int)] = keep.map((main, _)) ++
      branches(spark, table).flatMap { b =>
        val c = branchChain(table, b)
        chainVersions(spark, c).map((c, _))
      }
    val liveBody = live.flatMap { case (c, v) => bodyLines(spark, c, v) }
    val liveSegs = liveBody.collect {
      case l if l.startsWith(DelRef) => l.substring(l.indexOf(':') + 1)
      case l if l.startsWith(SegRef) => l.substring(SegRef.length)
    }.toSet
    val delKeyLines = liveBody.filter(_.startsWith(DelRef)).distinct
      .flatMap(l => segmentLines(spark, table, l.substring(l.indexOf(':') + 1)))
    val referenced = (expand(spark, table, liveBody.distinct) ++ delKeyLines)
      .map(parseEntry(_).path).toSet
    val segRoot = new Path(table, SegmentsDir)
    val dropSegs =
      if (!f.exists(segRoot)) Seq.empty
      else f.listStatus(segRoot).filter(_.isFile).map(_.getPath.getName)
        .filterNot(liveSegs.contains).sorted.toSeq
    val dataRoot = new Path(table, DataDir)
    val dropFiles =
      if (!f.exists(dataRoot)) Seq.empty
      else f.listStatus(dataRoot).filter(_.isDirectory).flatMap { d =>
        f.listStatus(d.getPath).filter(_.isFile).map(s =>
          s"$DataDir/${d.getPath.getName}/${s.getPath.getName}")
      }.filterNot(referenced.contains).sorted.toSeq
    VacuumPlan(drop, dropSegs, dropFiles)
  }

  /** Consistency check — the `fsck` a table operator runs after an
    * incident: verify every data file the head (or given) version
    * references exists with exactly its committed byte length. Returns
    * one row per PROBLEM file (path, status ∈ missing / size_mismatch,
    * expected_bytes, actual_bytes) — empty means the manifest and the
    * filesystem agree. Metadata-only (one FileStatus per referenced
    * file, no data read); delete-key files of pending MoR deletes are
    * checked too.
    */
  def fsck(spark: SparkSession, table: String,
           version: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val c = mainChain(table)
    val v = resolveChainVersion(spark, c, version)
    val f = fs(spark, table)
    val (groups, deletes) = morPartition(bodyLines(spark, c, v))
    val all = groups.flatMap(ls => expand(spark, c.table, ls).map(parseEntry)) ++
      deletes.flatMap { case (_, seg) =>
        segmentLines(spark, c.table, seg).map(parseEntry) }
    all.flatMap { e =>
      val p = new Path(table, e.path)
      if (!f.exists(p))
        Some((e.path, "missing", e.size, None: Option[Long]))
      else {
        val len = f.getFileStatus(p).getLen
        if (e.size.exists(_ != len))
          Some((e.path, "size_mismatch", e.size, Some(len)))
        else None
      }
    }.toDF("path", "status", "expected_bytes", "actual_bytes")
  }

  /** Time-based retention — the `expireSnapshots(olderThan)` every
    * format ships as the routine maintenance call: resolve the numeric
    * horizon from committed timestamps (the first version stamped
    * AFTER the cutoff, or the head when every version predates it) and
    * [[vacuum]] below it. All of vacuum's pins hold — tags, consumer
    * floors, branch versions survive any cutoff. Versions without a
    * commit timestamp (pre-feature history) are conservatively KEPT:
    * an undatable snapshot is never silently expired. Returns deleted
    * data-file count.
    */
  def expireSnapshots(spark: SparkSession, table: String,
                      olderThanMillis: Long): Int = {
    val c = mainChain(table)
    val vs = chainVersions(spark, c)
    require(vs.nonEmpty, s"$table has no committed versions")
    val keepFrom = vs.find(v =>
      chainCommitTime(spark, c, v).forall(_ > olderThanMillis))
      .getOrElse(vs.last)
    vacuum(spark, table, keepFrom)
  }

  def vacuum(spark: SparkSession, table: String, keepFrom: Int): Int = {
    val f = fs(spark, table)
    val main = mainChain(table)
    val pinned = tags(spark, table).values.toSet
    // a registered consumer's next tick reads the delta FROM its
    // committed offset, so its offset version (and everything after)
    // must survive any numeric horizon — the changelog analogue of the
    // tag pin; dropConsumer releases the floor
    val consumerFloor = consumers(spark, table).values
      .minOption.getOrElse(Int.MaxValue)
    val (drop, keep) = chainVersions(spark, main)
      .partition(v => v < keepFrom && v < consumerFloor && !pinned.contains(v))
    require(keep.nonEmpty, s"vacuum would drop every version of $table")
    // live version files: kept main versions + every version of every
    // branch (branches are writeable refs — their snapshots are pinned
    // until dropBranch)
    val live: Seq[(Chain, Int)] = keep.map((main, _)) ++
      branches(spark, table).flatMap { b =>
        val c = branchChain(table, b)
        chainVersions(spark, c).map((c, _))
      }
    val liveBody = live.flatMap { case (c, v) => bodyLines(spark, c, v) }
    // DelRef shares SegRef's '@' prefix — match it first; enc() escapes
    // any ':' inside a key column name, so the first ':' is the split
    val liveSegs = liveBody.collect {
      case l if l.startsWith(DelRef) => l.substring(l.indexOf(':') + 1)
      case l if l.startsWith(SegRef) => l.substring(SegRef.length)
    }.toSet
    // referenced files: every live data line + every live delete-key file
    val delKeyLines = liveBody.filter(_.startsWith(DelRef)).distinct
      .flatMap(l => segmentLines(spark, table, l.substring(l.indexOf(':') + 1)))
    val referenced = (expand(spark, table, liveBody.distinct) ++ delKeyLines)
      .map(parseEntry(_).path).toSet
    // raise the vacuum floor BEFORE any manifest deletion: a concurrent
    // head-hint reader either sees the new floor (and distrusts
    // sub-floor hints — conservative) or still finds every manifest
    raiseVacuumFloor(spark, main, keepFrom)
    drop.foreach(v => f.delete(main.manifestPath(v), false))
    // unreferenced segments: dropped versions' exclusive segments and
    // crashed commits' orphans
    val segRoot = new Path(table, SegmentsDir)
    if (f.exists(segRoot)) {
      f.listStatus(segRoot).filter(_.isFile).foreach { s =>
        if (!liveSegs.contains(s.getPath.getName)) f.delete(s.getPath, false)
      }
    }
    val dataRoot = new Path(table, DataDir)
    if (!f.exists(dataRoot)) return 0
    var deleted = 0
    f.listStatus(dataRoot).filter(_.isDirectory).foreach { d =>
      val dirRel = s"$DataDir/${d.getPath.getName}"
      val liveFiles = f.listStatus(d.getPath).filter(_.isFile).filter { s =>
        val rel = s"$dirRel/${s.getPath.getName}"
        if (referenced.contains(rel)) true
        else { f.delete(s.getPath, false); deleted += 1; false }
      }
      if (liveFiles.isEmpty) f.delete(d.getPath, true) // now-empty commit dir
    }
    deleted
  }
}
