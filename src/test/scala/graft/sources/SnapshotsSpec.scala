package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkTestBase

class SnapshotsSpec extends SparkTestBase {
  import spark.implicits._

  private def freshTable(): String =
    java.nio.file.Files.createTempDirectory("graft_snap").toString + "/t"

  private def ids(table: String, v: Option[Int] = None): Set[Long] =
    Snapshots.read(spark, table, v).select("id").as[Long].collect().toSet

  test("commit / append / overwrite / time travel") {
    val t = freshTable()
    assert(Snapshots.versions(spark, t) === Seq.empty)

    val v1 = Snapshots.commitOverwrite(spark, t, Seq(1L, 2L).toDF("id"))
    val v2 = Snapshots.commitAppend(spark, t, Seq(3L).toDF("id"))
    val v3 = Snapshots.commitOverwrite(spark, t, Seq(9L).toDF("id"))
    assert((v1, v2, v3) === ((1, 2, 3)))
    assert(Snapshots.versions(spark, t) === Seq(1, 2, 3))

    assert(ids(t) === Set(9L))                 // latest
    assert(ids(t, Some(1)) === Set(1L, 2L))    // time travel
    assert(ids(t, Some(2)) === Set(1L, 2L, 3L))
    intercept[IllegalArgumentException] { Snapshots.read(spark, t, Some(7)) }
  }

  test("crashed commit (orphan data, no manifest) is invisible and vacuumable") {
    val t = freshTable()
    Snapshots.commitOverwrite(spark, t, Seq(1L).toDF("id"))
    // simulate a crash after staging, before publish: data dir exists,
    // no manifest references it
    Seq(2L).toDF("id").write
      .parquet(s"$t/data/orphan-crashed-commit")
    assert(ids(t) === Set(1L)) // reader resolves manifests only
    val deleted = Snapshots.vacuum(spark, t, keepFrom = 1)
    assert(deleted >= 1) // the orphan's part file(s) reclaimed
    assert(ids(t) === Set(1L)) // live data untouched
    assert(!new java.io.File(s"$t/data/orphan-crashed-commit").exists())
  }

  test("vacuum drops old versions' files but keeps every referenced file") {
    val t = freshTable()
    Snapshots.commitOverwrite(spark, t, Seq(1L).toDF("id"))
    Snapshots.commitAppend(spark, t, Seq(2L).toDF("id"))  // v2 references v1's files
    Snapshots.commitOverwrite(spark, t, Seq(3L).toDF("id"))
    // keep v2 and v3: v1's files survive because v2 still references them
    Snapshots.vacuum(spark, t, keepFrom = 2)
    assert(Snapshots.versions(spark, t) === Seq(2, 3))
    assert(ids(t, Some(2)) === Set(1L, 2L))
    assert(ids(t) === Set(3L))
    // now keep only v3: v1+v2 data goes
    val deleted = Snapshots.vacuum(spark, t, keepFrom = 3)
    assert(deleted >= 1)
    assert(Snapshots.versions(spark, t) === Seq(3))
    assert(ids(t) === Set(3L))
    intercept[IllegalArgumentException] { Snapshots.vacuum(spark, t, keepFrom = 99) }
  }

  test("compactCommit: fragmented table -> few files, same rows, old version intact") {
    val t = freshTable()
    // 16 tiny appends -> 16+ files
    Snapshots.commitOverwrite(spark, t, Seq(0L).toDF("id"))
    (1L until 16L).foreach(i => Snapshots.commitAppend(spark, t, Seq(i).toDF("id")))
    val before = Snapshots.read(spark, t).inputFiles.length
    assert(before >= 16)
    val v = Snapshots.compactCommit(spark, t, targetFileBytes = 1L << 30)
    assert(v === 17)
    assert(Snapshots.read(spark, t).inputFiles.length === 1)
    assert(ids(t) === (0L until 16L).toSet)
    // pre-compaction snapshot still readable with its original files
    assert(ids(t, Some(16)) === (0L until 16L).toSet)
    assert(Snapshots.read(spark, t, Some(16)).inputFiles.length === before)
  }

  test("concurrent committers serialize: all appends land exactly once") {
    // 8 racers: the atomicity claim is the link(2) publish — the
    // check-then-create formulation this replaced LOST appends here
    // under suite load
    val t = freshTable()
    Snapshots.commitOverwrite(spark, t, Seq(0L).toDF("id"))
    val threads = (1 to 8).map { i =>
      new Thread(() => {
        Snapshots.commitAppend(spark, t, Seq(i.toLong * 100).toDF("id"))
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(Snapshots.versions(spark, t) === (1 to 9))
    assert(ids(t) === (0 to 8).map(_ * 100L).toSet)
  }

  test("commitAppendOnce: replayed token is a no-op, fresh token lands") {
    val t = freshTable()
    assert(Snapshots.commitAppendOnce(spark, t, Seq(1L).toDF("id"), "b0") === Some(1))
    assert(Snapshots.commitAppendOnce(spark, t, Seq(2L).toDF("id"), "b1") === Some(2))
    // replay of b0 (crash after publish, retry before ack): NO-OP
    assert(Snapshots.commitAppendOnce(spark, t, Seq(1L).toDF("id"), "b0") === None)
    assert(ids(t) === Set(1L, 2L))
    assert(Snapshots.versions(spark, t) === Seq(1, 2))
    assert(Snapshots.committedTokens(spark, t) === Set("b0", "b1"))
    // tokens coexist with untokened commits
    Snapshots.commitAppend(spark, t, Seq(3L).toDF("id"))
    assert(ids(t) === Set(1L, 2L, 3L))
    assert(Snapshots.committedTokens(spark, t) === Set("b0", "b1"))
  }

  test("readChangesBetween: append-range delta, empty delta, overwrite rejected") {
    val t = freshTable()
    Snapshots.commitOverwrite(spark, t, Seq(1L).toDF("id"))      // v1
    Snapshots.commitAppend(spark, t, Seq(2L, 3L).toDF("id"))     // v2
    Snapshots.commitAppend(spark, t, Seq(4L).toDF("id"))         // v3
    def delta(from: Int, to: Int) =
      Snapshots.readChangesBetween(spark, t, from, Some(to))
        .select("id").as[Long].collect().toSet
    assert(delta(1, 3) === Set(2L, 3L, 4L))
    assert(delta(2, 3) === Set(4L))
    assert(delta(3, 3) === Set.empty) // same version: empty, right schema
    assert(Snapshots.readChangesBetween(spark, t, 3, Some(3)).columns === Array("id"))
    // an overwrite breaks the append-range contract and must be rejected
    Snapshots.commitOverwrite(spark, t, Seq(9L).toDF("id"))      // v4
    intercept[IllegalArgumentException] {
      Snapshots.readChangesBetween(spark, t, 1, Some(4))
    }
    // ...but ranges after the overwrite work again
    Snapshots.commitAppend(spark, t, Seq(10L).toDF("id"))        // v5
    assert(delta(4, 5) === Set(10L))
  }

  test("readPruned: manifest stats skip files at planning time, never rows") {
    val t = freshTable()
    // range-clustered staging: 4 files with disjoint id ranges
    val d = spark.range(0, 400).toDF("id")
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
    Snapshots.commitOverwrite(spark, t, d, statsCols = Seq("id"))
    val all = Snapshots.read(spark, t).inputFiles.length
    assert(all === 4)
    // a one-file range plans ONE file and returns exactly its rows
    val narrow = Snapshots.readPruned(spark, t, "id", 10, 20)
    assert(narrow.inputFiles.length === 1)
    assert(narrow.select("id").as[Long].collect().toSet === (10L to 20L).toSet)
    // a range outside every file plans zero files, right schema
    val empty = Snapshots.readPruned(spark, t, "id", 1000, 2000)
    assert(empty.count() === 0)
    assert(empty.columns === Array("id"))
    // the residual filter keeps correctness even when stats are absent:
    // a stats-less append is always planned AND row-filtered
    Snapshots.commitAppend(spark, t, Seq(15L, 9999L).toDF("id"))
    val mixed = Snapshots.readPruned(spark, t, "id", 10, 20)
    assert(mixed.select("id").as[Long].collect().sorted.toSeq ===
      ((10L to 20L) :+ 15L).sorted)
    // full-range pruned read ≡ plain read
    assert(Snapshots.readPruned(spark, t, "id", Long.MinValue, Long.MaxValue)
      .count() === 402)
  }

  test("compactCommitOrdered: interleaved appends -> skippable clustered layout") {
    val t = freshTable()
    // 4 appends with INTERLEAVED id ranges: every file spans ~the whole
    // domain, so pruning can skip nothing
    (0 until 4).foreach { j =>
      Snapshots.commitAppend(spark, t,
        spark.range(0, 400).toDF("id").filter(col("id") % 4 === j),
        statsCols = Seq("id"))
    }
    assert(Snapshots.readPruned(spark, t, "id", 10, 20).inputFiles.length >= 4)
    // OPTIMIZE: one version = compact + range-cluster + stats refresh
    val v = Snapshots.compactCommitOrdered(spark, t, 4096, "id")
    assert(v === 5)
    val pruned = Snapshots.readPruned(spark, t, "id", 10, 20)
    val total = Snapshots.read(spark, t).inputFiles.length
    assert(total >= 2) // size-targeted into multiple files
    assert(pruned.inputFiles.length < total) // band now skips files
    assert(pruned.select("id").as[Long].collect().toSet === (10L to 20L).toSet)
    // rows survive the rewrite exactly; pre-optimize version intact
    assert(Snapshots.read(spark, t).count() === 400)
    assert(Snapshots.read(spark, t, Some(4)).count() === 400)
  }

  test("append schema drift is rejected at commit time, not at read time") {
    val t = freshTable()
    Snapshots.commitOverwrite(spark, t, Seq(1L).toDF("id"))
    intercept[IllegalArgumentException] { // extra column
      Snapshots.commitAppend(spark, t, Seq((2L, "x")).toDF("id", "extra"))
    }
    intercept[IllegalArgumentException] { // type drift
      Snapshots.commitAppend(spark, t, Seq(2).toDF("id"))
    }
    intercept[IllegalArgumentException] { // tokened path too
      Snapshots.commitAppendOnce(spark, t, Seq(2).toDF("id"), "b0")
    }
    assert(ids(t) === Set(1L)) // nothing leaked into the table
    // an overwrite legitimately starts a new shape; appends then follow it
    Snapshots.commitOverwrite(spark, t, Seq((9L, "y")).toDF("id", "extra"))
    Snapshots.commitAppend(spark, t, Seq((10L, "z")).toDF("id", "extra"))
    assert(Snapshots.read(spark, t).count() === 2)
  }

  test("additive schema evolution: new nullable column appends, old files " +
       "null-fill, time travel keeps each version's own shape") {
    val t = freshTable()
    Snapshots.commitOverwrite(spark, t, Seq(1L, 2L).toDF("id"))
    // evolve: append WITH a new trailing column
    Snapshots.commitAppend(spark, t, Seq((3L, "x")).toDF("id", "tag"),
      evolve = true)
    // post-evolution OLD-shape append: its rows null-fill the new column
    Snapshots.commitAppend(spark, t, Seq(4L).toDF("id"), evolve = true)
    val head = Snapshots.read(spark, t)
    assert(head.columns.toSeq == Seq("id", "tag"))
    val byId = head.select("id", "tag").as[(Long, Option[String])]
      .collect().toMap
    assert(byId == Map(1L -> None, 2L -> None, 3L -> Some("x"), 4L -> None))
    // time travel ACROSS the boundary: v1 reads under its own 2-col shape
    assert(Snapshots.read(spark, t, Some(1)).columns.toSeq == Seq("id"))
    assert(ids(t, Some(1)) == Set(1L, 2L))
    // the delta across the boundary reads under the TO version's schema
    val delta = Snapshots.readChangesBetween(spark, t, 1, Some(3))
    assert(delta.columns.toSeq == Seq("id", "tag"))
    assert(delta.select("id").as[Long].collect().toSet == Set(3L, 4L))
  }

  test("schema evolution rejects non-additive drift even with evolve = true") {
    val t = freshTable()
    Snapshots.commitOverwrite(spark, t, Seq((1L, "a")).toDF("id", "tag"))
    intercept[IllegalArgumentException] { // type change
      Snapshots.commitAppend(spark, t, Seq((2, "b")).toDF("id", "tag"),
        evolve = true)
    }
    intercept[IllegalArgumentException] { // rename
      Snapshots.commitAppend(spark, t, Seq((2L, "b")).toDF("id", "label"),
        evolve = true)
    }
    intercept[IllegalArgumentException] { // reorder
      Snapshots.commitAppend(spark, t, Seq(("b", 2L)).toDF("tag", "id"),
        evolve = true)
    }
    intercept[IllegalArgumentException] { // dropping a MIDDLE column
      Snapshots.commitAppend(spark, t,
        Seq((2L, 9L)).toDF("id", "extra"), evolve = true)
    }
    // nothing leaked
    assert(Snapshots.versions(spark, t) == Seq(1))
    // the tokened path evolves too
    assert(Snapshots.commitAppendOnce(spark, t,
      Seq((2L, "b", 9L)).toDF("id", "tag", "n"), "b0", evolve = true)
      .contains(2))
    assert(Snapshots.read(spark, t).columns.toSeq == Seq("id", "tag", "n"))
  }

  test("multi-column typed stats: conjunctive pruning over long, string " +
       "and date, stats-less files conservative, kind mismatch rejected") {
    val t = freshTable()
    val d = spark.range(0, 400).toDF("id")
      .withColumn("name", concat(lit("k"), lpad(col("id").cast("string"), 3, "0")))
      .withColumn("day", date_add(lit(java.sql.Date.valueOf("2026-01-01")),
        (col("id") / 10).cast("int")))
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
    Snapshots.commitOverwrite(spark, t, d,
      statsCols = Seq("id", "name", "day"))
    assert(Snapshots.read(spark, t).inputFiles.length == 4)
    import Snapshots.{DateRange, LongRange, StringRange}
    // id clusters align all three dimensions: a one-file id band prunes
    // identically through any of the three typed ranges
    assert(Snapshots.plannedFiles(spark, t,
      Seq(LongRange("id", 10, 20))).length == 1)
    assert(Snapshots.plannedFiles(spark, t,
      Seq(StringRange("name", "k010", "k020"))).length == 1)
    assert(Snapshots.plannedFiles(spark, t,
      Seq(DateRange("day", java.time.LocalDate.parse("2026-01-02"),
        java.time.LocalDate.parse("2026-01-03")))).length == 1)
    // the conjunction intersects: disjoint single-file bands -> 0 files
    assert(Snapshots.plannedFiles(spark, t, Seq(
      LongRange("id", 10, 20), StringRange("name", "k350", "k360"))).isEmpty)
    // rows come back exactly, residual predicates applied
    val got = Snapshots.readPrunedWhere(spark, t, Seq(
      LongRange("id", 10, 20), StringRange("name", "k000", "k015")))
      .select("id").as[Long].collect().toSet
    assert(got == (10L to 15L).toSet)
    // a stats-less append is planned by EVERY pruned read (conservative)
    Snapshots.commitAppend(spark, t, Seq((9999L, "k999",
      java.sql.Date.valueOf("2027-01-01"))).toDF("id", "name", "day"))
    assert(Snapshots.plannedFiles(spark, t,
      Seq(LongRange("id", 10, 20))).length == 2)
    assert(Snapshots.readPrunedWhere(spark, t, Seq(LongRange("id", 10, 20)))
      .count() == 11) // ...but its rows are filtered out
    // asking a string range of a long-stats column is a caller bug
    intercept[IllegalArgumentException] {
      Snapshots.plannedFiles(spark, t, Seq(StringRange("id", "a", "b")))
    }
    // unsupported stats column type rejected at commit time
    intercept[IllegalArgumentException] {
      Snapshots.commitOverwrite(spark, freshTable(),
        Seq(0.5).toDF("x"), statsCols = Seq("x"))
    }
  }

  test("gdpr erase: tombstone -> purge -> vacuum; the bytes leave the table") {
    val t = freshTable()
    // a merge-on-read history: base + an update batch touching key 2
    Snapshots.commitOverwrite(spark, t,
      Seq((1L, "a", 0L, "u"), (2L, "b", 0L, "u"), (3L, "c", 0L, "u"))
        .toDF("id", "v", "seq", "op"))
    Snapshots.commitAppend(spark, t,
      Seq((2L, "b2", 1L, "u"), (3L, "c2", 1L, "u")).toDF("id", "v", "seq", "op"))
    // 1. logical delete: tombstone for key 2 through the MoR lane
    Snapshots.commitAppend(spark, t,
      Seq((2L, null.asInstanceOf[String], 2L, "d")).toDF("id", "v", "seq", "op"))
    // 2. physical purge: every row of key 2 — base, update, tombstone
    val pv = Snapshots.erasePurgeCommit(spark, t, "id", Seq(2L).toDF("key"))
    assert(Snapshots.read(spark, t, Some(pv))
      .filter(col("id") === 2L).count() == 0)
    // pre-purge versions still hold the key (time travel not yet vacuumed)
    assert(Snapshots.read(spark, t, Some(3)).filter(col("id") === 2L).count() == 3)
    // 3. vacuum to the purge version: pre-purge manifests AND bytes gone
    Snapshots.vacuum(spark, t, keepFrom = pv)
    assert(Snapshots.versions(spark, t) == Seq(pv))
    // the PROOF: scan every surviving data file directly — no file
    // anywhere under the table root contains the erased key
    val dataRoot = java.nio.file.Paths.get(t, "data")
    val files = java.nio.file.Files.walk(dataRoot).iterator()
    var survivors = List.empty[String]
    files.forEachRemaining(p =>
      if (p.toString.endsWith(".parquet")) survivors ::= p.toString)
    assert(survivors.nonEmpty)
    val raw = spark.read.parquet(survivors: _*)
    assert(raw.filter(col("id") === 2L).count() == 0)
    // the surviving history still merges: keys 1 and 3 intact
    assert(raw.select("id").distinct().as[Long].collect().toSet == Set(1L, 3L))
  }

  test("erase purge edge cases: absent key, NULL key, bad request shape") {
    val t = freshTable()
    Snapshots.commitOverwrite(spark, t, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val pv = Snapshots.erasePurgeCommit(spark, t, "id", Seq(1L).toDF("key"))
    assert(Snapshots.read(spark, t, Some(pv)).select("id").as[Long]
      .collect().toSet == Set(2L))
    // erasing a key that is absent is a clean no-op rewrite, not an error
    val pv2 = Snapshots.erasePurgeCommit(spark, t, "id", Seq(99L).toDF("key"))
    assert(Snapshots.read(spark, t, Some(pv2)).count() == 1)
    // NULL keys in the request never match (erasure keys are real ids)
    val pv3 = Snapshots.erasePurgeCommit(spark, t, "id",
      Seq[java.lang.Long](null).toDF("key"))
    assert(Snapshots.read(spark, t, Some(pv3)).count() == 1)
    // multi-column request lists are a caller bug
    intercept[IllegalArgumentException] {
      Snapshots.erasePurgeCommit(spark, t, "id", Seq((1L, 2L)).toDF("a", "b"))
    }
  }

  test("tokened appends can record stats: pruned reads skip their files too") {
    val t = freshTable()
    def batch(lo: Long): org.apache.spark.sql.DataFrame =
      spark.range(lo, lo + 100).toDF("id")
        .repartitionByRange(1, col("id")).sortWithinPartitions("id")
    assert(Snapshots.commitAppendOnce(spark, t, batch(0), "b0",
      statsCols = Seq("id")).contains(1))
    assert(Snapshots.commitAppendOnce(spark, t, batch(100), "b1",
      statsCols = Seq("id")).contains(2))
    // the second batch's file is skipped for a first-batch band
    val pruned = Snapshots.readPruned(spark, t, "id", 10, 20)
    assert(pruned.inputFiles.length == 1)
    assert(pruned.count() == 11)
  }

  test("string stats truncate like parquet bounds: bounded manifest " +
       "cells, pruning stays correct on long strings") {
    val t = freshTable()
    // two files with LONG disjoint string ranges ('a'*100.. vs 'z'*100..)
    val d = spark.range(0, 200).toDF("id")
      .withColumn("txt", concat(
        when(col("id") < 100, lit("a")).otherwise(lit("z")),
        lpad(col("id").cast("string"), 5, "0"),
        lit("x").cast("string"),
        expr("repeat('y', 200)")))
      .repartitionByRange(2, col("id")).sortWithinPartitions("id")
    Snapshots.commitOverwrite(spark, t, d, statsCols = Seq("txt"))
    // segment data lines stay bounded even though values are 200+ chars
    // (the version file holds only @segment references)
    val segDir = java.nio.file.Paths.get(t, "_segments")
    val segLines = java.nio.file.Files.list(segDir).iterator()
    var dataLines = List.empty[String]
    // Hadoop's local FS writes hidden .crc siblings; read segments only
    segLines.forEachRemaining(p =>
      if (p.getFileName.toString.matches("s-.*\\.txt"))
        java.nio.file.Files.readString(p).linesIterator
          .filter(_.nonEmpty).foreach(l => dataLines ::= l))
    assert(dataLines.nonEmpty)
    assert(dataLines.forall(_.length < 400), "manifest cells must be truncated")
    import Snapshots.StringRange
    // a band inside the 'a' file's TRUE range (beyond the truncation
    // horizon) must still plan that file and return exact rows — the
    // bumped upper bound may not exclude anything it stands for
    val got = Snapshots.readPrunedWhere(spark, t,
      Seq(StringRange("txt", "a00010", "a00019" + "y" * 300)))
    assert(got.count() == 10)
    // ...and the 'z' file is genuinely skipped for it
    assert(Snapshots.plannedFiles(spark, t,
      Seq(StringRange("txt", "a", "b"))).length == 1)
  }

  test("tags: immutable named pins that survive vacuum until dropped") {
    val t = freshTable()
    Snapshots.commitOverwrite(spark, t, Seq(1L).toDF("id"))   // v1
    Snapshots.commitOverwrite(spark, t, Seq(2L).toDF("id"))   // v2
    Snapshots.commitOverwrite(spark, t, Seq(3L).toDF("id"))   // v3
    Snapshots.tagVersion(spark, t, "run-1", 2)
    assert(Snapshots.tags(spark, t) == Map("run-1" -> 2))
    assert(Snapshots.readTag(spark, t, "run-1").select("id").as[Long]
      .head == 2L)
    // tags are create-once
    intercept[IllegalArgumentException] {
      Snapshots.tagVersion(spark, t, "run-1", 3)
    }
    intercept[IllegalArgumentException] { // must point at a real version
      Snapshots.tagVersion(spark, t, "run-2", 99)
    }
    // vacuum keeps the pinned v2 (and its bytes) while dropping v1
    Snapshots.vacuum(spark, t, keepFrom = 3)
    assert(Snapshots.versions(spark, t) == Seq(2, 3))
    assert(Snapshots.readTag(spark, t, "run-1").select("id").as[Long]
      .head == 2L) // the tagged snapshot still reads after vacuum
    intercept[IllegalArgumentException] { ids(t, Some(1)) } // v1 gone
    // dropping the tag releases the pin; the next vacuum reclaims it
    Snapshots.dropTag(spark, t, "run-1")
    Snapshots.vacuum(spark, t, keepFrom = 3)
    assert(Snapshots.versions(spark, t) == Seq(3))
    intercept[IllegalArgumentException] {
      Snapshots.readTag(spark, t, "run-1")
    }
  }

  test("concurrent evolve appends of the same new shape all land") {
    val t = freshTable()
    Snapshots.commitOverwrite(spark, t, Seq((0L, "base")).toDF("id", "v"))
    // 8 racers append the SAME evolved shape; publish retries must
    // re-derive the schema against whatever head each retry sees
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val threads = (1 to 8).map { i =>
      new Thread(() => {
        results.add(Snapshots.commitAppend(spark, t,
          Seq((i.toLong, s"r$i", i.toLong)).toDF("id", "v", "extra"),
          evolve = true))
        ()
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    assert(results.asScala.toList.sorted == (2 to 9).toList)
    val head = Snapshots.read(spark, t)
    assert(head.columns.toSeq == Seq("id", "v", "extra"))
    assert(head.count() == 9)
    // the base row null-fills the evolved column
    assert(head.filter(col("id") === 0L).select("extra").head.isNullAt(0))
  }

  test("diffSnapshots: insert/delete/update, unchanged silent, " +
       "evolution null-fill compares correctly") {
    val t = freshTable()
    Snapshots.commitOverwrite(spark, t,
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "v"))
    // v2 evolves the shape: key 1 unchanged (new col null on both
    // sides), key 2 updated in the OLD column, key 3 updated ONLY in
    // the NEW column, key 4 deleted, key 5 inserted
    Snapshots.commitOverwrite(spark, t,
      Seq[(Long, String, String)]((1L, "a", null), (2L, "B", null),
        (3L, "c", "x"), (5L, "e", null)).toDF("id", "v", "w"))
    val got = Snapshots.diffSnapshots(spark, t, 1, 2, Seq("id"))
      .as[(Long, String)].collect().toMap
    assert(got == Map(2L -> "update", 3L -> "update",
      4L -> "delete", 5L -> "insert"))
    // a key column missing from one side is a caller error
    intercept[IllegalArgumentException] {
      Snapshots.diffSnapshots(spark, t, 1, 2, Seq("nope"))
    }
  }

  test("commit metadata is O(delta): version files hold one segment " +
       "reference per commit, never the file list") {
    val t = freshTable()
    Snapshots.commitOverwrite(spark, t,
      spark.range(0, 64).toDF("id").repartition(8))
    (1 to 5).foreach(i => Snapshots.commitAppend(spark, t,
      spark.range(100L * i, 100L * i + 64).toDF("id").repartition(8)))
    // v6 references 6 commits' worth of files (48+), but its version
    // file body is exactly 6 one-line segment references — an append
    // never copies the table's file list
    assert(Snapshots.read(spark, t).inputFiles.length >= 48)
    def body(v: Int): Seq[String] = java.nio.file.Files.readString(
      java.nio.file.Paths.get(t, "_manifests", f"v$v%08d.txt"))
      .linesIterator.filter(l => l.nonEmpty && !l.startsWith("#")).toSeq
    assert(body(6).length == 6)
    assert(body(6).forall(_.startsWith("@")))
    // append bases are shared: v5's body is a strict prefix of v6's
    assert(body(6).take(5) == body(5))
    // compaction folds the chain back to one segment
    Snapshots.compactCommit(spark, t, targetFileBytes = 1L << 30)
    assert(body(7).length == 1)
    // vacuum reclaims the dropped versions' now-unreferenced segments
    Snapshots.vacuum(spark, t, keepFrom = 7)
    val segs = java.nio.file.Files.list(
      java.nio.file.Paths.get(t, "_segments")).iterator()
    var names = List.empty[String]
    segs.forEachRemaining(p => names ::= p.getFileName.toString)
    val live = names.count(_.matches("s-.*\\.txt")) // .crc siblings aside
    assert(live == 1, s"expected 1 live segment after vacuum, got $live")
    assert(Snapshots.read(spark, t).count() == 6 * 64)
  }

  test("readChangesBetween expands only the delta's segments") {
    val t = freshTable()
    Snapshots.commitOverwrite(spark, t, spark.range(0, 10).toDF("id"))
    Snapshots.commitAppend(spark, t, spark.range(100, 110).toDF("id"))
    Snapshots.commitAppend(spark, t, spark.range(200, 210).toDF("id"))
    // delete the BASE version's segment bytes out from under the table:
    // an O(delta) incremental read of v2..v3 must never open it
    val v2Body = java.nio.file.Files.readString(
      java.nio.file.Paths.get(t, "_manifests", "v00000002.txt"))
      .linesIterator.filter(l => l.nonEmpty && !l.startsWith("#")).toSeq
    v2Body.foreach { ref =>
      java.nio.file.Files.move(
        java.nio.file.Paths.get(t, "_segments", ref.drop(1)),
        java.nio.file.Paths.get(t, "_segments", ref.drop(1) + ".hidden"))
    }
    val delta = Snapshots.readChangesBetween(spark, t, 2)
      .select("id").as[Long].collect().toSet
    assert(delta == (200L until 210L).toSet)
    // restore for hygiene (vacuum etc. would want them back)
    v2Body.foreach { ref =>
      java.nio.file.Files.move(
        java.nio.file.Paths.get(t, "_segments", ref.drop(1) + ".hidden"),
        java.nio.file.Paths.get(t, "_segments", ref.drop(1)))
    }
  }

  test("pre-r15 manifest lines (no sz cell) fall back to the stock " +
       "reader; sized lines plan with zero FileStatus calls") {
    val t = freshTable()
    Snapshots.commitOverwrite(spark, t,
      spark.range(0, 100).toDF("id").repartition(2), statsCols = Seq("id"))
    // every committed line carries its byte length
    val es = Snapshots.entries(spark, t)
    assert(es.nonEmpty && es.forall(_.size.isDefined))
    assert(ids(t) == (0L until 100L).toSet)
    // strip the sz cells out of the segment files — the pre-r15 format —
    // and confirm the read falls back to the stock reader, same rows
    val segDir = java.nio.file.Paths.get(t, "_segments")
    java.nio.file.Files.list(segDir).iterator().forEachRemaining { p =>
      if (p.getFileName.toString.matches("s-.*\\.txt")) {
        val stripped = java.nio.file.Files.readString(p).linesIterator
          .map(_.split('\t').filterNot(_.startsWith("sz=")).mkString("\t"))
          .mkString("", "\n", "\n")
        java.nio.file.Files.writeString(p, stripped)
        // hadoop local fs checksums would now mismatch; drop them
        val crc = p.getParent.resolve("." + p.getFileName.toString + ".crc")
        java.nio.file.Files.deleteIfExists(crc)
      }
    }
    assert(Snapshots.entries(spark, t).forall(_.size.isEmpty))
    assert(ids(t) == (0L until 100L).toSet)
    // ...and stats pruning still works on the legacy lines
    assert(Snapshots.readPruned(spark, t, "id", 10, 20).count() == 11)
  }

  test("snapshot reads carry accurate size statistics: a small snapshot " +
       "auto-broadcasts in a join") {
    val t = freshTable()
    Snapshots.commitOverwrite(spark, t,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val big = spark.range(0, 100000).toDF("k")
    val joined = big.join(Snapshots.read(spark, t), "k")
    // the manifest-backed FileIndex reports sizeInBytes from committed
    // lengths, so the planner sees the true (tiny) size and picks a
    // broadcast join without hints
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected an auto-broadcast join, got:\n$plan")
    assert(joined.count() == 2)
  }

  test("erasePurgeCommit with key stats rewrites only overlapping files " +
       "and carries the rest by reference") {
    val t = freshTable()
    // 8 range-clustered files with disjoint id bands of 100
    Snapshots.commitOverwrite(spark, t,
      spark.range(0, 800).toDF("id").withColumn("v", col("id") * 10)
        .repartitionByRange(8, col("id")).sortWithinPartitions("id"),
      statsCols = Seq("id"))
    val headFiles = Snapshots.read(spark, t).inputFiles.toSet
    assert(headFiles.size == 8)
    // keys live in exactly 2 of the 8 bands
    val keys = Seq(150L, 160L, 450L).toDF("key")
    val plan = Snapshots.erasePlan(spark, t, "id", keys)
    assert(plan.rewrite.size == 2 && plan.carry.size == 6)
    val pv = Snapshots.erasePurgeCommit(spark, t, "id", keys,
      statsCols = Seq("id"))
    // 6 of the head's files carried into the purge version BY REFERENCE
    val purgedFiles = Snapshots.read(spark, t, Some(pv)).inputFiles.toSet
    assert(purgedFiles.intersect(headFiles).size == 6)
    // rows exact, keys gone
    val got = Snapshots.read(spark, t, Some(pv))
    assert(got.count() == 797)
    assert(got.filter(col("id").isin(150L, 160L, 450L)).count() == 0)
    // carried files keep usable stats: pruning still plans sharply
    assert(Snapshots.plannedFiles(spark, t,
      Seq(Snapshots.LongRange("id", 700, 750)), Some(pv)).length == 1)
    // ...and the purge-proof contract holds for the REWRITTEN band:
    // after vacuum no surviving file contains the keys
    Snapshots.vacuum(spark, t, keepFrom = pv)
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(t, "data"))
      .iterator()
    var survivors = List.empty[String]
    files.forEachRemaining(p =>
      if (p.toString.endsWith(".parquet")) survivors ::= p.toString)
    assert(spark.read.parquet(survivors: _*)
      .filter(col("id").isin(150L, 160L, 450L)).count() == 0)
  }

  test("deleteWhereCommit: retention delete rewrites only the expired " +
       "band; stats-less tables degrade to a full rewrite") {
    val t = freshTable()
    Snapshots.commitOverwrite(spark, t,
      spark.range(0, 800).toDF("id").withColumn("tier", lit("raw"))
        .repartitionByRange(8, col("id")).sortWithinPartitions("id"),
      statsCols = Seq("id"))
    val plan = Snapshots.deletePlan(spark, t, Seq(Snapshots.LongRange("id", 0, 149)))
    assert(plan.rewrite.size == 2 && plan.carry.size == 6)
    val v = Snapshots.deleteWhereCommit(spark, t,
      Seq(Snapshots.LongRange("id", 0, 149)), statsCols = Seq("id"))
    val got = Snapshots.read(spark, t, Some(v)).select("id").as[Long].collect()
    assert(got.length == 650 && got.min == 150L)
    // a boundary-straddling range rewrites both touched files, others carried
    val plan2 = Snapshots.deletePlan(spark, t,
      Seq(Snapshots.LongRange("id", 250, 349)), Some(v))
    assert(plan2.rewrite.size == 2)
    // stats-less table: every file conservatively rewritten
    val t2 = freshTable()
    Snapshots.commitOverwrite(spark, t2,
      spark.range(0, 100).toDF("id").repartition(4))
    val plan3 = Snapshots.deletePlan(spark, t2, Seq(Snapshots.LongRange("id", 0, 10)))
    assert(plan3.carry.isEmpty)
    val v2 = Snapshots.deleteWhereCommit(spark, t2, Seq(Snapshots.LongRange("id", 0, 10)))
    assert(Snapshots.read(spark, t2, Some(v2)).count() == 89)
  }

  test("mergeIntoCommit: keyed upsert rewrites only the touched files, " +
       "carries the rest by reference, inserts land in the new segment") {
    val t = freshTable()
    // 8 range-clustered files with disjoint id bands of 100
    Snapshots.commitOverwrite(spark, t,
      spark.range(0, 800).toDF("id").withColumn("v", col("id") * 10)
        .repartitionByRange(8, col("id")).sortWithinPartitions("id"),
      statsCols = Seq("id"))
    val headFiles = Snapshots.read(spark, t).inputFiles.toSet
    assert(headFiles.size == 8)
    // batch: updates in band 1, a delete in band 4, inserts beyond all
    // bands — the insert keys widen the global band but the executor
    // touch probe still narrows the rewrite to the 2 matched files
    val source = Seq(
      (150L, -1L, 1L, "u"), (160L, -2L, 1L, "u"), // updates, band 1
      (450L, 0L, 1L, "d"),                        // delete, band 4
      (10000L, -3L, 1L, "u"), (10001L, -4L, 1L, "u") // inserts, no band
    ).toDF("id", "v", "seq", "op")
    val plan = Snapshots.mergeTouchPlan(spark, t, "id", source.select("id"))
    assert(plan.rewrite.size == 2 && plan.carry.size == 6)
    val mv = Snapshots.mergeIntoCommit(spark, t, "id", source,
      seqCol = Some("seq"), opCol = Some("op"), statsCols = Seq("id"))
    // 6 of the head's files carried into the merge version BY REFERENCE
    val mergedFiles = Snapshots.read(spark, t, Some(mv)).inputFiles.toSet
    assert(mergedFiles.intersect(headFiles).size == 6)
    val got = Snapshots.read(spark, t, Some(mv))
    assert(got.count() == 801) // 800 - 1 delete + 2 inserts
    assert(got.filter(col("id") === 450L).count() == 0)
    assert(got.filter(col("id").isin(150L, 160L)).select("v").as[Long]
      .collect().toSet == Set(-1L, -2L))
    assert(got.filter(col("id") >= 10000L).select("v").as[Long]
      .collect().toSet == Set(-3L, -4L))
    // untouched rows byte-identical semantics + carried stats still prune
    assert(got.filter(col("id") === 700L).select("v").as[Long].head() == 7000L)
    // carried files keep usable stats: a band-0 read plans exactly the
    // carried band-0 file (the merged segment's stats start at 100)
    assert(Snapshots.plannedFiles(spark, t,
      Seq(Snapshots.LongRange("id", 0, 50)), Some(mv)).length == 1)
    // pre-merge head still readable (time travel across the merge)
    assert(Snapshots.read(spark, t, Some(1)).count() == 800)
  }

  test("mergeIntoCommit law: result equals Merge.applyChanges, with " +
       "latest-wins collapse of competing source rows") {
    val t = freshTable()
    val target = spark.range(0, 300).toDF("id")
      .withColumn("lang", concat(lit("l"), col("id") % 5))
      .withColumn("n", col("id") * 3)
    Snapshots.commitOverwrite(spark, t,
      target.repartitionByRange(4, col("id")).sortWithinPartitions("id"),
      statsCols = Seq("id"))
    // three competing updates per %7 key (seq 3 wins), deletes for %5,
    // inserts at +1000 for %11 — the cdc fixture shape
    val changes = target.filter(col("id") % 7 === 0)
      .withColumn("s", explode(array(lit(1L), lit(2L), lit(3L))))
      .select(col("id"), concat(lit("u"), col("s")).as("lang"),
        (col("n") + col("s")).as("n"), col("s").as("seq"), lit("u").as("op"))
      .unionByName(target.filter(col("id") % 5 === 0)
        .select(col("id"), col("lang"), col("n"), lit(4L).as("seq"),
          lit("d").as("op")))
      .unionByName(target.filter(col("id") % 11 === 0)
        .select((col("id") + 1000L).as("id"), lit("new").as("lang"),
          col("n"), lit(1L).as("seq"), lit("u").as("op")))
    val mv = Snapshots.mergeIntoCommit(spark, t, "id", changes,
      seqCol = Some("seq"), opCol = Some("op"), statsCols = Seq("id"))
    val expected = graft.operators.Merge
      .applyChanges(target, changes, Seq("id"), "seq", "op")
      .select("id", "lang", "n").as[(Long, String, Long)].collect().toSet
    val got = Snapshots.read(spark, t, Some(mv))
      .select("id", "lang", "n").as[(Long, String, Long)].collect().toSet
    assert(got == expected)
  }

  test("mergeIntoCommit contracts: duplicate keys without seqCol fail " +
       "in-flow; a mis-shaped source fails loudly; null keys insert") {
    val t = freshTable()
    Snapshots.commitOverwrite(spark, t, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    // duplicate keys, no seqCol: the commit must fail, not double-insert
    val dup = Seq((5L, "x"), (5L, "y")).toDF("id", "v")
    val e = intercept[Exception] {
      Snapshots.mergeIntoCommit(spark, t, "id", dup)
    }
    assert(e.getMessage.contains("duplicate") ||
      Option(e.getCause).exists(_.getMessage.contains("duplicate")))
    assert(Snapshots.versions(spark, t) == Seq(1)) // nothing committed
    // extra source column: rejected by name, not silently dropped
    intercept[IllegalArgumentException] {
      Snapshots.mergeIntoCommit(spark, t, "id",
        Seq((5L, "x", 1L)).toDF("id", "v", "typo"))
    }
    // plain upsert without seq/op: update + insert; NULL key inserts
    // (matches no target row — SQL equality)
    val src = Seq((java.lang.Long.valueOf(2L), "B"),
      (java.lang.Long.valueOf(9L), "i"), (null.asInstanceOf[java.lang.Long], "n"))
      .toDF("id", "v")
    val mv = Snapshots.mergeIntoCommit(spark, t, "id", src)
    val got = Snapshots.read(spark, t, Some(mv))
    assert(got.count() == 4)
    assert(got.filter(col("id") === 2L).select("v").as[String].head() == "B")
    assert(got.filter(col("id").isNull).select("v").as[String].head() == "n")
  }

  test("bucket occupancy stats: equality pruning on a hash-distributed " +
       "key where min/max stats are useless") {
    val t = freshTable()
    // bucket-clustered layout: each of 16 files holds 1+ full hash
    // buckets; ids inside a file span nearly the whole [0, 8000) domain,
    // so (min, max) alone can prune almost nothing
    val df = spark.range(0, 8000).toDF("id").withColumn("v", col("id") * 7)
      .repartition(16, pmod(xxhash64(col("id")), lit(16L)))
    Snapshots.commitOverwrite(spark, t, df,
      statsCols = Seq("id"), bucketCols = Map("id" -> 16))
    // bucket values collide across hash partitions, so <= 16 files; all
    // non-empty files carry a bucket cell
    val es = Snapshots.entries(spark, t)
    val bucketed = es.filter(_.buckets.contains("id"))
    assert(bucketed.size >= 8 && bucketed.size == es.count(_.stats.contains("id")))
    // min/max really is useless here: every file's band spans >90% of
    // the domain, so a 3-key erase would touch every file without the
    // bucket cells
    assert(bucketed.forall(e => {
      val cs = e.stats("id"); cs.hi.toLong - cs.lo.toLong > 7200
    }))
    val keys = Seq(5L, 9L, 4242L).toDF("k")
    val plan = Snapshots.erasePlan(spark, t, "id", keys)
    assert(plan.rewrite.size <= 3 && plan.carry.size >= es.size - 3)
    // point lookup plans through the same cells: <= 3 of 16 files open
    val got = Snapshots.readPrunedByKey(spark, t, "id", Seq(5L, 9L, 4242L))
    assert(got.inputFiles.length <= 3)
    assert(got.select("id").as[Long].collect().toSet == Set(5L, 9L, 4242L))
    // the purge carries the unbucketed-key files BY REFERENCE with their
    // cells intact: a second plan on the purge head is still sharp
    val headFiles = Snapshots.read(spark, t).inputFiles.toSet
    val pv = Snapshots.erasePurgeCommit(spark, t, "id", keys)
    assert(Snapshots.read(spark, t, Some(pv)).inputFiles.toSet
      .intersect(headFiles).size >= headFiles.size - 3)
    assert(Snapshots.read(spark, t, Some(pv)).count() == 7997)
    val plan2 = Snapshots.erasePlan(spark, t, "id", Seq(77L).toDF("k"), Some(pv))
    assert(plan2.rewrite.size <= 2) // 77's original file + maybe the rewritten one
    // merge planning uses the cells too: a 2-key update batch rewrites
    // at most the 2 matched files, and the insert key forces none
    val src = Seq((5000L, -1L), (5001L, -2L), (90000L, -3L)).toDF("id", "v")
    val mplan = Snapshots.mergeTouchPlan(spark, t, "id", src.select("id"))
    assert(mplan.rewrite.size <= 2)
    val mv = Snapshots.mergeIntoCommit(spark, t, "id", src)
    val after = Snapshots.read(spark, t, Some(mv))
    assert(after.filter(col("id").isin(5000L, 5001L, 90000L))
      .select("v").as[Long].collect().toSet == Set(-1L, -2L, -3L))
    // a file spanning too many buckets records no cell: conservative
    val t2 = freshTable()
    Snapshots.commitOverwrite(spark, t2,
      spark.range(0, 1000).toDF("id").coalesce(1),
      bucketCols = Map("id" -> 64))
    assert(Snapshots.entries(spark, t2).forall(_.buckets.isEmpty))
    assert(Snapshots.readPrunedByKey(spark, t2, "id", Seq(3L)).count() == 1)
  }

  test("pushed data filters prune files at PLANNING time through the " +
       "manifest stats — a plain .filter() needs no explicit pruned read") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
      val scan = df.queryExecution.executedPlan.collectLeaves().collectFirst {
        case f: FileSourceScanExec => f
      }.getOrElse(sys.error("no file scan in plan"))
      scan.metrics("numFiles").value
    }
    val t = freshTable()
    Snapshots.commitOverwrite(spark, t,
      spark.range(0, 800).toDF("id").withColumn("v", col("id") * 2)
        .repartitionByRange(8, col("id")).sortWithinPartitions("id"),
      statsCols = Seq("id"))
    // equality: one band file planned, correct row back
    val eq = Snapshots.read(spark, t).filter(col("id") === 150L)
    assert(eq.collect().map(_.getLong(0)).toSeq == Seq(150L))
    assert(scannedFiles(eq) == 1)
    // range: the tail band only (collect executes THIS df's plan — the
    // numFiles metric lives on it, while .count() builds its own)
    val rng = Snapshots.read(spark, t).filter(col("id") >= 700L)
    assert(rng.collect().length == 100)
    assert(scannedFiles(rng) <= 2 && scannedFiles(rng) >= 1)
    // unfiltered: every file
    val all = Snapshots.read(spark, t)
    assert(all.collect().length == 800)
    assert(scannedFiles(all) == 8)
    // bucket cells answer equality on a hash-distributed key the same
    // way — automatically
    val tb = freshTable()
    Snapshots.commitOverwrite(spark, tb,
      spark.range(0, 4000).toDF("id")
        .repartition(16, pmod(xxhash64(col("id")), lit(16L))),
      statsCols = Seq("id"), bucketCols = Map("id" -> 16))
    val nFiles = Snapshots.entries(spark, tb).size
    val beq = Snapshots.read(spark, tb).filter(col("id").isin(5L, 99L))
    assert(beq.collect().map(_.getLong(0)).toSet == Set(5L, 99L))
    assert(scannedFiles(beq) <= 2 && nFiles >= 8)
  }

  test("null-count cells prune IS NULL / IS NOT NULL, and string stats " +
       "prune LIKE-prefix bands, at planning time") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
      val scan = df.queryExecution.executedPlan.collectLeaves().collectFirst {
        case f: FileSourceScanExec => f
      }.getOrElse(sys.error("no file scan in plan"))
      scan.metrics("numFiles").value
    }
    val t = freshTable()
    // 8 id-banded files; `s` is NULL for the low-id band (so low files
    // are ALL-null: no min/max cell at all, only the nulls cell) and a
    // zero-padded key above (string order == id order)
    Snapshots.commitOverwrite(spark, t,
      spark.range(0, 800).toDF("id")
        .withColumn("s", when(col("id") < 300, lit(null))
          .otherwise(format_string("k%04d", col("id"))))
        .repartitionByRange(8, col("id")).sortWithinPartitions("id"),
      statsCols = Seq("id", "s"))
    val es = Snapshots.entries(spark, t)
    assert(es.size == 8)
    assert(es.forall(_.nulls.contains("s"))) // nc recorded, 0 included
    assert(es.exists(e => e.nulls("s") == 0L))
    assert(es.exists(e => e.nulls("s") == e.rows.get && e.rows.get > 0))
    // IS NULL: only files overlapping the null band plan (nc=0 prunes)
    val isn = Snapshots.read(spark, t).filter(col("s").isNull)
    assert(isn.collect().length == 300)
    assert(scannedFiles(isn) <= 4)
    // IS NOT NULL: the all-null files prune (nc = rc) — the cell that
    // matters because those files record NO min/max for `s` at all
    val nn = Snapshots.read(spark, t).filter(col("s").isNotNull)
    assert(nn.collect().length == 500)
    assert(scannedFiles(nn) <= 6)
    // LIKE-prefix: the [k0700, k0800) band lives in 1-2 tail files
    val sw = Snapshots.read(spark, t).filter(col("s").startsWith("k07"))
    assert(sw.collect().length == 100)
    assert(scannedFiles(sw) <= 2)
    // conservative on a prefix above every value: zero files planned is
    // fine, rows must be zero either way
    assert(Snapshots.read(spark, t).filter(col("s").startsWith("zz"))
      .collect().isEmpty)
  }

  test("expireSnapshots: time-based retention from committed timestamps") {
    val t = freshTable()
    Snapshots.commitOverwrite(spark, t, Seq(1L).toDF("id"))
    Thread.sleep(25)
    val cut = System.currentTimeMillis()
    Thread.sleep(25)
    Snapshots.commitOverwrite(spark, t, Seq(2L).toDF("id"))
    Snapshots.commitAppend(spark, t, Seq(3L).toDF("id"))
    val deleted = Snapshots.expireSnapshots(spark, t, olderThanMillis = cut)
    assert(deleted >= 1) // v1's file reclaimed
    assert(Snapshots.versions(spark, t) == Seq(2, 3))
    assert(ids(t) == Set(2L, 3L))
    // a cutoff beyond every commit keeps the head (never drops everything)
    Snapshots.expireSnapshots(spark, t, System.currentTimeMillis() + 10000)
    assert(Snapshots.versions(spark, t) == Seq(3))
    assert(ids(t) == Set(2L, 3L))
  }

  test("changeFeed: ordered row-level changes across MoR deletes; " +
       "applying the feed reproduces the target snapshot (law)") {
    val t = freshTable()
    val base = spark.range(0, 100).toDF("id")
      .withColumn("lang", concat(lit("l"), col("id") % 3))
    Snapshots.commitOverwrite(spark, t, base)
    Snapshots.commitAppend(spark, t,
      Seq((200L, "new"), (201L, "new")).toDF("id", "lang"))
    Snapshots.eraseMoRCommit(spark, t, "id", Seq(7L, 200L).toDF("k"))
    Snapshots.commitAppend(spark, t, Seq((200L, "re")).toDF("id", "lang"))
    val feed = Snapshots.changeFeed(spark, t, 1)
    // 2 appends (u), 2 delete keys (d), 1 re-insert (u), in commit order
    assert(feed.filter(col("_op") === "u").count() == 3)
    assert(feed.filter(col("_op") === "d").select("id").as[Long]
      .collect().toSet == Set(7L, 200L))
    val dSeq = feed.filter(col("_op") === "d").select("_seq")
      .as[Int].head()
    val reSeq = feed.filter(col("_op") === "u" && col("lang") === "re")
      .select("_seq").as[Int].head()
    assert(dSeq < reSeq) // the re-insert sorts after the delete
    // THE LAW: applyChanges(v1, feed) == read(head), including the
    // delete-then-reinsert ordering
    val applied = graft.operators.Merge.applyChanges(
      Snapshots.read(spark, t, Some(1)), feed, Seq("id"), "_seq", "_op")
      .as[(Long, String)].collect().toSet
    val head = Snapshots.read(spark, t).as[(Long, String)].collect().toSet
    assert(applied == head)
    assert(head.contains((200L, "re")) && !head.exists(_._1 == 7L))
    // a pure-append range matches readChangesBetween with op='u'
    val f12 = Snapshots.changeFeed(spark, t, 1, Some(2))
    assert(f12.filter(col("_op") === "d").count() == 0)
    assert(f12.select("id").as[Long].collect().toSet ==
      Snapshots.readChangesBetween(spark, t, 1, Some(2))
        .select("id").as[Long].collect().toSet)
    // empty range: empty feed with the feed schema
    assert(Snapshots.changeFeed(spark, t, 4, Some(4)).columns.toSeq ==
      Seq("id", "lang", "_op", "_seq"))
    // an overwrite breaks append shape: loud
    Snapshots.commitOverwrite(spark, t, Seq(1L).toDF("id"))
    intercept[IllegalArgumentException] {
      Snapshots.changeFeed(spark, t, 1)
    }
  }

  test("vacuumPlan is an exact dry run of vacuum; fsck reports missing " +
       "and size-drifted files") {
    val t = freshTable()
    Snapshots.commitOverwrite(spark, t, Seq(1L).toDF("id"))
    Snapshots.commitOverwrite(spark, t, Seq(2L).toDF("id"))
    Snapshots.commitAppend(spark, t, Seq(3L).toDF("id"))
    // orphan from a crashed commit: reclaimable, invisible to reads
    Seq(9L).toDF("id").write.parquet(s"$t/data/orphan-dir")
    val plan = Snapshots.vacuumPlan(spark, t, keepFrom = 2)
    assert(plan.dropVersions == Seq(1))
    assert(plan.dropFiles.nonEmpty) // v1's file + the orphan
    // the dry run and the real vacuum agree exactly
    val survivorsBefore = java.nio.file.Files.walk(
      java.nio.file.Paths.get(t, "data")).iterator()
    var all = Set.empty[String]
    survivorsBefore.forEachRemaining(p =>
      if (p.toString.endsWith(".parquet"))
        all += p.toString.substring(t.length + 1))
    val deleted = Snapshots.vacuum(spark, t, keepFrom = 2)
    assert(deleted == plan.dropFiles.size)
    val after = all -- plan.dropFiles
    plan.dropFiles.foreach(p =>
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(t, p))))
    after.foreach(p =>
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(t, p))))
    // fsck: clean table reports nothing
    assert(Snapshots.fsck(spark, t).count() == 0)
    // truncate one referenced file -> size_mismatch; delete one -> missing
    val refs = Snapshots.entries(spark, t).map(_.path)
    val f0 = java.nio.file.Paths.get(t, refs.head)
    val bytes = java.nio.file.Files.readAllBytes(f0)
    java.nio.file.Files.write(f0, bytes.dropRight(1))
    val report = Snapshots.fsck(spark, t).collect()
    assert(report.length == 1 &&
      report.head.getAs[String]("status") == "size_mismatch")
    java.nio.file.Files.delete(f0)
    assert(Snapshots.fsck(spark, t).collect()
      .head.getAs[String]("status") == "missing")
  }

  test("review regressions: mis-typed requests stay conservative, empty " +
       "MoR requests are true no-ops, malformed bucket cells degrade") {
    val t = freshTable()
    Snapshots.commitOverwrite(spark, t,
      spark.range(0, 8000).toDF("id")
        .repartition(16, pmod(xxhash64(col("id")), lit(16L))),
      statsCols = Seq("id"), bucketCols = Map("id" -> 16))
    // an INT-typed request against the LONG column: xxhash64 of a
    // 4-byte int differs from the long hash the cells hold, so the
    // bucket replay must NOT prune under the request's own type — the
    // plan stays conservative and the purge still erases the row
    val intKeys = Seq(150).toDF("k") // IntegerType
    val pv = Snapshots.erasePurgeCommit(spark, t, "id", intKeys)
    assert(Snapshots.read(spark, t, Some(pv)).filter(col("id") === 150L)
      .count() == 0)
    // mergeTouchPlan casts a mis-typed batch to the table type: the
    // probe must still find the matched file
    val mp = Snapshots.mergeTouchPlan(spark, t, "id", Seq(99).toDF("k"),
      Some(pv))
    assert(mp.rewrite.nonEmpty)
    // empty and all-NULL MoR erase requests commit a version with NO
    // delete reference: partial rewrites stay allowed and incremental
    // reads across it keep working
    val v0 = Snapshots.eraseMoRCommit(spark, t, "id",
      spark.range(0).toDF("k"))
    Snapshots.eraseMoRCommit(spark, t, "id",
      Seq(null.asInstanceOf[java.lang.Long]).toDF("k"))
    assert(Snapshots.readChangesBetween(spark, t, v0).count() == 0)
    Snapshots.deleteWhereCommit(spark, t, Seq(Snapshots.LongRange("id", 0, 0)))
    // a damaged bucket cell parses as no-cell (conservatively read),
    // never crashes reads or plans — corrupt exactly v1's own segment
    // (resolved from its manifest body, not a directory listing) and
    // drop the local-FS checksum sidecar so the edit is readable
    val v1body = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(t, "_manifests", "v00000001.txt")), "UTF-8")
    val segName = v1body.linesIterator
      .find(l => l.startsWith("@") && !l.startsWith("@-")).get.substring(1)
    val seg = java.nio.file.Paths.get(t, "_segments", segName)
    val junk = new String(java.nio.file.Files.readAllBytes(seg), "UTF-8")
      .replaceAll("~id=16:[0-9,]+", "~id=16:1,x")
    assert(junk.contains("~id=16:1,x")) // the corruption really landed
    java.nio.file.Files.write(seg, junk.getBytes("UTF-8"))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(t, "_segments", s".$segName.crc"))
    assert(Snapshots.read(spark, t, Some(1)).count() == 8000)
    assert(Snapshots.erasePlan(spark, t, "id", Seq(5L).toDF("k"), Some(1))
      .rewrite.nonEmpty)
  }

  test("auditedAppendCommit evolves: an additive-schema batch audits " +
       "against its committed delta and publishes") {
    import graft.operators.Expectations
    val t = freshTable()
    Snapshots.commitOverwrite(spark, t, Seq((1L, "en")).toDF("id", "lang"))
    val r = Snapshots.auditedAppendCommit(spark, t,
      Seq((2L, "de", 9L)).toDF("id", "lang", "score"),
      Seq(Expectations.Check("score_ok", col("score") > 0L)),
      evolve = true)
    assert(r.isRight)
    val head = Snapshots.read(spark, t)
    assert(head.columns.toSeq == Seq("id", "lang", "score"))
    assert(head.count() == 2) // old row null-fills the evolved column
    assert(head.filter(col("id") === 1L).select("score").head().isNullAt(0))
  }

  test("auditedAppendCommit: publish-or-nothing — clean batches merge " +
       "to main, dirty batches never touch it") {
    import graft.operators.Expectations
    val t = freshTable()
    Snapshots.commitOverwrite(spark, t, Seq((1L, "en")).toDF("id", "lang"))
    val checks = Seq(
      Expectations.Check("lang_known", col("lang").isin("en", "de")),
      Expectations.Check("id_positive", col("id") > 0L))
    // clean batch: published atomically, branch gone
    val r1 = Snapshots.auditedAppendCommit(spark, t,
      Seq((2L, "de"), (3L, "en")).toDF("id", "lang"), checks)
    assert(r1 == Right(2))
    assert(Snapshots.read(spark, t).count() == 3)
    assert(Snapshots.branches(spark, t).isEmpty)
    // dirty batch: main NEVER sees it — no new version, branch dropped,
    // the violating rows (only) come back with their failed checks
    val r2 = Snapshots.auditedAppendCommit(spark, t,
      Seq((4L, "en"), (-5L, "xx")).toDF("id", "lang"), checks)
    assert(r2.isLeft)
    val av = r2.left.toOption.get
    val bad = av.violations.collect()
    assert(bad.length == 1)
    assert(bad.head.getAs[Long]("id") == -5L)
    assert(bad.head.getAs[scala.collection.Seq[String]]("violations").toSeq ==
      Seq("lang_known", "id_positive"))
    assert(av.total == 1L)
    assert(av.counts == Map("lang_known" -> 1L, "id_positive" -> 1L))
    assert(av.sample.map(_.getAs[Long]("id")) == Seq(-5L))
    assert(Snapshots.versions(spark, t) == Seq(1, 2))
    assert(Snapshots.read(spark, t).count() == 3)
    assert(Snapshots.branches(spark, t).isEmpty)
  }

  test("auditedAppendCommit quarantines a violating-MAJORITY batch with " +
       "O(1) driver materialization: bounded sample, per-check counts, " +
       "the full set durable in _quarantine and readable after the " +
       "branch (and a vacuum) are gone") {
    import graft.operators.Expectations
    val t = freshTable()
    Snapshots.commitOverwrite(spark, t, Seq((1L, "en")).toDF("id", "lang"))
    val batch = (2L until 5002L).map(i =>
      (if (i % 10 == 0) i else -i, if (i % 3 == 0) "xx" else "en"))
      .toDF("id", "lang")
    val r = Snapshots.auditedAppendCommit(spark, t, batch, Seq(
      Expectations.Check("lang_known", col("lang").isin("en", "de")),
      Expectations.Check("id_positive", col("id") > 0L)))
    assert(r.isLeft)
    val av = r.left.toOption.get
    // the driver-side footprint is the SAMPLE bound, not the batch size
    assert(av.sample.size == Snapshots.AuditSampleRows)
    assert(av.total == 5000L - 500L + 166L) // neg ids ∪ xx langs (pos, %3=0 among %10=0)
    assert(av.counts("id_positive") == 4500L)
    assert(av.counts("lang_known") == (2L until 5002L).count(_ % 3 == 0))
    // main untouched, branch gone, but the quarantined set survives —
    // under the table, outside vacuum's reach
    assert(Snapshots.versions(spark, t) == Seq(1))
    assert(Snapshots.branches(spark, t).isEmpty)
    assert(av.quarantinePath.contains("_quarantine"))
    Snapshots.vacuum(spark, t, keepFrom = 1)
    val q = spark.read.parquet(av.quarantinePath)
    assert(q.count() == av.total)
    assert(q.columns.toSeq == Seq("id", "lang", "violations"))
  }

  test("updateWhereCommit: SET over the matched band only, partial " +
       "rewrite, NULL-predicate rows untouched, schema never drifts") {
    val t = freshTable()
    val rows = Seq[(Long, String)]((150L, null), (700L, null)) ++
      (0L until 800L by 1L).map(i => (i, if (i % 2 == 0) "en" else "zz"))
    Snapshots.commitOverwrite(spark, t,
      rows.toDF("id", "lang")
        .repartitionByRange(8, col("id")).sortWithinPartitions("id"),
      statsCols = Seq("id"))
    val headFiles = Snapshots.read(spark, t).inputFiles.toSet
    val v = Snapshots.updateWhereCommit(spark, t,
      Seq(Snapshots.LongRange("id", 100L, 299L),
        Snapshots.StringRange("lang", "aa", "fr")),
      set = Map("lang" -> concat(lit("u-"), col("lang")),
        "id" -> (col("id") + 10000L)),
      statsCols = Seq("id"))
    val got = Snapshots.read(spark, t, Some(v))
    // matched: en rows in [100,299] — both SETs applied, reading the
    // PRE-update row (simultaneous assignment)
    assert(got.filter(col("lang") === "u-en").count() == 100)
    assert(got.filter(col("lang") === "u-en").select("id").as[Long]
      .collect().forall(i => i >= 10100L && i <= 10298L))
    // unmatched rows in REWRITTEN files unchanged (zz lang outside the
    // string range), NULL-lang row at 150 untouched (NULL conjunction)
    assert(got.filter(col("lang") === "zz" && col("id").between(100, 299))
      .count() == 100)
    assert(got.filter(col("id") === 150L && col("lang").isNull).count() == 1)
    // partial rewrite: only the bands overlapping [100, 299] moved (2-3
    // files — the range partitioner's sampled boundaries may straddle)
    assert(got.inputFiles.toSet.intersect(headFiles).size >= headFiles.size - 3)
    assert(got.count() == 802)
    // a SET of an unknown column fails loudly
    intercept[IllegalArgumentException] {
      Snapshots.updateWhereCommit(spark, t,
        Seq(Snapshots.LongRange("id", 0L, 1L)), Map("nope" -> lit(1)))
    }
  }

  test("readAsOf + metadata tables: timestamp resolution, history and " +
       "files surfaces") {
    val t = freshTable()
    Snapshots.commitOverwrite(spark, t, Seq(1L).toDF("id"))
    Thread.sleep(25)
    val mid = System.currentTimeMillis()
    Thread.sleep(25)
    Snapshots.commitAppendOnce(spark, t, Seq(2L).toDF("id"), "tok-2")
    assert(Snapshots.readAsOf(spark, t, mid).select("id").as[Long]
      .collect().toSet == Set(1L))
    assert(Snapshots.readAsOf(spark, t, System.currentTimeMillis())
      .select("id").as[Long].collect().toSet == Set(1L, 2L))
    intercept[RuntimeException] { Snapshots.readAsOf(spark, t, 1000L) }
    val ts = Snapshots.commitTimes(spark, t)
    assert(ts.map(_._1) == Seq(1, 2) && ts.forall(_._2.isDefined))
    assert(ts(0)._2.get <= ts(1)._2.get)
    val h = Snapshots.historyDf(spark, t).orderBy("version")
      .collect()
    assert(h.length == 2)
    assert(h(0).getAs[java.sql.Timestamp]("committed_at") != null)
    assert(h(0).getAs[String]("token") == null &&
      h(1).getAs[String]("token") == "tok-2")
    assert(h.map(_.getAs[Int]("n_segments")).toSeq == Seq(1, 2))
    // files table: one row per data file with sizes, counts and stats
    val t2 = freshTable()
    Snapshots.commitOverwrite(spark, t2,
      spark.range(0, 100).toDF("id").repartition(4), statsCols = Seq("id"))
    val f = Snapshots.filesDf(spark, t2).collect()
    assert(f.length == 4)
    assert(f.map(_.getAs[Long]("row_count")).sum == 100L)
    assert(f.forall(_.getAs[Long]("size_bytes") > 0))
    assert(f.forall(_.getAs[Map[String, String]]("stats")("id")
      .startsWith("long:")))
  }

  test("compactSmallFilesCommit packs only the small files; right-sized " +
       "files carry by reference with their stats") {
    val t = freshTable()
    // one big base file + 12 tiny appended files
    Snapshots.commitOverwrite(spark, t,
      spark.range(0, 20000).toDF("id").coalesce(1), statsCols = Seq("id"))
    (0 until 12).foreach(i => Snapshots.commitAppend(spark, t,
      spark.range(20000 + i * 10, 20010 + i * 10).toDF("id").coalesce(1),
      statsCols = Seq("id")))
    val bigFile = Snapshots.read(spark, t, Some(1)).inputFiles.head
    assert(Snapshots.read(spark, t).inputFiles.length == 13)
    val cv = Snapshots.compactSmallFilesCommit(spark, t,
      targetFileBytes = 1L << 30, smallFileBytes = 8L << 10,
      statsCols = Seq("id"))
    val after = Snapshots.read(spark, t, Some(cv))
    // 12 tiny files -> 1 packed; the big base file untouched, by reference
    assert(after.inputFiles.length == 2)
    assert(after.inputFiles.contains(bigFile))
    assert(after.select("id").as[Long].collect().toSet ==
      (0L until 20120L).toSet)
    // stats survived on both sides: carried (big) + recomputed (packed)
    assert(Snapshots.entries(spark, t, Some(cv)).forall(_.stats.contains("id")))
    assert(Snapshots.rowCount(spark, t, Some(cv)) == 20120L)
    // old fragmented version still readable (snapshot isolation)
    assert(Snapshots.read(spark, t, Some(13)).inputFiles.length == 13)
    // fewer than two small files: a no-op that returns the head
    assert(Snapshots.compactSmallFilesCommit(spark, t,
      targetFileBytes = 1L << 30, smallFileBytes = 8L << 10) == cv)
    // pending MoR deletes refuse (the shared partial-rewrite hazard)
    Snapshots.eraseMoRCommit(spark, t, "id", Seq(5L).toDF("k"))
    intercept[IllegalArgumentException] {
      Snapshots.compactSmallFilesCommit(spark, t, 1L << 30, 8L << 10)
    }
  }

  test("rowCount: metadata-only count(*) where row counts are committed; " +
       "honest fallback where they are not") {
    val t = freshTable()
    Snapshots.commitOverwrite(spark, t,
      spark.range(0, 800).toDF("id")
        .repartitionByRange(8, col("id")).sortWithinPartitions("id"),
      statsCols = Seq("id"))
    assert(Snapshots.entries(spark, t).forall(_.rows.isDefined))
    assert(Snapshots.rowCount(spark, t) == 800L)
    // a partial rewrite carries row counts by reference and restates
    // them for the rewritten segment: still metadata-only, still right
    val pv = Snapshots.erasePurgeCommit(spark, t, "id",
      Seq(150L, 450L).toDF("k"), statsCols = Seq("id"))
    assert(Snapshots.entries(spark, t, Some(pv)).forall(_.rows.isDefined))
    assert(Snapshots.rowCount(spark, t, Some(pv)) == 798L)
    // a pending merge-on-read delete makes metadata counts unknowable:
    // the fallback scan-count stays correct
    Snapshots.eraseMoRCommit(spark, t, "id", Seq(7L).toDF("k"))
    assert(Snapshots.rowCount(spark, t) == 797L)
    // a stats-less commit records no counts: honest fallback
    val t2 = freshTable()
    Snapshots.commitOverwrite(spark, t2, spark.range(0, 99).toDF("id"))
    assert(Snapshots.entries(spark, t2).forall(_.rows.isEmpty))
    assert(Snapshots.rowCount(spark, t2) == 99L)
  }

  test("compactCommitBucketed restores decayed point-lookup pruning; " +
       "a replayed merge is idempotent in effect") {
    val t = freshTable()
    val df = spark.range(0, 4000).toDF("id").withColumn("v", col("id") * 3)
    Snapshots.commitOverwrite(spark, t,
      df.repartition(16, pmod(xxhash64(col("id")), lit(16L))),
      statsCols = Seq("id"), bucketCols = Map("id" -> 16))
    // cell-less appends decay pruning: lookups must now read them all
    (0 until 3).foreach(i => Snapshots.commitAppend(spark, t,
      spark.range(4000 + i * 100, 4100 + i * 100).toDF("id")
        .withColumn("v", col("id") * 3).repartition(4)))
    val decayed = Snapshots.readPrunedByKey(spark, t, "id", Seq(5L))
    assert(decayed.inputFiles.length > 12) // appended files all read
    val cv = Snapshots.compactCommitBucketed(spark, t,
      targetFileBytes = 8L << 10, keyCol = "id", mod = 16)
    val sharp = Snapshots.readPrunedByKey(spark, t, "id", Seq(5L), Some(cv))
    assert(sharp.inputFiles.length <= 3)
    assert(sharp.select("id").as[Long].collect().toSeq == Seq(5L))
    assert(Snapshots.rowCount(spark, t, Some(cv)) == 4300L)
    // merge replay: same batch twice -> same snapshot content (updates
    // rewrite the same values, former inserts now match as updates)
    val src = Seq((5L, -5L), (99999L, -9L)).toDF("id", "v")
    Snapshots.mergeIntoCommit(spark, t, "id", src)
    val once = Snapshots.read(spark, t).as[(Long, Long)].collect().toSet
    Snapshots.mergeIntoCommit(spark, t, "id", src)
    assert(Snapshots.read(spark, t).as[(Long, Long)].collect().toSet == once)
  }

  test("eraseMoRCommit: O(keys) logical delete — no data movement, " +
       "re-inserts survive, deletes stack, pruned reads compose") {
    val t = freshTable()
    Snapshots.commitOverwrite(spark, t,
      spark.range(0, 800).toDF("id").withColumn("lang", concat(lit("l"), col("id") % 4))
        .repartitionByRange(8, col("id")).sortWithinPartitions("id"),
      statsCols = Seq("id"))
    val headDataFiles = Snapshots.read(spark, t).inputFiles.toSet
    val dv = Snapshots.eraseMoRCommit(spark, t, "id", Seq(150L, 450L, 700L).toDF("k"))
    // zero movement: every pre-delete data file still backs the head
    assert(headDataFiles.subsetOf(Snapshots.read(spark, t).inputFiles.toSet))
    assert(ids(t) == (0L until 800L).toSet -- Set(150L, 450L, 700L))
    assert(ids(t, Some(1)) == (0L until 800L).toSet) // time travel intact
    // a re-inserted key is AFTER the delete in body order: it survives
    Snapshots.commitAppend(spark, t, Seq((450L, "re")).toDF("id", "lang"))
    assert(Snapshots.read(spark, t).filter(col("id") === 450L)
      .select("lang").as[String].collect().toSeq == Seq("re"))
    assert(Snapshots.read(spark, t).filter(col("id") === 150L).count() == 0)
    // deletes stack, on another column too
    Snapshots.eraseMoRCommit(spark, t, "lang", Seq("l3").toDF("k"))
    val got = Snapshots.read(spark, t)
    assert(got.filter(col("lang") === "l3").count() == 0)
    // 800 base - 3 erased + 1 re-insert = 798; minus the 200 l3 rows
    // (none of the erased/re-inserted ids was l3)
    assert(got.count() == 598)
    // pruned read composes: the deleted key's band is planned but the
    // row is gone; re-inserted 450 visible
    val pruned = Snapshots.readPruned(spark, t, "id", 400, 499)
    assert(pruned.filter(col("id") === 450L).count() == 1)
    assert(pruned.count() ==
      got.filter(col("id").between(400, 499)).count())
    // incremental read across a delete version fails loudly
    intercept[IllegalArgumentException] {
      Snapshots.readChangesBetween(spark, t, 1, Some(dv))
    }
    // ...but a pure-append subrange after the delete still works
    assert(Snapshots.readChangesBetween(spark, t, dv, Some(dv + 1))
      .count() == 1)
  }

  test("compactCommit folds merge-on-read deletes; vacuum then removes " +
       "the bytes; partial-rewrite commits refuse while deletes pend") {
    val t = freshTable()
    Snapshots.commitOverwrite(spark, t,
      spark.range(0, 400).toDF("id")
        .repartitionByRange(4, col("id")).sortWithinPartitions("id"),
      statsCols = Seq("id"))
    Snapshots.eraseMoRCommit(spark, t, "id", Seq(7L, 99L).toDF("k"))
    // partial-rewrite commits refuse: carrying a file by reference would
    // resurrect its logically-deleted rows
    val e1 = intercept[IllegalArgumentException] {
      Snapshots.erasePurgeCommit(spark, t, "id", Seq(7L).toDF("k"))
    }
    assert(e1.getMessage.contains("merge-on-read"))
    intercept[IllegalArgumentException] {
      Snapshots.deleteWhereCommit(spark, t, Seq(Snapshots.LongRange("id", 0, 10)))
    }
    intercept[IllegalArgumentException] {
      Snapshots.mergeIntoCommit(spark, t, "id", Seq(1L).toDF("id"))
    }
    // vacuum with the delete pending keeps the key file (head needs it)
    Snapshots.vacuum(spark, t, keepFrom = 2)
    assert(ids(t) == (0L until 400L).toSet -- Set(7L, 99L))
    // compaction folds: one data segment, no delete refs, same rows
    val cv = Snapshots.compactCommit(spark, t, targetFileBytes = 1L << 30)
    assert(ids(t, Some(cv)) == (0L until 400L).toSet -- Set(7L, 99L))
    assert(Snapshots.read(spark, t, Some(cv)).inputFiles.length == 1)
    // after compaction the partial-rewrite lane reopens
    val pv = Snapshots.erasePurgeCommit(spark, t, "id", Seq(200L).toDF("k"))
    assert(ids(t, Some(pv)) == (0L until 400L).toSet -- Set(7L, 99L, 200L))
    // vacuum past the fold: the erased keys' bytes leave the table
    Snapshots.vacuum(spark, t, keepFrom = pv)
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(t, "data"))
      .iterator()
    var survivors = List.empty[String]
    files.forEachRemaining(p =>
      if (p.toString.endsWith(".parquet")) survivors ::= p.toString)
    assert(spark.read.parquet(survivors: _*)
      .filter(col("id").isin(7L, 99L, 200L)).count() == 0)
  }

  test("deleteWhereCommit keeps NULL-predicate rows regardless of " +
       "physical file placement (SQL DELETE WHERE semantics)") {
    val t = freshTable()
    // NULL-lang rows land in BOTH a rewritten file (doc_id 150 overlaps
    // the range) and a carried file (doc_id 700 does not)
    val rows = Seq[(Long, String)]((150L, null), (700L, null)) ++
      (0L until 800L by 50L).map(i => (i, "en"))
    Snapshots.commitOverwrite(spark, t,
      rows.toDF("id", "lang")
        .repartitionByRange(8, col("id")).sortWithinPartitions("id"),
      statsCols = Seq("id"))
    val v = Snapshots.deleteWhereCommit(spark, t, Seq(
      Snapshots.LongRange("id", 100L, 499L),
      Snapshots.StringRange("lang", "de", "en")))
    val got = Snapshots.read(spark, t, Some(v))
    // the en rows in [100,499] are gone; BOTH null-lang rows survive —
    // the conjunction is NULL for them, which DELETE WHERE never matches
    assert(got.filter(col("lang") === "en" && col("id").between(100, 499))
      .count() == 0)
    assert(got.filter(col("lang").isNull).select("id").as[Long]
      .collect().toSet == Set(150L, 700L))
  }

  test("unparsable tag debris fails tags()/vacuum loudly until dropped") {
    val t = freshTable()
    Snapshots.commitOverwrite(spark, t, Seq(1L).toDF("id"))
    Snapshots.commitOverwrite(spark, t, Seq(2L).toDF("id"))
    Snapshots.tagVersion(spark, t, "good", 1)
    // crash debris: an empty tag file (a pre-createExclusive writer
    // dying between create and write could leave this)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(t, "_refs"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(t, "_refs", "debris.txt"), "")
    // the file may be the remains of a PIN attempt: surface it loudly
    // instead of letting vacuum silently delete what it tried to protect
    intercept[RuntimeException] { Snapshots.tags(spark, t) }
    intercept[RuntimeException] { Snapshots.vacuum(spark, t, keepFrom = 2) }
    Snapshots.dropTag(spark, t, "debris")
    assert(Snapshots.tags(spark, t) == Map("good" -> 1))
    Snapshots.vacuum(spark, t, keepFrom = 2)
    assert(Snapshots.versions(spark, t) == Seq(1, 2)) // good pin held
  }

  test("rollbackCommit: restore an old snapshot as a new head with " +
       "zero data movement; history and consumers behave") {
    val t = freshTable()
    Snapshots.commitOverwrite(spark, t, Seq(1L, 2L).toDF("id"))   // v1 good
    Snapshots.commitOverwrite(spark, t, Seq(9L).toDF("id"))       // v2 bad
    val v3 = Snapshots.rollbackCommit(spark, t, toVersion = 1)
    assert(v3 == 3)
    assert(ids(t) == Set(1L, 2L))            // restored
    assert(ids(t, Some(2)) == Set(9L))       // the bad commit stays auditable
    // zero data movement: the restored head plans v1's exact files
    assert(Snapshots.read(spark, t).inputFiles.toSet ==
      Snapshots.read(spark, t, Some(1)).inputFiles.toSet)
    // the delta across a rollback to a consumer's own base is EMPTY
    Snapshots.registerConsumer(spark, t, "ok", startVersion = 1)
    // v1 body == v3 body, so v1..v3 is a (degenerate) append range
    assert(Snapshots.readChangesBetween(spark, t, 1, Some(3)).count() == 0)
    // a consumer stranded on the rolled-back v2 fails loudly
    Snapshots.registerConsumer(spark, t, "stranded", startVersion = 2)
    Snapshots.commitAppend(spark, t, Seq(5L).toDF("id"))          // v4
    intercept[IllegalArgumentException] {
      Snapshots.consumeChanges(spark, t, "stranded")((_, _) => ())
    }
    // vacuum past the bad version: restored head keeps its (v1) files
    Snapshots.dropConsumer(spark, t, "ok")
    Snapshots.dropConsumer(spark, t, "stranded")
    Snapshots.vacuum(spark, t, keepFrom = 3)
    assert(ids(t, Some(3)) == Set(1L, 2L))
    intercept[IllegalArgumentException] { ids(t, Some(2)) }
  }

  test("branches: fork, commit, diff, fast-forward merge, vacuum safety") {
    val t = freshTable()
    Snapshots.commitOverwrite(spark, t, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    Snapshots.createBranch(spark, t, "exp")
    assert(Snapshots.branches(spark, t) == Seq("exp"))
    assert(Snapshots.branchFork(spark, t, "exp") == 1)
    // branch head starts as the fork point, sharing its files by reference
    assert(Snapshots.readBranch(spark, t, "exp").select("id").as[Long]
      .collect().toSet == Set(1L, 2L))
    // commits land on the branch only
    Snapshots.commitAppendToBranch(spark, t, "exp", Seq((3L, "c")).toDF("id", "v"))
    assert(Snapshots.readBranch(spark, t, "exp").count() == 3)
    assert(Snapshots.read(spark, t).count() == 2) // main untouched
    // diff branch vs main through the shared diff core
    val d = Snapshots.diff(Snapshots.read(spark, t),
      Snapshots.readBranch(spark, t, "exp"), Seq("id"))
      .as[(Long, String)].collect().toMap
    assert(d == Map(3L -> "insert"))
    // a branch's files survive vacuum even when no main version holds them
    Snapshots.commitOverwriteToBranch(spark, t, "exp",
      Seq((9L, "z")).toDF("id", "v"))
    Snapshots.vacuum(spark, t, keepFrom = 1)
    assert(Snapshots.readBranch(spark, t, "exp").select("id").as[Long]
      .head() == 9L)
    // fast-forward merge: main head becomes the branch head
    val mv = Snapshots.fastForwardMerge(spark, t, "exp")
    assert(Snapshots.read(spark, t, Some(mv)).select("id").as[Long]
      .head() == 9L)
    // a branch forked BEFORE an unrelated main commit cannot fast-forward
    Snapshots.createBranch(spark, t, "stale", fromVersion = Some(1))
    intercept[IllegalArgumentException] {
      Snapshots.fastForwardMerge(spark, t, "stale")
    }
    // branch names are create-once; dropBranch releases them
    intercept[IllegalArgumentException] {
      Snapshots.createBranch(spark, t, "exp")
    }
    Snapshots.dropBranch(spark, t, "exp")
    assert(Snapshots.branches(spark, t) == Seq("stale"))
    intercept[IllegalArgumentException] {
      Snapshots.readBranch(spark, t, "exp")
    }
  }

  test("branch ref slot: racing branch committers all land exactly once") {
    val t = freshTable()
    Snapshots.commitOverwrite(spark, t, Seq(0L).toDF("id"))
    Snapshots.createBranch(spark, t, "race")
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val threads = (1 to 8).map { i =>
      new Thread(() => {
        results.add(Snapshots.commitAppendToBranch(spark, t, "race",
          Seq(i.toLong).toDF("id")))
        ()
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    // every racer won a distinct branch version (v1 is the fork)
    assert(results.asScala.toList.sorted == (2 to 9).toList)
    assert(Snapshots.readBranch(spark, t, "race").select("id").as[Long]
      .collect().toSet == (0L to 8L).toSet)
    // racing CREATES of one name: exactly one winner
    val created = new java.util.concurrent.atomic.AtomicInteger(0)
    val creators = (1 to 4).map(_ => new Thread(() => {
      try { Snapshots.createBranch(spark, t, "unique"); created.incrementAndGet(); () }
      catch { case _: IllegalArgumentException => () }
    }))
    creators.foreach(_.start())
    creators.foreach(_.join())
    assert(created.get() == 1)
  }

  test("commitOverwriteOnce: token-idempotent replacement — a replayed " +
       "token is a version-level no-op; advanceConsumer is a monotone " +
       "register-on-first-call floor with bounded state") {
    val t = freshTable()
    assert(Snapshots.commitOverwriteOnce(spark, t, Seq(1L).toDF("id"),
      "mv#b0").contains(1))
    assert(Snapshots.commitOverwriteOnce(spark, t, Seq(1L, 2L).toDF("id"),
      "mv#b1").contains(2))
    // the replay: same token, NO new version, head unchanged
    assert(Snapshots.commitOverwriteOnce(spark, t, Seq(9L).toDF("id"),
      "mv#b1").isEmpty)
    assert(Snapshots.versions(spark, t) == Seq(1, 2))
    assert(ids(t) == Set(1L, 2L))

    // advanceConsumer: registers on first call, advances monotonically,
    // lagging/repeated calls no-op, state stays bounded
    Snapshots.advanceConsumer(spark, t, "pin", 1)
    assert(Snapshots.consumers(spark, t)("pin") == 1)
    Snapshots.advanceConsumer(spark, t, "pin", 2)
    Snapshots.advanceConsumer(spark, t, "pin", 2) // repeat: no-op
    Snapshots.advanceConsumer(spark, t, "pin", 1) // lagging: no-op
    assert(Snapshots.consumers(spark, t)("pin") == 2)
    (3 to 8).foreach(v => Snapshots.advanceConsumer(spark, t, "pin", v))
    assert(Snapshots.consumers(spark, t)("pin") == 8)
    val stateFiles = new java.io.File(s"$t/_consumers/pin").listFiles()
      .count(_.getName.matches("[op]\\d{8}\\.txt"))
    assert(stateFiles <= 3) // lag-1 pruning, like consumeTick
    // a second, lagging consumer's offset is the vacuum floor: v2 holds
    // against keepFrom=3 because the floor (2) caps the drop range
    Snapshots.advanceConsumer(spark, t, "lag", 2)
    Snapshots.vacuum(spark, t, keepFrom = 3)
    assert(Snapshots.versions(spark, t) == Seq(2))
  }

  test("advanceConsumer registration race: the loser falls through to " +
       "the monotone advance — N racers on a fresh name converge to the " +
       "maximum, none silently dropped") {
    val t = freshTable()
    Snapshots.commitOverwrite(spark, t, Seq(1L).toDF("id"))
    val barrier = new java.util.concurrent.CyclicBarrier(8)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val racers = (1 to 8).map(v => new Thread(() => {
      barrier.await()
      try Snapshots.advanceConsumer(spark, t, "raced", v)
      catch { case e: Throwable => failures.add(e); () }
    }))
    racers.foreach(_.start())
    racers.foreach(_.join())
    assert(failures.isEmpty, s"racer threads failed: ${failures.size}, " +
      s"first: ${Option(failures.peek()).map(_.toString)}")
    // pre-fix, only the one createExclusive winner's value survived the
    // first round — every loser returned silently, so the final offset
    // was whichever racer won the o(1) create, not the monotone maximum
    val state = new java.io.File(s"$t/_consumers/raced").listFiles()
      .sortBy(_.getName)
      .map(f => s"${f.getName}=${scala.io.Source.fromFile(f).mkString.trim}")
      .mkString(", ")
    assert(Snapshots.consumers(spark, t)("raced") == 8, s"state: $state")
  }

  test("mergeIntoCommit token fast-path: a replayed token skips the " +
       "merge and leaves the version count unchanged; a fresh token " +
       "merges normally") {
    val t = freshTable()
    Snapshots.commitOverwrite(spark, t,
      Seq((1L, "a"), (2L, "b")).toDF("id", "tag"))
    val v1 = Snapshots.mergeIntoCommit(spark, t, "id",
      Seq((2L, "B"), (3L, "c")).toDF("id", "tag"), token = Some("ck#b0"))
    assert(v1 == 2)
    assert(Snapshots.read(spark, t).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "B"), (3L, "c")))
    // the replay: same token, DIFFERENT (stale) source — skipped whole,
    // head version returned, content untouched
    val v2 = Snapshots.mergeIntoCommit(spark, t, "id",
      Seq((2L, "STALE"), (9L, "z")).toDF("id", "tag"), token = Some("ck#b0"))
    assert(v2 == 2)
    assert(Snapshots.versions(spark, t) == Seq(1, 2))
    assert(Snapshots.read(spark, t).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "B"), (3L, "c")))
    // a fresh token merges normally on top
    val v3 = Snapshots.mergeIntoCommit(spark, t, "id",
      Seq((3L, "C2")).toDF("id", "tag"), token = Some("ck#b1"))
    assert(v3 == 3)
    assert(Snapshots.read(spark, t).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "B"), (3L, "C2")))
  }

  test("checkpointMetadataCommit folds the reference chain to one " +
       "segment per group with ZERO data movement: same rows, same " +
       "files, stats carried, dataChange=false, incremental readers skip") {
    val t = freshTable()
    (0 until 6).foreach(i =>
      Snapshots.commitAppend(spark, t,
        Seq((i.toLong, s"t$i")).toDF("id", "tag"), statsCols = Seq("id")))
    val preFiles = Snapshots.read(spark, t).inputFiles.toSet
    val preEntries = Snapshots.entries(spark, t)
    val fv = Snapshots.checkpointMetadataCommit(spark, t)
    assert(fv == 7 && Snapshots.isMaintenanceVersion(spark, t, fv))
    // zero data movement: the SAME files, and the manifest entries
    // carry their stats/sizes verbatim
    assert(Snapshots.read(spark, t).inputFiles.toSet == preFiles)
    assert(Snapshots.entries(spark, t).toSet == preEntries.toSet)
    // the body folded to ONE reference line
    assert(new java.io.File(f"$t/_manifests/v$fv%08d.txt").exists())
    val body = scala.io.Source.fromFile(
      f"$t/_manifests/v$fv%08d.txt").getLines().filterNot(_.startsWith("#")).toList
    assert(body.size == 1, s"folded body must be one segment ref, got $body")
    // pruning still works off the carried stats
    assert(Snapshots.readPrunedWhere(spark, t,
      Seq(Snapshots.LongRange("id", 2, 2))).inputFiles.length == 1)
    // incremental readers skip the fold; an append after it flows
    Snapshots.commitAppend(spark, t, Seq((9L, "x")).toDF("id", "tag"))
    assert(Snapshots.readChangesBetween(spark, t, 6)
      .select("id").as[Long].collect().toSet == Set(9L))
    // idempotent: an already-folded head no-ops
    Snapshots.commitOverwrite(spark, t, Seq((1L, "a")).toDF("id", "tag"))
    assert(Snapshots.checkpointMetadataCommit(spark, t) ==
      Snapshots.versions(spark, t).last)
  }

  test("checkpointMetadataCommit preserves merge-on-read scoping: " +
       "delete refs keep their body positions, a re-inserted key " +
       "still survives, and the fold is feed-transparent") {
    val t = freshTable()
    Snapshots.commitAppend(spark, t,
      (0L until 10L).map(i => (i, s"t$i")).toDF("id", "tag"))
    Snapshots.commitAppend(spark, t, Seq((10L, "t10")).toDF("id", "tag"))
    Snapshots.eraseMoRCommit(spark, t, "id", Seq(4L).toDF("k"))
    Snapshots.commitAppend(spark, t, Seq((4L, "reborn")).toDF("id", "tag"))
    Snapshots.commitAppend(spark, t, Seq((11L, "t11")).toDF("id", "tag"))
    val pre = Snapshots.read(spark, t).as[(Long, String)].collect().toSet
    assert(pre.contains((4L, "reborn")) && !pre.contains((4L, "t4")))
    val fv = Snapshots.checkpointMetadataCommit(spark, t)
    assert(Snapshots.isMaintenanceVersion(spark, t, fv))
    assert(Snapshots.read(spark, t).as[(Long, String)].collect().toSet == pre,
      "fold must preserve MoR delete scoping exactly")
    // the folded body: group, delete ref, group — 3 lines, not 5+
    val body = scala.io.Source.fromFile(
      f"$t/_manifests/v$fv%08d.txt").getLines().filterNot(_.startsWith("#")).toList
    assert(body.size == 3, s"group/delete/group expected, got $body")
    // feed across the fold: skipped like any maintenance version —
    // window (4, head] spans append v5, the fold, and append v7
    Snapshots.commitAppend(spark, t, Seq((12L, "t12")).toDF("id", "tag"))
    val feed = Snapshots.changeFeed(spark, t, 4)
    assert(feed.filter(col("_op") === "u").select("id").as[Long]
      .collect().toSet == Set(11L, 12L))
  }

  test("auto-fold: appends past graft.snapshot.foldThreshold fold the " +
       "body before appending, keeping the per-commit body copy bounded") {
    val t = freshTable()
    (0 until 10).foreach(i =>
      Snapshots.commitAppend(spark, t, Seq(i.toLong).toDF("id"), 4))
    // with threshold 4 the body never exceeds ~4 reference lines
    val heads = Snapshots.versions(spark, t)
    val bodies = heads.map { v =>
      scala.io.Source.fromFile(f"$t/_manifests/v$v%08d.txt")
        .getLines().count(!_.startsWith("#"))
    }
    assert(bodies.max <= 5, s"auto-fold must bound the body, got $bodies")
    // every row still present exactly once
    assert(Snapshots.read(spark, t).as[Long].collect().sorted.toSeq ==
      (0L until 10L).toSeq)
    // fold versions are maintenance; appends are not
    val maint = heads.filter(Snapshots.isMaintenanceVersion(spark, t, _))
    assert(maint.nonEmpty, "threshold 4 over 10 appends must auto-fold")
    // an incremental consumer registered at v1 replays the whole data
    // history across the interleaved folds
    assert(Snapshots.readChangesBetween(spark, t, 1)
      .select("id").as[Long].collect().toSet == (1L until 10L).toSet)

    // the trigger counts FOLDABLE references, not raw body lines: a
    // delete-heavy body past the threshold in IRREDUCIBLE lines
    // (singleton groups + delete refs) must not publish a useless
    // maintenance version per append forever
    val t2 = freshTable()
    (0 until 3).foreach { i =>
      Snapshots.commitAppend(spark, t2,
        Seq((10L * i, s"g$i")).toDF("id", "tag"), 4)
      Snapshots.eraseMoRCommit(spark, t2, "id", Seq(10L * i).toDF("k"))
    }
    // body: 3 singleton groups interleaved with 3 delete refs + the
    // new tail each append — lines >= threshold 4, foldable ~0
    val before = Snapshots.versions(spark, t2)
    Snapshots.commitAppend(spark, t2, Seq((991L, "t")).toDF("id", "tag"), 4)
    Snapshots.commitAppend(spark, t2, Seq((992L, "t")).toDF("id", "tag"), 4)
    val mid = Snapshots.versions(spark, t2)
    assert(mid.size == before.size + 2 &&
      !mid.exists(v => !before.contains(v) &&
        Snapshots.isMaintenanceVersion(spark, t2, v)),
      "irreducible body lines must not trigger folds")
    // once the TAIL group accumulates >= threshold foldable refs, the
    // fold fires exactly once and the body shrinks
    (0 until 4).foreach(i =>
      Snapshots.commitAppend(spark, t2, Seq((993L + i, "t")).toDF("id", "tag"), 4))
    val after = Snapshots.versions(spark, t2)
    assert(after.exists(v => !mid.contains(v) &&
      Snapshots.isMaintenanceVersion(spark, t2, v)),
      "a foldable tail past the threshold must auto-fold")
    assert(Snapshots.read(spark, t2).select("id").as[Long].collect().toSet ==
      (991L to 996L).toSet, "rows exact across deletes + folds")
  }

  test("dataChange=false: every compaction flavor stamps the maintenance " +
       "header; data commits never do") {
    val t = freshTable()
    Snapshots.commitOverwrite(spark, t,
      (0L until 40L).map(i => (i, s"v$i")).toDF("id", "tag"))
    Snapshots.commitAppend(spark, t, Seq((100L, "x")).toDF("id", "tag"))
    assert(!Snapshots.isMaintenanceVersion(spark, t, 1))
    assert(!Snapshots.isMaintenanceVersion(spark, t, 2))
    val c1 = Snapshots.compactCommit(spark, t, targetFileBytes = 1L << 20)
    assert(Snapshots.isMaintenanceVersion(spark, t, c1))
    val c2 = Snapshots.compactCommitOrdered(spark, t, 1L << 20, "id")
    assert(Snapshots.isMaintenanceVersion(spark, t, c2))
    val c3 = Snapshots.compactCommitBucketed(spark, t, 1L << 20, "id", 8)
    assert(Snapshots.isMaintenanceVersion(spark, t, c3))
    // fragment with tiny appends, then pack the small files
    (0 until 3).foreach(i =>
      Snapshots.commitAppend(spark, t, Seq((200L + i, "s")).toDF("id", "tag")))
    val c4 = Snapshots.compactSmallFilesCommit(spark, t,
      targetFileBytes = 1L << 20, smallFileBytes = 1L << 19)
    assert(c4 > c3 && Snapshots.isMaintenanceVersion(spark, t, c4))
    // data verbs stay dataChange=true
    val mv = Snapshots.mergeIntoCommit(spark, t, "id",
      Seq((100L, "X")).toDF("id", "tag"))
    assert(!Snapshots.isMaintenanceVersion(spark, t, mv))
    // the history table exposes the claim per version
    val hist = Snapshots.historyDf(spark, t).orderBy("version")
      .select("version", "maintenance")
      .as[(Int, Boolean)].collect().toMap
    assert(Seq(c1, c2, c3, c4).forall(hist(_)))
    assert(!hist(1) && !hist(2) && !hist(mv))
  }

  test("readChangesBetween is COMPACTION-TRANSPARENT: dataChange=false " +
       "versions in the window are skipped, spans around them diff " +
       "normally, and an overwrite still fails loudly") {
    val t = freshTable()
    Snapshots.commitOverwrite(spark, t, Seq(1L, 2L).toDF("id"))     // v1
    Snapshots.commitAppend(spark, t, Seq(3L).toDF("id"))            // v2
    val cv = Snapshots.compactCommit(spark, t, 1L << 20)            // v3 (maint)
    Snapshots.commitAppend(spark, t, Seq(4L).toDF("id"))            // v4
    assert(cv == 3)
    def delta(a: Int, b: Int): Set[Long] =
      Snapshots.readChangesBetween(spark, t, a, Some(b))
        .select("id").as[Long].collect().toSet
    // window crossing the compaction: the span BEFORE it and the span
    // AFTER it both contribute; the compaction contributes nothing
    assert(delta(1, 4) == Set(3L, 4L))
    assert(delta(2, 4) == Set(4L))
    // windows ending ON the compaction: pure reference rewrite = empty
    assert(delta(2, 3) == Set.empty)
    assert(delta(1, 3) == Set(3L))
    // consecutive maintenance commits in one window
    val cv2 = Snapshots.compactCommitOrdered(spark, t, 1L << 20, "id") // v5
    Snapshots.commitAppend(spark, t, Seq(5L).toDF("id"))               // v6
    assert(delta(2, 6) == Set(4L, 5L))
    assert(delta(4, 6) == Set(5L))
    // an overwrite in the window has NO maintenance claim: loud, with
    // the overwrite named as the reason
    Snapshots.commitOverwrite(spark, t, Seq(9L).toDF("id"))            // v7
    val e = intercept[IllegalArgumentException] { delta(2, 7) }
    assert(e.getMessage.contains("overwrite"))
    // ... even when the window ALSO contains maintenance commits (the
    // per-span prefix check catches the rewrite between them)
    assert(cv2 == 5)
  }

  test("changeFeed is compaction-transparent too — including a " +
       "compaction that FOLDS a merge-on-read erase already emitted as " +
       "'d' rows — and the applyChanges law holds across it") {
    val t = freshTable()
    Snapshots.commitOverwrite(spark, t,
      (0L until 20L).map(i => (i, s"t$i")).toDF("id", "tag"))        // v1
    Snapshots.commitAppend(spark, t,
      Seq((100L, "new")).toDF("id", "tag"))                          // v2
    Snapshots.eraseMoRCommit(spark, t, "id", Seq(3L, 7L).toDF("k"))  // v3
    val cv = Snapshots.compactCommit(spark, t, 1L << 20)             // v4 folds
    Snapshots.commitAppend(spark, t,
      Seq((3L, "reinserted")).toDF("id", "tag"))                     // v5
    assert(cv == 4)
    val feed = Snapshots.changeFeed(spark, t, 1, Some(5))
    // ops: the v2 add, the two v3 delete keys, the v5 re-insert; the
    // fold contributes nothing
    val ops = feed.select("_op").as[String].collect().toSeq
    assert(ops.count(_ == "d") == 2 && ops.count(_ == "u") == 2)
    // _seq stays monotone in commit order ACROSS the maintenance
    // boundary: the re-insert must sequence after the delete keys
    val seqOf = feed.select("id", "_op", "_seq").collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getInt(2)).toMap
    assert(seqOf((3L, "u")) > seqOf((3L, "d")))
    // the law: replica(v1) + feed == head
    val applied = graft.operators.Merge.applyChanges(
      Snapshots.read(spark, t, Some(1)), feed, Seq("id"), "_seq", "_op")
    val head = Snapshots.read(spark, t)
    assert(applied.select("id", "tag").as[(Long, String)].collect().toSet ==
      head.select("id", "tag").as[(Long, String)].collect().toSet)
    // the appends-only reader still refuses the folded-delete window
    // (it would silently miss the erase)
    val e = intercept[IllegalArgumentException] {
      Snapshots.readChangesBetween(spark, t, 1, Some(5))
    }
    assert(e.getMessage.contains("merge-on-read delete"))
  }

  test("consumeChanges ticks ACROSS a compaction: the window skips the " +
       "maintenance version and the consumer keeps its exactly-once " +
       "cadence") {
    val t = freshTable()
    Snapshots.commitOverwrite(spark, t, Seq(1L).toDF("id"))          // v1
    Snapshots.registerConsumer(spark, t, "repl", 1)
    Snapshots.commitAppend(spark, t, Seq(2L).toDF("id"))             // v2
    Snapshots.compactCommit(spark, t, 1L << 20)                      // v3
    Snapshots.commitAppend(spark, t, Seq(3L).toDF("id"))             // v4
    val got = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    val r1 = Snapshots.consumeChanges(spark, t, "repl") { (df, _) =>
      got += df.select("id").as[Long].collect().toSet; ()
    }
    assert(r1.contains(4))
    assert(got.toList == List(Set(2L, 3L))) // compaction contributed nothing
    // caught up: next tick no-ops even though the head is a post-
    // maintenance shape
    assert(Snapshots.consumeChanges(spark, t, "repl")((_, _) => ()).isEmpty)
  }

  test("cloneTable: zero-copy shallow clone — same rows and files, " +
       "independent divergence, vacuum-safe in BOTH directions, " +
       "merge-on-read structure faithful, stats carried") {
    val root = java.nio.file.Files.createTempDirectory("graft_clone").toString
    val src = s"$root/src"
    val dst = s"$root/dst"
    Snapshots.commitOverwrite(spark, src,
      (0L until 40L).map(i => (i, s"t$i")).toDF("id", "tag"),
      statsCols = Seq("id"))
    Snapshots.commitAppend(spark, src,
      Seq((100L, "x")).toDF("id", "tag"), statsCols = Seq("id"))
    Snapshots.eraseMoRCommit(spark, src, "id", Seq(7L).toDF("k"))
    val info = Snapshots.cloneTable(spark, src, dst)
    assert(info.version == 1)
    val expect = (0L until 40L).toSet - 7L + 100L
    assert(Snapshots.read(spark, dst).select("id").as[Long].collect().toSet
      == expect, "clone must apply the source's pending MoR delete")
    // ZERO COPY: the clone reads the source's physical files
    assert(Snapshots.read(spark, dst).inputFiles.toSet ==
      Snapshots.read(spark, src).inputFiles.toSet)
    // stats carried: pruning works on the clone
    assert(Snapshots.readPrunedWhere(spark, dst,
      Seq(Snapshots.LongRange("id", 100, 100))).inputFiles.length <
      Snapshots.read(spark, dst).inputFiles.length)
    // independent divergence
    Snapshots.commitAppend(spark, dst, Seq((500L, "c")).toDF("id", "tag"))
    Snapshots.commitAppend(spark, src, Seq((600L, "s")).toDF("id", "tag"))
    assert(Snapshots.read(spark, dst).select("id").as[Long].collect().toSet
      == expect + 500L)
    assert(Snapshots.read(spark, src).select("id").as[Long].collect().toSet
      == expect + 600L)
    // SOURCE vacuum: the pin tag keeps the clone point's files alive
    assert(Snapshots.tags(spark, src).contains(info.pinTag))
    Snapshots.vacuum(spark, src, keepFrom = Snapshots.versions(spark, src).last)
    assert(Snapshots.read(spark, dst).select("id").as[Long].collect().toSet
      == expect + 500L, "source vacuum must not reclaim clone-shared files")
    // CLONE vacuum: cannot reach into the source's root
    Snapshots.vacuum(spark, dst, keepFrom = Snapshots.versions(spark, dst).last)
    assert(Snapshots.read(spark, src).select("id").as[Long].collect().toSet
      == expect + 600L, "clone vacuum must never delete source bytes")
    assert(Snapshots.read(spark, dst).select("id").as[Long].collect().toSet
      == expect + 500L)
    // maintenance on the clone localizes: compaction rewrites into the
    // CLONE's root, after which it no longer reads source files
    Snapshots.compactCommit(spark, dst, 1L << 20)
    assert(Snapshots.read(spark, dst).inputFiles.forall(_.contains("/dst/")))
    assert(Snapshots.read(spark, dst).select("id").as[Long].collect().toSet
      == expect + 500L)
    // a non-empty destination rejects loudly
    intercept[IllegalArgumentException] {
      Snapshots.cloneTable(spark, src, dst)
    }
    // dropping the clone releases the source pin
    Snapshots.dropTag(spark, src, info.pinTag)
    assert(!Snapshots.tags(spark, src).contains(info.pinTag))
  }

  test("mergeBranch: append-append divergence merges as a metadata " +
       "union; rewrites and merge-on-read deletes reject loudly") {
    val t = freshTable()
    Snapshots.commitOverwrite(spark, t, Seq(1L, 2L).toDF("id"))
    Snapshots.createBranch(spark, t, "exp")
    // BOTH sides move after the fork — fastForwardMerge refuses this
    Snapshots.commitAppend(spark, t, Seq(3L).toDF("id"))
    Snapshots.commitAppendToBranch(spark, t, "exp", Seq(4L, 5L).toDF("id"))
    intercept[IllegalArgumentException] {
      Snapshots.fastForwardMerge(spark, t, "exp")
    }
    val preFiles = Snapshots.read(spark, t).inputFiles.toSet ++
      Snapshots.readBranch(spark, t, "exp").inputFiles.toSet
    val mv = Snapshots.mergeBranch(spark, t, "exp")
    assert(ids(t, Some(mv)) == Set(1L, 2L, 3L, 4L, 5L))
    // pure metadata union: the merged head reads EXACTLY the files the
    // two sides already had — nothing rewritten, nothing staged
    assert(Snapshots.read(spark, t).inputFiles.toSet == preFiles)
    assert(ids(t, Some(2)) == Set(1L, 2L, 3L)) // history intact
    Snapshots.dropBranch(spark, t, "exp")

    // additive evolution on the branch side merges under the longer shape
    Snapshots.createBranch(spark, t, "evo")
    Snapshots.commitAppend(spark, t, Seq(6L).toDF("id"))
    Snapshots.commitAppendToBranch(spark, t, "evo",
      Seq((7L, "x")).toDF("id", "tag"), evolve = true)
    val ev = Snapshots.mergeBranch(spark, t, "evo")
    val head = Snapshots.read(spark, t, Some(ev))
    assert(head.columns.toSeq == Seq("id", "tag"))
    assert(head.count() == 7)
    assert(head.filter(col("id") === 6L).select("tag").head().isNullAt(0))
    Snapshots.dropBranch(spark, t, "evo")

    // a branch that overwrote its history is a loud data conflict
    Snapshots.createBranch(spark, t, "rw")
    Snapshots.commitAppend(spark, t, Seq(8L).toDF("id"), evolve = true)
    Snapshots.commitOverwriteToBranch(spark, t, "rw", Seq(99L).toDF("id"))
    val e1 = intercept[IllegalArgumentException] {
      Snapshots.mergeBranch(spark, t, "rw")
    }
    assert(e1.getMessage.contains("rewrote its history"))
    Snapshots.dropBranch(spark, t, "rw")

    // a main that rewrote history since the fork rejects too
    val t2 = freshTable()
    Snapshots.commitOverwrite(spark, t2, Seq(1L).toDF("id"))
    Snapshots.createBranch(spark, t2, "b")
    Snapshots.commitAppendToBranch(spark, t2, "b", Seq(2L).toDF("id"))
    Snapshots.commitOverwrite(spark, t2, Seq(50L).toDF("id"))
    val e2 = intercept[IllegalArgumentException] {
      Snapshots.mergeBranch(spark, t2, "b")
    }
    assert(e2.getMessage.contains("main rewrote history"))

    // merge-on-read deletes in either delta reject (scope = body order)
    val t3 = freshTable()
    Snapshots.commitOverwrite(spark, t3, Seq(1L, 2L, 3L).toDF("id"))
    Snapshots.createBranch(spark, t3, "b")
    Snapshots.commitAppendToBranch(spark, t3, "b", Seq(4L).toDF("id"))
    Snapshots.eraseMoRCommit(spark, t3, "id", Seq(2L).toDF("k"))
    val e3 = intercept[IllegalArgumentException] {
      Snapshots.mergeBranch(spark, t3, "b")
    }
    assert(e3.getMessage.contains("merge-on-read deletes"))
  }

  test("mergeBranch racing a main append: the publish slot serializes " +
       "both — neither the append nor the branch delta is ever lost") {
    val t = freshTable()
    Snapshots.commitOverwrite(spark, t, Seq(0L).toDF("id"))
    Snapshots.createBranch(spark, t, "m")
    Snapshots.commitAppendToBranch(spark, t, "m", Seq(100L).toDF("id"))
    val appenders = (1 to 4).map(i => new Thread(() => {
      Snapshots.commitAppend(spark, t, Seq(i.toLong).toDF("id")); ()
    }))
    val merger = new Thread(() => {
      Snapshots.mergeBranch(spark, t, "m"); ()
    })
    (appenders :+ merger).foreach(_.start())
    (appenders :+ merger).foreach(_.join())
    assert(ids(t) == Set(0L, 1L, 2L, 3L, 4L, 100L))
  }

  test("read plan scans exactly the manifest's closed file list") {
    val t = freshTable()
    Snapshots.commitOverwrite(spark, t, Seq(1L, 2L).toDF("id"))
    Snapshots.commitAppend(spark, t, Seq(3L).toDF("id"))
    val v1Files = Snapshots.read(spark, t, Some(1)).inputFiles.toSet
    val v2Files = Snapshots.read(spark, t, Some(2)).inputFiles.toSet
    assert(v1Files.subsetOf(v2Files))
    assert(v2Files.size > v1Files.size)
    // a file dropped into data/ by hand never enters any plan
    Seq(99L).toDF("id").write.parquet(s"$t/data/not-committed")
    assert(Snapshots.read(spark, t, Some(2)).inputFiles.toSet === v2Files)
  }

  test("a bitrotted `# ts=` header degrades to no-timestamp (commitTimes " +
       "None, readAsOf skips, expireSnapshots keeps) instead of throwing " +
       "for the whole table") {
    val t = freshTable()
    Snapshots.commitOverwrite(spark, t, Seq(1L).toDF("id"))
    Snapshots.commitAppend(spark, t, Seq(2L).toDF("id"))
    // hand-corrupt v1's timestamp header (the bitrot/hand-edit case)
    val p = java.nio.file.Paths.get(t, "_manifests", "v00000001.txt")
    val body = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      .replaceAll("(?m)^# ts=\\d+", "# ts=17x5garbage")
    java.nio.file.Files.write(p, body.getBytes("UTF-8"))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(t, "_manifests", ".v00000001.txt.crc"))
    val times = Snapshots.commitTimes(spark, t).toMap
    assert(times(1).isEmpty && times(2).nonEmpty)
    // readAsOf resolves through v2's intact timestamp; the undatable v1
    // is skipped with the standard missing-metadata conservatism
    assert(Snapshots.readAsOf(spark, t, times(2).get)
      .select("id").as[Long].collect().toSet == Set(1L, 2L))
    // expireSnapshots keeps the undatable version (never silently expired)
    Snapshots.expireSnapshots(spark, t, olderThanMillis = Long.MaxValue)
    assert(Snapshots.versions(spark, t) == Seq(1, 2))
  }

  test("changeFeed refuses a table whose schema already carries the " +
       "reserved _op/_seq feed columns") {
    val t = freshTable()
    Snapshots.commitOverwrite(spark, t, Seq((1L, "u")).toDF("id", "_op"))
    Snapshots.commitAppend(spark, t, Seq((2L, "u")).toDF("id", "_op"))
    val e = intercept[RuntimeException] { Snapshots.changeFeed(spark, t, 1) }
    assert(e.getMessage.contains("_op"))
  }

  test("erasePlan caps its driver-side key collect: an over-cap key set " +
       "fails loudly pointing at the executor-side lanes") {
    val t = freshTable()
    Snapshots.commitOverwrite(spark, t, Seq(1L, 2L, 3L).toDF("id"))
    val keys = (0L until 50L).toDF("k")
    val e = intercept[IllegalArgumentException] {
      Snapshots.erasePlan(spark, t, "id", keys, maxKeys = 10)
    }
    assert(e.getMessage.contains("mergeIntoCommit"))
    // at or under the cap: the plan goes through
    assert(Snapshots.erasePlan(spark, t, "id", keys, maxKeys = 50)
      .rewrite.nonEmpty)
  }
}
