package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** Every version-file writer goes through one commit path: each version
  * file carries exactly its writer's headers in the fixed order, and a
  * commit planned against a head that a racing commit moved refuses with
  * [[Snapshots.ConcurrentCommitException]] and publishes nothing.
  */
class SnapshotCommitPathSpec extends SparkTestBase {
  import spark.implicits._

  private def freshTable(): String =
    java.nio.file.Files.createTempDirectory("graft_commit").toString + "/t"

  private def ids(t: String): Set[Long] =
    Snapshots.read(spark, t).select("id").as[Long].collect().toSet

  /** The header keys of a version file in file order (`# ts=1` -> `ts`);
    * fails if a header line follows a body line.
    */
  private def headers(t: String, chain: String, v: Int): Seq[String] = {
    val lines = scala.io.Source.fromFile(f"$t/$chain/v$v%08d.txt", "UTF-8")
      .getLines().toList
    val (hs, body) = lines.span(_.startsWith("#"))
    assert(!body.exists(_.startsWith("#")), s"$chain v$v: header after body: $lines")
    hs.map(_.drop(2).takeWhile(_ != '='))
  }

  private val Data = Seq("ts", "schema")
  private val Tokened = Seq("ts", "token", "schema")
  private val Maintenance = Seq("ts", "dataChange", "schema")

  test("every writer publishes # ts= first and exactly its headers, in order") {
    val base = (0L until 40L).map(i => (i, s"v$i")).toDF("id", "tag")
    def row(i: Long) = Seq((i, s"n$i")).toDF("id", "tag")
    val t = freshTable()
    val got = Seq.newBuilder[(String, Seq[String], Seq[String])]
    def check(label: String, v: Int, want: Seq[String],
              table: String = t, chain: String = "_manifests"): Unit =
      got += ((label, headers(table, chain, v), want))

    val t0 = freshTable()
    base.write.format("graft-snapshot").mode("errorifexists").save(t0)
    check("first version (format writer)", 1, Data, t0)
    check("overwrite", Snapshots.commitOverwrite(spark, t, base, Seq("id")), Data)
    check("append", Snapshots.commitAppend(spark, t, row(100)), Data)
    check("append-once", Snapshots.commitAppendOnce(spark, t, row(101), "a1").get, Tokened)
    check("overwrite-once",
      Snapshots.commitOverwriteOnce(spark, t, base, "o1", statsCols = Seq("id")).get, Tokened)
    Snapshots.commitAppend(spark, t, row(102))
    Snapshots.commitAppend(spark, t, row(103))
    check("fold", Snapshots.checkpointMetadataCommit(spark, t), Maintenance)
    check("small-file compaction",
      Snapshots.compactSmallFilesCommit(spark, t, 1L << 20, 1L << 20), Maintenance)
    check("compaction", Snapshots.compactCommit(spark, t, 1L << 20), Maintenance)
    check("ordered compaction",
      Snapshots.compactCommitOrdered(spark, t, 1L << 20, "id"), Maintenance)
    check("bucketed compaction",
      Snapshots.compactCommitBucketed(spark, t, 1L << 20, "id", 4, Seq("id")), Maintenance)
    check("erase purge", Snapshots.erasePurgeCommit(spark, t, "id", Seq(1L).toDF("k")), Data)
    check("delete where", Snapshots.deleteWhereCommit(spark, t,
      Seq(Snapshots.LongRange("id", 30L, 31L))), Data)
    check("update where", Snapshots.updateWhereCommit(spark, t,
      Seq(Snapshots.LongRange("id", 10L, 10L)), Map("tag" -> lit("u"))), Data)
    val batch = Seq((5L, "m5", 1L, "u"), (6L, null, 1L, "d")).toDF("id", "tag", "seq", "op")
    val merged = Snapshots.mergeIntoCommit(spark, t, "id", batch, Some("seq"), Some("op"),
      token = Some("m1"))
    check("tokened merge", merged, Tokened)
    assert(Snapshots.mergeIntoCommit(spark, t, "id", batch, Some("seq"), Some("op"),
      token = Some("m1")) == merged, "a replayed merge token returns the head")
    check("MoR erase", Snapshots.eraseMoRCommit(spark, t, "id", Seq(2L).toDF("k")), Data)
    check("rollback", Snapshots.rollbackCommit(spark, t, merged), Data)

    Snapshots.createBranch(spark, t, "b")
    check("branch create", 1, Seq("ts", "fork", "schema"), chain = "_branches/b")
    check("branch append", Snapshots.commitAppendToBranch(spark, t, "b", row(200)), Data,
      chain = "_branches/b")
    check("fast-forward", Snapshots.fastForwardMerge(spark, t, "b"), Data)
    Snapshots.createBranch(spark, t, "c")
    Snapshots.commitAppendToBranch(spark, t, "c", row(201))
    Snapshots.commitAppend(spark, t, row(202))
    check("branch merge", Snapshots.mergeBranch(spark, t, "c"), Data)

    val dst = freshTable()
    check("clone", Snapshots.cloneTable(spark, t, dst).version, Data, dst)

    val wrong = got.result().filter { case (_, h, want) => h != want }
    assert(wrong.isEmpty, wrong.map { case (l, h, want) =>
      s"$l: got ${h.mkString(",")}, want ${want.mkString(",")}" }.mkString("; "))
  }

  test("a rewrite planned on a head that a racing append moved refuses and " +
       "publishes nothing") {
    val t = freshTable()
    Snapshots.commitOverwrite(spark, t, (0L until 10L).toDF("id"))
    val stale = Snapshots.headVersion(spark, t).get
    val schema = Snapshots.committedSchema(spark, t, stale).get
    val carry = Snapshots.entries(spark, t, Some(stale))
    val racer = Snapshots.commitAppend(spark, t, Seq(10L).toDF("id"))
    val e = intercept[Snapshots.ConcurrentCommitException] {
      Snapshots.rewriteCommit(spark, t, "compaction", stale, schema, carry,
        Some(Seq(11L).toDF("id")), Nil, maintenance = true)
    }
    assert(e.isInstanceOf[IllegalArgumentException])
    assert(e.getMessage ==
      s"concurrent commit during compaction (head moved v$stale -> v$racer); rerun")
    assert(Snapshots.versions(spark, t) == Seq(stale, racer))
    assert(ids(t) == (0L to 10L).toSet)

    // a fast-forward is planned on the fork: a main that moved refuses
    // with the same type
    Snapshots.createBranch(spark, t, "b")
    Snapshots.commitAppend(spark, t, Seq(12L).toDF("id"))
    val head = Snapshots.versions(spark, t)
    intercept[Snapshots.ConcurrentCommitException] {
      Snapshots.fastForwardMerge(spark, t, "b")
    }
    assert(Snapshots.versions(spark, t) == head)
  }

  test("a fold that loses the race to an append still lets the user's " +
       "append land") {
    val t = freshTable()
    Snapshots.commitOverwrite(spark, t, Seq(0L).toDF("id"))
    (1L to 4L).foreach(i => Snapshots.commitAppend(spark, t, Seq(i).toDF("id")))
    // 5 body references, 4 of them foldable: past a threshold of 4
    val stale = Snapshots.headVersion(spark, t).get
    val racer = Snapshots.commitAppend(spark, t, Seq(5L).toDF("id"))
    // the append path's fold, planned on the head the racer moved: it
    // loses, publishes nothing and does not fail the append
    Snapshots.autoFold(spark, t, stale, 4)
    assert(Snapshots.versions(spark, t) == (1 to racer))
    val v = Snapshots.commitAppend(spark, t, Seq(6L).toDF("id"), 4)
    assert(ids(t) == (0L to 6L).toSet)
    // the append's own fold, planned on the fresh head, landed before it
    assert(Snapshots.versions(spark, t) == (1 to v))
    assert(Snapshots.isMaintenanceVersion(spark, t, v - 1) &&
      !Snapshots.isMaintenanceVersion(spark, t, v))
  }
}
