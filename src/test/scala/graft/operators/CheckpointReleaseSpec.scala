package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** `Dataset.unpersist` frees nothing behind a `localCheckpoint` result,
  * so the iterative operators free each superseded checkpoint's RDD
  * themselves, and [[CacheTracker.release]] frees only the checkpoints
  * it was handed.
  */
class CheckpointReleaseSpec extends SparkTestBase {

  private def pinned: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Ids of every RDD the frame's plan reads, through its LogicalRDD leaves. */
  private def lineage(df: DataFrame): Set[Int] = {
    def walk(rdd: RDD[_]): Set[Int] =
      rdd.dependencies.map(d => walk(d.rdd)).foldLeft(Set(rdd.id))(_ ++ _)
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => walk(lr.rdd) }
      .foldLeft(Set.empty[Int])(_ ++ _)
  }

  /** After the build and one action on its result, the RDDs the build
    * left persisted are all read by the result.
    */
  private def leftPinned(build: => DataFrame): (Set[Int], Set[Int]) = {
    val before = pinned
    val out = build
    out.collect()
    (pinned -- before, lineage(out))
  }

  private def edges = {
    val s = spark
    import s.implicits._
    (0L until 40L).flatMap(i => Seq((i, (i * 7 + 3) % 40), (i, (i + 1) % 40)))
      .toDF("src", "dst")
  }

  private def nodes = {
    val s = spark
    import s.implicits._
    (0L until 40L).toDF("id")
  }

  test("distributed paths keep only the checkpoint the result reads") {
    val s = spark
    import s.implicits._
    val seeds = Seq((0L, 1L), (7L, 3L)).toDF("id", "weight")
    val builds = Seq[(String, () => DataFrame)](
      "connectedComponents" -> (() => Components.connectedComponents(
        edges.filter(col("src") % 5 =!= 0), "src", "dst", 20, 0L)),
      "pagerank" -> (() => LinkGraph.pagerank(edges, nodes, "src", "dst", "id", 3,
        1000000000000L, 85L, 100L, Some(seeds), 0L)),
      "hits" -> (() => LinkGraph.hits(edges, nodes, "src", "dst", "id", 3, 1000000L, 0L)))
    for ((name, build) <- builds) {
      val (left, read) = leftPinned(build())
      assert(left.nonEmpty, s"$name: the result reads a checkpoint")
      assert(left.subsetOf(read),
        s"$name left ${left -- read} persisted that its result does not read")
    }
  }

  test("local paths leave nothing persisted") {
    val builds = Seq[(String, () => DataFrame)](
      "connectedComponents" -> (() =>
        Components.connectedComponents(edges, "src", "dst")),
      "pagerank" -> (() => LinkGraph.pagerank(edges, nodes, "src", "dst", "id", 3)),
      "hits" -> (() => LinkGraph.hits(edges, nodes, "src", "dst", "id", 3)))
    for ((name, build) <- builds)
      assert(leftPinned(build())._1.isEmpty, s"$name left RDDs persisted")
  }

  test("CacheTracker.release frees only the checkpoint it owns") {
    val other = spark.range(0, 50).toDF("id").localCheckpoint(eager = true)
    val tracker = new CacheTracker
    // a plan composed over another live checkpoint does not own it
    intercept[IllegalArgumentException] {
      tracker.ownCheckpointed(other.select((col("id") * 2).as("x")))
    }
    val mine = tracker.ownCheckpointed(
      other.select((col("id") * 2).as("x")).localCheckpoint(eager = true))
    val mineRdd = CacheTracker.checkpointRdd(mine).id
    assert(pinned.contains(mineRdd))
    tracker.release()
    assert(!pinned.contains(mineRdd))
    assert(other.agg(sum("id")).head.getLong(0) == 1225L)
    CacheTracker.freeCheckpoint(other)
  }
}
