package graft.operators

import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Random, Success, Try}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.SparkTestBase

/** The driver-side loop [[LinkGraph.pagerank]] and [[LinkGraph.hits]]
  * take under `localThreshold` must return exactly what the distributed
  * loop (`localThreshold = 0`) returns: the same rows, duplicates and
  * null ids included, and the same schema, nullability included.
  */
class LinkGraphLocalParitySpec extends SparkTestBase {

  private def longs(names: String*) =
    StructType(names.map(StructField(_, LongType, nullable = true)))

  private def frame(schema: StructType, rows: Seq[Seq[Any]]): DataFrame =
    spark.createDataFrame(rows.map(Row.fromSeq).asJava, schema)

  /** A graph as nullable long rows: node ids, (src, dst) edges and an
    * optional (id, weight) reset vector.
    */
  private case class Graph(nodes: Seq[Seq[Any]], edges: Seq[Seq[Any]],
                           reset: Option[Seq[Seq[Any]]])

  private sealed trait Algo
  private case class PageRank(scale: Long, num: Long, den: Long) extends Algo
  private case class Hits(scale: Long) extends Algo

  /** Both paths' outcome: schema plus sorted rows, or that it failed. */
  private def run(g: Graph, algo: Algo, iters: Int,
                  localThreshold: Long): Option[(StructType, Seq[String])] = {
    val nodes = frame(longs("id"), g.nodes)
    val edges = frame(longs("src", "dst"), g.edges)
    Try {
      val out = algo match {
        case PageRank(scale, num, den) =>
          LinkGraph.pagerank(edges, nodes, "src", "dst", "id", iters, scale, num, den,
            g.reset.map(frame(longs("id", "weight"), _)), localThreshold)
        case Hits(scale) =>
          LinkGraph.hits(edges, nodes, "src", "dst", "id", iters, scale, localThreshold)
      }
      (out.schema, out.collect().map(_.toString).toSeq.sorted)
    } match {
      case Success(v) => Some(v)
      case Failure(_) => None
    }
  }

  private def assertParity(g: Graph, algo: Algo, iters: Int,
                           clue: String): Option[(StructType, Seq[String])] = {
    val local = run(g, algo, iters, LinkGraph.LocalThreshold)
    val dist = run(g, algo, iters, localThreshold = 0L)
    assert(local == dist, s"$clue: $algo iters=$iters on $g")
    local
  }

  /** A small graph over ids 0..span, so edges reach ids absent from
    * the nodes; nulls, self-loops, parallel edges and dangling nodes
    * all come up.
    */
  private def randomGraph(rng: Random, seeded: Boolean): Graph = {
    val span = 2 + rng.nextInt(12)
    def id(nullP: Double): Any =
      if (rng.nextDouble() < nullP) null else rng.nextInt(span + 1).toLong
    val nodes = Seq.fill(1 + rng.nextInt(span))(Seq(id(0.05)))
    val drawn = Seq.fill(rng.nextInt(3 * span))(Seq(id(0.06), id(0.06)))
    val edges = drawn ++ drawn.take(rng.nextInt(3)) // parallel copies
    val reset = if (!seeded) None else Some(
      Seq.fill(1 + rng.nextInt(span))(
        Seq(id(0.1), if (rng.nextDouble() < 0.1) null else rng.nextInt(4).toLong)))
    Graph(nodes, edges, reset)
  }

  test("local and distributed paths agree on 200 seeded random graphs") {
    val rng = new Random(20261019L)
    var succeeded = 0
    for (k <- 0 until 200) {
      val algo = k % 3 match {
        case 2 => Hits(Seq(1000000L, 7L)(rng.nextInt(2)))
        case _ =>
          val (num, den) = Seq((85L, 100L), (1L, 2L), (9L, 10L))(rng.nextInt(3))
          PageRank(Seq(1000000000000L, 1000L)(rng.nextInt(2)), num, den)
      }
      val g = randomGraph(rng, seeded = k % 3 == 1)
      if (assertParity(g, algo, 1 + rng.nextInt(6), s"case $k").isDefined)
        succeeded += 1
    }
    // failures agree too (a zero total reset weight), but most cases
    // must compare actual rows
    assert(succeeded >= 150, s"only $succeeded of 200 cases ran")
  }

  test("edge cases: edgeless, single node, null ids, reset ids absent, " +
       "zero-weight and duplicated") {
    val pr = PageRank(1000000000000L, 85L, 100L)
    val hits = Hits(1000000L)
    val cases = Seq(
      "edgeless" -> Graph(Seq(Seq(1L), Seq(2L), Seq(3L)), Nil, None),
      "single node" -> Graph(Seq(Seq(5L)), Nil, None),
      "single node, self-loop" -> Graph(Seq(Seq(5L)), Seq(Seq(5L, 5L)), None),
      "null ids everywhere" -> Graph(
        Seq(Seq(null), Seq(1L), Seq(2L)),
        Seq(Seq(null, 1L), Seq(1L, null), Seq(1L, 2L), Seq(2L, 9L), Seq(9L, 1L),
          Seq(null, null)), None),
      "reset: absent, zero-weight, duplicate, null" -> Graph(
        Seq(Seq(0L), Seq(1L), Seq(2L), Seq(null)),
        Seq(Seq(0L, 1L), Seq(1L, 2L), Seq(2L, 0L), Seq(2L, 1L)),
        Some(Seq(Seq(0L, 2L), Seq(0L, 3L), Seq(1L, 0L), Seq(7L, 5L), Seq(null, 4L),
          Seq(2L, null)))))
    for ((name, g) <- cases; algo <- Seq(pr, hits); iters <- Seq(1, 4)) {
      assert(assertParity(g, algo, iters, name).isDefined,
        s"$name: $algo failed on both paths")
    }
    // a non-nullable id column keeps a non-nullable id on both paths
    val s = spark
    import s.implicits._
    val ns = Seq(1L, 2L, 3L).toDF("id")
    val es = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val pair = Seq(LinkGraph.LocalThreshold, 0L).map(t => LinkGraph.pagerank(es, ns,
      "src", "dst", "id", 2, 1000000000000L, 85L, 100L, None, t))
    assert(!pair.head.schema("id").nullable)
    assert(pair.head.schema == pair(1).schema)
    assert(pair.head.collect().toSet == pair(1).collect().toSet)
  }

  test("an overflowing totalScale fails on both paths") {
    // r0 = scale div 3 ≈ 7.7e17, so 85 · (inflow + dangling share)
    // overflows a long in the first round
    val g = Graph(Seq(Seq(0L), Seq(1L), Seq(2L)), Seq(Seq(0L, 1L)), None)
    val algo = PageRank(Long.MaxValue / 4, 85L, 100L)
    assert(run(g, algo, 2, LinkGraph.LocalThreshold).isEmpty)
    assert(run(g, algo, 2, localThreshold = 0L).isEmpty)
  }

  test("the bound counts edge, node and reset rows together") {
    // at a bound of 100 rows, every graph past it (on edges alone, on
    // edges + nodes, or only with a large reset table) takes the
    // distributed loop, and a graph at exactly 100 rows the local one
    def ids(n: Int) = (0 until n).map(i => Seq[Any](i.toLong))
    def ring(m: Int, n: Int) = (0 until m).map(i => Seq[Any](i.toLong % n, (i + 1L) % n))
    def weights(m: Int) = Some((0 until m).map(i => Seq[Any](i.toLong, 1L + i % 3)))
    val cases = Seq(
      "101 edges" -> (Graph(ids(5), ring(101, 5), None), false),
      "50 edges + 60 nodes" -> (Graph(ids(60), ring(50, 60), None), false),
      "30 + 30 + a 50-row reset" -> (Graph(ids(30), ring(30, 30), weights(50)), false),
      "30 + 30 + a 40-row reset" -> (Graph(ids(30), ring(30, 30), weights(40)), true))
    for ((name, (g, local)) <- cases) {
      val out = LinkGraph.pagerank(frame(longs("src", "dst"), g.edges),
        frame(longs("id"), g.nodes), "src", "dst", "id", 3, 1000000000000L, 85L, 100L,
        g.reset.map(frame(longs("id", "weight"), _)), 100L)
      val ranLocal = out.queryExecution.analyzed.collectFirst {
        case _: LocalRelation => true
      }.isDefined
      assert(ranLocal == local, s"$name: local path taken = $ranLocal")
      assert(out.collect().map(_.toString).toSeq.sorted ==
        run(g, PageRank(1000000000000L, 85L, 100L), 3, 0L).get._2, name)
    }
  }

  test("a local pagerank build runs a fixed handful of jobs, whatever iters") {
    val s = spark
    import s.implicits._
    val ns = (0L until 60L).toDF("id")
    val es = (0L until 60L).flatMap(i => Seq((i, (i * 7 + 3) % 60), (i, (i * 11 + 1) % 60)))
      .toDF("src", "dst")
    val seeds = Seq((0L, 1L), (30L, 2L)).toDF("id", "weight")
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    def jobsFor(iters: Int): Int = {
      Bridge.waitListenerBusEmpty(spark)
      jobs.set(0)
      LinkGraph.pagerank(es, ns, "src", "dst", "id", iters, reset = Some(seeds))
      Bridge.waitListenerBusEmpty(spark)
      jobs.get
    }
    try {
      val few = jobsFor(1)
      val many = jobsFor(6)
      assert(few == many, s"local build ran $few jobs at iters=1, $many at iters=6")
      assert(many <= 4, s"local build ran $many jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
