package graft.operators

import org.apache.spark.sql.DataFrame

import graft.SparkTestBase

class LinkGraphSpec extends SparkTestBase {

  private def nodes(ids: Long*) = {
    val s = spark
    import s.implicits._
    ids.toDF("id")
  }

  private def edges(es: (Long, Long)*) = {
    val s = spark
    import s.implicits._
    es.toDF("src", "dst")
  }

  /** Every test runs at the default bound, which takes the driver-side
    * loop, and at 0, which forces the distributed loop.
    */
  private val thresholds = Seq(LinkGraph.LocalThreshold, 0L)

  private def pagerank(es: DataFrame, ns: DataFrame, iters: Int, t: Long,
                       reset: Option[DataFrame] = None) =
    LinkGraph.pagerank(es, ns, "src", "dst", "id", iters, 1000000000000L, 85L, 100L,
      reset, t)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def run(es: Seq[(Long, Long)], ns: Seq[Long], iters: Int, t: Long) =
    pagerank(edges(es: _*), nodes(ns: _*), iters, t)

  test("one iteration matches the hand-computed fixed-point arithmetic") {
    // 0 -> {1, 2}, 1 -> {2}, 2 dangling. n = 3, scale 1e12:
    // r0 = 333333333333 each, teleport = 50000000000,
    // dangling share = 333333333333 div 3 = 111111111111
    for (t <- thresholds) {
      val r = run(Seq((0L, 1L), (0L, 2L), (1L, 2L)), Seq(0L, 1L, 2L), iters = 1, t)
      assert(r(0L) == 144444444444L) // teleport + 85% of dangling share
      assert(r(1L) == 286111111110L) // + 333333333333 div 2 inflow
      assert(r(2L) == 569444444443L) // + that and all of node 1's rank
      // truncation bleeds a few units, never gains
      assert(r.values.sum <= 1000000000000L)
      assert(r.values.sum >= 1000000000000L - 10L)
    }
  }

  test("hub of a star graph accumulates the highest rank") {
    val spokes = (1L to 9L)
    for (t <- thresholds) {
      val r = run(spokes.map(i => (i, 0L)), 0L +: spokes, iters = 3, t)
      val hub = r(0L)
      assert(spokes.forall(i => r(i) < hub))
      // spokes are symmetric — identical rank
      assert(spokes.map(r).toSet.size == 1)
    }
  }

  test("all-dangling graph (no edges at all) stays uniform") {
    // mass redistributes uniformly every round; with n | scale there is
    // no truncation and every node keeps exactly scale/n
    for (t <- thresholds) {
      val r = run(Seq.empty, Seq(1L, 2L, 3L, 4L), iters = 3, t)
      assert(r.values.toSet == Set(250000000000L))
    }
  }

  test("result is bit-identical under different input partitioning") {
    val es = (0L until 60L).flatMap(i => Seq((i, (i * 7 + 3) % 60), (i, (i * 13 + 5) % 60)))
      .filter { case (a, b) => a != b && a % 11 != 0 }
    val ns = (0L until 60L)
    for (t <- thresholds) {
      val base = run(es, ns, iters = 4, t)
      val repart = pagerank(edges(es: _*).repartition(7), nodes(ns: _*).repartition(3),
        iters = 4, t)
      assert(base == repart)
    }
  }

  test("seeded reset: teleport and dangling mass flow only to seed nodes") {
    val s = spark
    import s.implicits._
    // chain 0 -> 1 -> 2, seed = {0}: W = 1, node 2 dangling
    // r0 = 333333333333 each; teleport(0) = 15e12 div 100 = 150000000000
    // inflow: 1 <- 333333333333, 2 <- 333333333333; dm = 333333333333
    val seeds = Seq((0L, 1L)).toDF("id", "weight")
    for (t <- thresholds) {
      val r = pagerank(edges((0L, 1L), (1L, 2L)), nodes(0L, 1L, 2L), iters = 1, t,
        reset = Some(seeds))
      assert(r(0L) == 150000000000L + (85L * 333333333333L) / 100L)
      assert(r(1L) == (85L * 333333333333L) / 100L)
      assert(r(2L) == (85L * 333333333333L) / 100L)
    }
  }

  test("uniform reset vector reproduces plain pagerank exactly") {
    val s = spark
    import s.implicits._
    val es = (0L until 40L).map(i => (i, (i * 3 + 1) % 40)).filter(p => p._1 != p._2)
    val ns = (0L until 40L)
    val uni = ns.map((_, 1L)).toDF("id", "weight")
    for (t <- thresholds) {
      val plain = run(es, ns, iters = 3, t)
      val seeded = pagerank(edges(es: _*), nodes(ns: _*), iters = 3, t, reset = Some(uni))
      assert(plain == seeded)
    }
  }

  test("mass conservation and teleport floor over seeded random graphs") {
    // truncation only ever LOSES mass (bounded per round by a few units
    // per node/edge), and teleport is every node's guaranteed floor
    for (seed <- Seq(1L, 7L, 23L); t <- thresholds) {
      val rng = new scala.util.Random(seed)
      val n = 20 + rng.nextInt(30)
      val ns = (0L until n.toLong)
      val es = (0 until n * 2).map(_ =>
          (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter(p => p._1 != p._2)
      val iters = 4
      val r = run(es, ns, iters, t)
      val total = 1000000000000L
      val teleport = (15L * total) / (100L * n)
      assert(r.values.sum <= total)
      assert(r.values.sum >= total - iters.toLong * (3L * n + es.size + 100L))
      assert(r.values.min >= teleport)
    }
  }

  private def hits(es: DataFrame, ns: DataFrame, iters: Int, t: Long) =
    LinkGraph.hits(es, ns, "src", "dst", "id", iters, 1000000L, t)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

  private def runHits(es: Seq[(Long, Long)], ns: Seq[Long], iters: Int, t: Long) =
    hits(edges(es: _*), nodes(ns: _*), iters, t)

  test("hits separates hubs from authorities, hand-computed normalization") {
    // 0 -> 2, 1 -> 2: nodes 0/1 are pure hubs, node 2 a pure authority.
    // round 1: a_raw(2) = 2e6, total 2e6 -> a(2) = 1e6;
    //          h_raw(0) = h_raw(1) = 1e6, total 2e6 -> h = 5e5 each.
    // round 2: a_raw(2) = 1e6, total 1e6 -> a(2) = 1e6; hubs as before.
    for (t <- thresholds) {
      val r = runHits(Seq((0L, 2L), (1L, 2L)), Seq(0L, 1L, 2L), iters = 2, t)
      assert(r(0L) == ((500000L, 0L)))
      assert(r(1L) == ((500000L, 0L)))
      assert(r(2L) == ((0L, 1000000L)))
    }
  }

  test("hits on an edgeless graph is all zeros (guarded normalization)") {
    for (t <- thresholds) {
      val r = runHits(Seq.empty, Seq(1L, 2L), iters = 1, t)
      assert(r.values.toSet == Set((0L, 0L)))
    }
  }

  test("hits is bit-identical under different input partitioning") {
    val es = (0L until 50L).map(i => (i, (i * 7 + 1) % 50)).filter(p => p._1 != p._2)
    val ns = (0L until 50L)
    for (t <- thresholds) {
      val base = runHits(es, ns, iters = 3, t)
      val repart = hits(edges(es: _*).repartition(11), nodes(ns: _*).repartition(5),
        iters = 3, t)
      assert(base == repart)
    }
  }

  test("parallel edges count twice (multigraph semantics)") {
    // 0 -> 1 twice and 0 -> 2 once: outdeg 3, node 1 gets 2 shares
    // r0 = 333333333333, share = 111111111111
    // node1 inflow 222222222222, node2 inflow 111111111111,
    // dangling mass = r0(1) + r0(2) = 666666666666, dm div 3 = 222222222222
    for (t <- thresholds) {
      val r = run(Seq((0L, 1L), (0L, 1L), (0L, 2L)), Seq(0L, 1L, 2L), iters = 1, t)
      assert(r(1L) - r(2L) ==
        (85L * (222222222222L + 222222222222L)) / 100L -
          (85L * (111111111111L + 222222222222L)) / 100L)
    }
  }

  test("a rank scale past Long range fails loudly on both paths") {
    // (dampDen - dampNum) * totalScale = 15 * 1e18 does not fit a Long;
    // unchecked, it wrapped and the teleport term went negative silently
    val ring = (0L until 100L).map(i => (i, (i + 1) % 100L))
    for (t <- thresholds) {
      intercept[ArithmeticException] {
        LinkGraph.pagerank(edges(ring: _*), nodes(0L until 100L: _*), "src", "dst",
          "id", 2, 1000000000000000000L, 85L, 100L, None, t).collect()
      }
    }
  }
}
