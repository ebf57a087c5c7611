package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.{Seconds, Span}

import graft.SparkTestBase

class ComponentsSpec extends SparkTestBase with TimeLimits {

  // interrupt the test thread on timeout: Spark actions observe the
  // interrupt (job cancellation), so a reintroduced planner hang fails
  // fast with the diagnostic message instead of stalling the suite
  private implicit val signaler: Signaler = ThreadSignaler

  private def cc(edges: Seq[(Long, Long)], maxIter: Int = 20,
                 localThreshold: Long = 1000000L): Map[Long, Long] = {
    val s = spark
    import s.implicits._
    Components.connectedComponents(edges.toDF("a", "b"), "a", "b", maxIter,
      localThreshold)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("two separate components resolve to their min ids") {
    val got = cc(Seq((1L, 2L), (2L, 3L), (10L, 11L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("long chain collapses in O(log n) rounds (shortcutting, distributed path)") {
    // a 63-hop path; plain min-propagation would need 63 rounds — the
    // hooking+shortcutting loop must finish within maxIter=10.
    // localThreshold=0 forces the distributed loop (the default would take
    // the small-graph union-find fast path)
    val edges = (0L until 63L).map(i => (i, i + 1))
    val got = cc(edges, maxIter = 10, localThreshold = 0L)
    assert(got.size == 64 && got.values.forall(_ == 0L),
      s"all 64 chain nodes must label 0, got ${got.toSeq.sortBy(_._1).take(8)}...")
  }

  test("fast path and distributed path agree on the same graph") {
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L), (20L, 21L))
    assert(cc(edges) == cc(edges, localThreshold = 0L))
  }

  test("distributed path stays driver-bounded under a deep self-joined " +
       "upstream plan (stats-compounding regression)") {
    // The r10 probe finding: an edge list whose LOGICAL plan nests
    // self-joins has a size ESTIMATE that is a product over the join
    // tree; the per-iteration localCheckpoint used to carry that
    // estimate forward as originStats, so it COMPOUNDED every round
    // until the driver sat in BigInteger multiplication inside the stats
    // visitor for minutes per round. Rebuilding each checkpoint without
    // originStats keeps planning flat. This spec inflates the estimate
    // through 8 nested self-joins (a 738-digit sizeInBytes) over a 63-hop
    // chain (>= 4 loop iterations).
    //
    // Each level ends in an eager localCheckpoint. Without it, the
    // join's a-hash partitioning already satisfies the distinct, so no
    // exchange separates the levels and all 8 run as one pipeline inside
    // each task of Components' first action, every nested sort and hash
    // aggregate holding its own 64 MB page: about 2 GB per task for 63
    // rows, more than 4 concurrent tasks get from a shared test session.
    // The checkpoint keeps originStats, so the estimate reaching
    // Components is unchanged; each level runs in its own stages.
    val s = spark
    import s.implicits._
    var df = (0L until 63L).map(i => (i, i + 1)).toDF("a", "b")
    for (_ <- 0 until 8) {
      val left = df.select(col("a"), col("b"))
      val right = df.select(col("a").as("a2"), col("b").as("b2"))
      df = left.join(right, col("a") === col("a2"))
        .select(col("a"), col("b")).distinct()
        .localCheckpoint(eager = true)
    }
    // failAfter, not an after-the-fact deadline check: a reintroduced
    // hang must FAIL here with this message, not stall the suite until
    // the global timeout (ADVICE r10)
    val (got, estimate) = failAfter(Span(180, Seconds)) {
      val out = Components.connectedComponents(df, "a", "b",
        maxIter = 20, localThreshold = 0L)
      (out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap,
        out.queryExecution.optimizedPlan.stats.sizeInBytes)
    }
    assert(got.size == 64 && got.values.forall(_ == 0L))
    // What catches a lost scrub is this estimate, not the timeout: at
    // this scale a compounding loop still finishes in seconds. The
    // result is a Project over the LogicalRDD rebuilt without
    // originStats, which estimates defaultSizeInBytes, and the Project
    // keeps the row size (2 LONGs), so the result's estimate is exactly
    // that. The check goes through a Boolean with a digit-count message
    // because assert would print a compounded operand, thousands of
    // digits, in full.
    val bound = BigInt(spark.sessionState.conf.defaultSizeInBytes)
    val flat = estimate <= bound
    assert(flat, s"result size estimate has ${estimate.toString.length} " +
      s"digits, above defaultSizeInBytes ($bound): the loop carried " +
      "originStats forward")
  }

  test("clique and star shapes; ids need not be contiguous") {
    val clique = Seq((5L, 9L), (5L, 7L), (7L, 9L))
    val star = Seq((100L, 200L), (100L, 300L), (100L, 400L))
    val got = cc(clique ++ star)
    assert(got(5L) == 5L && got(7L) == 5L && got(9L) == 5L)
    assert(Seq(100L, 200L, 300L, 400L).forall(got(_) == 100L))
  }

  test("empty edge set returns an empty component table (clean corpus)") {
    val s = spark
    import s.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Components.connectedComponents(empty, "a", "b").count() == 0)
  }

  test("random graphs match a JVM union-find reference") {
    val rnd = new scala.util.Random(17)
    val n = 400
    val edges = Seq.fill(350)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
    // reference: plain union-find with path compression
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(id => id -> {
        // component = min node id in the component, restricted to nodes
        // that appear in edges (isolated ids never reach the operator)
        val root = find(id.toInt)
        edges.flatMap(e => Seq(e._1, e._2)).distinct
          .filter(o => find(o.toInt) == root).min
      }).toMap
    val got = cc(edges)
    assert(got == want)
  }

  test("keepRepresentatives drops all but the min id per group") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "x"), (2L, "x2"), (3L, "x3"), (10L, "y"), (50L, "z"))
      .toDF("doc_id", "text")
    val comps = Components.connectedComponents(
      Seq((1L, 2L), (2L, 3L)).toDF("a", "b"), "a", "b")
    val kept = Components.keepRepresentatives(df, "doc_id", comps)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // 2 and 3 drop (dupes of 1); 10 and 50 are untouched non-members
    assert(kept == Set(1L, 10L, 50L))
  }

  test("keepBestRepresentatives: families keep the max-score member, ties to min id, singletons survive") {
    val s = spark
    import s.implicits._
    // family {1,2,3}: 2 has the top score; family {10,11}: score tie ->
    // min id 10; 50 is a singleton (absent from components) and keeps
    // its own id as family label
    val df = Seq(
      (1L, 5L), (2L, 9L), (3L, 7L),
      (10L, 4L), (11L, 4L),
      (50L, 1L)).toDF("doc_id", "q_score")
    val comps = Components.connectedComponents(
      Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b"), "a", "b")
    val got = Components.keepBestRepresentatives(df, "doc_id", comps, "q_score")
      .orderBy("family")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 2L, 9L), (10L, 10L, 4L), (50L, 50L, 1L)))
  }

  test("keepBestRepresentatives with equal scores degrades to keepRepresentatives") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, 0L), (2L, 0L), (3L, 0L), (7L, 0L)).toDF("doc_id", "q_score")
    val comps = Components.connectedComponents(
      Seq((1L, 2L), (2L, 3L)).toDF("a", "b"), "a", "b")
    val best = Components.keepBestRepresentatives(df, "doc_id", comps, "q_score")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val minId = Components.keepRepresentatives(df, "doc_id", comps)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(best == minId && best == Set(1L, 7L))
  }
}
