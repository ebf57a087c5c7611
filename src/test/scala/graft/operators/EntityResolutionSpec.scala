package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class EntityResolutionSpec extends SparkTestBase {
  import spark.implicits._

  /** The candidate tests run on the driver path and, at bound 0, on
    * the distributed passes.
    */
  private val bounds = Seq(EntityResolution.LocalThreshold, 0L)

  test("candidatePairs: union of both passes with merged flags and exact dist") {
    // smith/smyth: 1 substitution -> fuzzy AND phonetic (same key S530)
    // phillips/philips: doubled consonant, d=1 -> both passes
    // smith/smithey: vowel tail, d=2 -> phonetic ONLY (fuzzy budget is 1)
    // smith/zzzz: unrelated -> no pair
    val names = Seq("smith", "smyth", "smithey", "phillips", "philips", "zzzz")
      .toDF("name")
    for (bound <- bounds) {
      val got = EntityResolution.candidatePairs(names, "name",
        maxEdit = 1, maxPhoneticDist = 2, localThreshold = bound)
        .select("str_a", "str_b", "dist", "via_fuzzy", "via_phonetic")
        .as[(String, String, Int, Int, Int)].collect().toSet
      assert(got.contains(("smith", "smyth", 1, 1, 1)))
      assert(got.contains(("philips", "phillips", 1, 1, 1)))
      assert(got.contains(("smith", "smithey", 2, 0, 1)))
      assert(!got.exists(p => p._1 == "zzzz" || p._2 == "zzzz"))
      // one row per pair even when both passes surface it
      assert(got.count(p => p._1 == "smith" && p._2 == "smyth") == 1)
    }
  }

  test("candidatePairs: duplicate input rows collapse to distinct strings") {
    val names = Seq("abc", "abc", "abd", "abd", "abd").toDF("name")
    for (bound <- bounds) {
      val got = EntityResolution.candidatePairs(names, "name", 1, 2, bound)
      assert(got.count() == 1) // one (abc, abd) pair, not 2x3
    }
  }

  test("evidenceScore: distance bands dominate, phonetic breaks ties, cosine orders within") {
    val df = Seq(
      (1, 0, 1000L), // d1, no phonetic, perfect cosine
      (1, 1, -500L), // d1, phonetic, bad cosine
      (2, 1, 1000L), // d2, phonetic, perfect cosine
      (0, 0, 0L)     // exact match, no other evidence
    ).toDF("dist", "via_phonetic", "cos_pm")
      .withColumn("score", EntityResolution.evidenceScore(
        col("dist"), col("via_phonetic"), col("cos_pm")))
      .select("score").as[Long].collect()
    assert(df(3) > df(1) && df(1) > df(0) && df(0) > df(2),
      s"band ordering violated: ${df.toSeq}")
    // within a (dist, phonetic) band the cosine decides
    assert(df(0) - (df(1) - 3000000L) == 1500L)
  }

  test("labelFamilies: component label else singleton's own canonical id") {
    val records = Seq((10L, "a"), (11L, "a"), (20L, "b"), (30L, "c"))
      .toDF("rec_id", "name")
    val nameIds = Seq(("a", 10L), ("b", 20L), ("c", 30L)).toDF("name", "nid")
    val edges = Seq((10L, 20L)).toDF("nid_a", "nid_b")
    val comps = Components.connectedComponents(edges, "nid_a", "nid_b")
    val fams = EntityResolution.labelFamilies(records, "name", nameIds, "nid", comps)
      .select("rec_id", "family").as[(Long, Long)].collect().toMap
    assert(fams(10L) == 10L && fams(11L) == 10L) // both 'a' records
    assert(fams(20L) == 10L)                     // 'b' joined a's component
    assert(fams(30L) == 30L)                     // singleton: own nid
  }

  test("quantizedCosinePm: exact per-mille, identical vectors read 1000") {
    val df = Seq(
      (Seq(3, 4, 0), Seq(3, 4, 0)),   // identical -> cos 1 -> 1000
      (Seq(1, 0, 0), Seq(0, 1, 0)),   // orthogonal -> 0
      (Seq(2, 0, 0), Seq(-2, 0, 0)),  // opposite -> floor(-1000.0) = -1000
      (Seq(1, 1, 0), Seq(1, 0, 0))    // cos = 1/sqrt(2) -> floor(707.1..) = 707
    ).toDF("a", "b")
      .select(Similarity.quantizedCosinePm(col("a"), col("b")).as("pm"))
      .as[Long].collect()
    assert(df.toSeq == Seq(1000L, 0L, -1000L, 707L))
  }

  test("quantizedCosinePm: zero vector yields NULL, not a division error") {
    val out = Seq((Seq(0, 0), Seq(1, 2))).toDF("a", "b")
      .select(Similarity.quantizedCosinePm(col("a"), col("b")).as("pm"))
      .collect()
    assert(out.head.isNullAt(0))
  }

  test("candidate complement law: pairs(all) == pairs(standing) UNION " +
       "increment(standing, fresh), disjointly, under random splits") {
    // a universe with fuzzy-only, phonetic-only, both-pass and isolated
    // names, so every pair class crosses the split somewhere
    val universe = Seq("smith", "smyth", "smithe", "smithey", "phillips",
      "philips", "filips", "jonson", "johnson", "jonsen", "brown", "braun",
      "browne", "zzzz", "qqqq")
    def pairSet(df: org.apache.spark.sql.DataFrame) = df
      .select("str_a", "str_b", "dist", "via_fuzzy", "via_phonetic")
      .as[(String, String, Int, Int, Int)].collect().toSet
    for (bound <- bounds) {
      val full = pairSet(EntityResolution.candidatePairs(
        universe.toDF("name"), "name", 1, 2, bound))
      assert(full.nonEmpty)
      for (seed <- Seq(5, 17, 41)) {
        val rnd = new scala.util.Random(seed)
        val (standing, fresh) = universe.partition(_ => rnd.nextBoolean())
        val sDf = standing.toDF("name")
        val base = pairSet(EntityResolution.candidatePairs(sDf, "name", 1, 2, bound))
        val inc = pairSet(EntityResolution.candidatePairsIncrement(
          sDf, fresh.toDF("name"), "name", 1, 2, bound))
        assert(base.intersect(inc).isEmpty, s"overlap at seed $seed, bound $bound")
        assert(base.union(inc) == full, s"law broke at seed $seed, bound $bound: " +
          s"missing ${full.diff(base.union(inc))}, extra ${base.union(inc).diff(full)}")
      }
      // fresh strings already standing contribute nothing new
      val inc2 = EntityResolution.candidatePairsIncrement(
        universe.toDF("name"), Seq("smith", "smyth").toDF("name"), "name", 1, 2, bound)
      assert(inc2.count() == 0)
    }
  }

  test("mergeComponents absorb law: components(E1 UNION E2) == " +
       "mergeComponents(components(E1), E2) under random edge splits") {
    val rndAll = new scala.util.Random(99)
    // a random sparse graph over 40 nodes: enough to have several
    // multi-node components that E2 edges bridge
    val edges = (0 until 50).map(_ =>
      (rndAll.nextInt(40).toLong, rndAll.nextInt(40).toLong))
      .filter(e => e._1 != e._2).distinct
    def labelMap(df: org.apache.spark.sql.DataFrame) = df
      .select("id", "component").as[(Long, Long)].collect().toMap
    for (seed <- Seq(3, 29)) {
      val rnd = new scala.util.Random(seed)
      val (e1, e2) = edges.partition(_ => rnd.nextBoolean())
      val direct = labelMap(Components.connectedComponents(
        (e1 ++ e2).toDF("nid_a", "nid_b"), "nid_a", "nid_b"))
      val absorbed = labelMap(EntityResolution.mergeComponents(
        Components.connectedComponents(e1.toDF("nid_a", "nid_b"),
          "nid_a", "nid_b"),
        e2.toDF("nid_a", "nid_b"), "nid_a", "nid_b"))
      assert(absorbed == direct, s"absorb law broke at seed $seed")
    }
  }
}
