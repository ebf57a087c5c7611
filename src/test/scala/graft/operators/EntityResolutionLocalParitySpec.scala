package graft.operators

import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.SparkTestBase

/** The driver-side pair ledger [[EntityResolution.candidatePairs]] and
  * [[EntityResolution.candidatePairsIncrement]] build under
  * `localThreshold` must return exactly what the distributed blocking
  * passes (`localThreshold = 0`) return: the same rows and the same
  * schema, nullability included.
  */
class EntityResolutionLocalParitySpec extends SparkTestBase {

  private def frame(names: Seq[String], nullable: Boolean = true): DataFrame =
    spark.createDataFrame(names.map(Row(_)).asJava,
      StructType(Seq(StructField("name", StringType, nullable))))

  /** Non-ASCII as `\\uXXXX`, so a failure message stays plain ASCII. */
  private def esc(s: Any): String = String.valueOf(s).flatMap(c =>
    if (c >= ' ' && c < 127) c.toString else f"\\u${c.toInt}%04x")

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[LocalRelation]

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** A universe's ledger on both paths: the driver path must be taken
    * under the bound and must match the distributed rows and schema.
    */
  private def assertParity(clue: => String)(build: Long => DataFrame): Seq[String] = {
    val local = build(EntityResolution.LocalThreshold)
    val dist = build(0L)
    assert(isLocal(local), s"$clue: driver path not taken")
    assert(!isLocal(dist), s"$clue: bound 0 took the driver path")
    assert(local.schema == dist.schema, s"$clue: ${local.schema} vs ${dist.schema}")
    val (l, d) = (rows(local), rows(dist))
    assert(l == d, esc(s"$clue: driver-only ${l.diff(d)}, distributed-only ${d.diff(l)}"))
    l
  }

  private def pairs(names: Seq[String], maxEdit: Int, maxPhoneticDist: Int)(
      bound: Long): DataFrame =
    EntityResolution.candidatePairs(frame(names), "name", maxEdit, maxPhoneticDist, bound)

  private def increment(standing: Seq[String], fresh: Seq[String], maxEdit: Int,
                        maxPhoneticDist: Int)(bound: Long): DataFrame =
    EntityResolution.candidatePairsIncrement(frame(standing), frame(fresh), "name",
      maxEdit, maxPhoneticDist, bound)

  /** Letters (both cases, vowels heavy so phonetic buckets collide),
    * digits, punctuation, Latin-1, and two supplementary characters.
    */
  private val alphabet: IndexedSeq[String] =
    ("aeiouyaeiou" + "bcdfhklmnprstw" + "SMTHAE" + "19 -'" + "éßü")
      .map(_.toString) ++ Seq("😀", "𝔸")

  /** A few random stems and their one-to-three-edit variants, so the
    * fuzzy and phonetic passes both find pairs; some nulls and repeats.
    */
  private def randomUniverse(rng: Random): Seq[String] = {
    def ch = alphabet(rng.nextInt(alphabet.length))
    def edit(s: Vector[String]): Vector[String] = rng.nextInt(3) match {
      case 0 => val i = rng.nextInt(s.length + 1); s.patch(i, Seq(ch), 0)
      case 1 if s.nonEmpty => val i = rng.nextInt(s.length); s.patch(i, Nil, 1)
      case _ if s.nonEmpty => s.updated(rng.nextInt(s.length), ch)
      case _ => s :+ ch
    }
    val stems = Seq.fill(1 + rng.nextInt(5))(Vector.fill(rng.nextInt(8))(ch))
    val variants = stems.flatMap(st => st +: Seq.fill(rng.nextInt(6))(
      Iterator.iterate(st)(edit).drop(1 + rng.nextInt(3)).next()))
    val names = variants.map(_.mkString)
    rng.shuffle(names ++ names.take(rng.nextInt(3)) ++ Seq.fill(rng.nextInt(2))(null))
  }

  test("driver and distributed paths agree on 200 seeded random universes") {
    val rng = new Random(20261020L)
    var nonEmpty = 0
    for (k <- 0 until 200) {
      val names = randomUniverse(rng)
      val maxEdit = 1 + rng.nextInt(2)
      val maxPhoneticDist = rng.nextInt(4)
      val clue = s"case $k, maxEdit $maxEdit, maxPhoneticDist $maxPhoneticDist, $names"
      val got =
        if (k % 2 == 0) assertParity(clue)(pairs(names, maxEdit, maxPhoneticDist))
        else {
          val (standing, fresh) = names.partition(_ => rng.nextBoolean())
          // a few fresh names repeat standing ones, which the increment drops
          val fresh1 = fresh ++ standing.take(rng.nextInt(2))
          assertParity(s"$clue, standing $standing")(
            increment(standing, fresh1, maxEdit, maxPhoneticDist))
        }
      if (got.nonEmpty) nonEmpty += 1
    }
    assert(nonEmpty >= 120, s"only $nonEmpty of 200 cases found a pair")
  }

  test("edge cases: empty, letterless, short, non-ASCII, supplementary, " +
       "duplicate and null strings") {
    val cases = Seq(
      "empty and one-char strings" -> Seq("", "a", "b", "ab", "ba", "abc", ""),
      "no letters (phonetic key '')" -> Seq("123", "12", "1 2", "--", "", "9", "-"),
      "shorter than maxPhoneticDist + 1" -> Seq("a", "e", "ae", "ea", "aei", "s", "sa"),
      "non-ASCII" -> Seq("émile", "emile", "émil", "ßmith", "smith",
        "smyth", "müller", "muller", "mueller"),
      // U+FFFF sorts after a supplementary character in UTF-16 order,
      // before it in Spark's binary UTF-8 order
      "supplementary" -> Seq("😀", "😀a", "a😀",
        "𝔸b", "ab", "𝔸", "\uffff", "\ufffe😀"),
      "duplicates and nulls" -> Seq("smith", null, "smith", "smyth", null, "smyth",
        "smithey"),
      "all null" -> Seq(null, null),
      "empty input" -> Nil)
    // each edit budget, and every phonetic budget from 0 to 3
    val budgets = Seq((1, 0), (2, 1), (1, 2), (2, 3))
    for ((name, names) <- cases; (maxEdit, maxPhoneticDist) <- budgets) {
      val clue = s"$name, maxEdit $maxEdit, maxPhoneticDist $maxPhoneticDist"
      assertParity(clue)(pairs(names, maxEdit, maxPhoneticDist))
      val (standing, fresh) = names.splitAt(names.length / 2)
      assertParity(s"$clue, increment")(increment(standing, fresh, maxEdit, maxPhoneticDist))
    }
    // non-nullable input columns: the strings' nullability follows the
    // inputs on both paths
    def strict(names: Seq[String]) = frame(names, nullable = false)
    val names = Seq("smith", "smyth", "smithey", "smithe")
    assertParity("non-nullable universe")(t =>
      EntityResolution.candidatePairs(strict(names), "name", 1, 2, t))
    for (nullable <- Seq(true, false)) {
      assertParity(s"non-nullable standing, fresh nullable = $nullable")(t =>
        EntityResolution.candidatePairsIncrement(strict(names.take(2)),
          frame(names.drop(2), nullable), "name", 1, 2, t))
      assertParity(s"standing nullable = $nullable, non-nullable fresh")(t =>
        EntityResolution.candidatePairsIncrement(frame(names.take(2), nullable),
          strict(names.drop(2)), "name", 1, 2, t))
    }
  }

  test("the complement law holds on both paths") {
    val rng = new Random(7L)
    for (k <- 0 until 6; bound <- Seq(EntityResolution.LocalThreshold, 0L)) {
      val universe = randomUniverse(rng).filter(_ != null).distinct
      val full = rows(pairs(universe, 1, 2)(bound)).toSet
      val (standing, fresh) = universe.partition(_ => rng.nextBoolean())
      val base = rows(pairs(standing, 1, 2)(bound)).toSet
      val inc = rows(increment(standing, fresh, 1, 2)(bound)).toSet
      val clue = esc(s"case $k at bound $bound, standing $standing, fresh $fresh")
      assert(base.intersect(inc).isEmpty, s"$clue: overlap")
      assert(base.union(inc) == full, s"$clue: law broke")
    }
  }

  test("the bound counts non-null string rows, duplicates included") {
    // at a bound of 100, 100 rows take the driver path and 101 do not,
    // whatever their distinct count; nulls do not count
    val base = (0 until 100).map(i => s"n${i % 37}x${i / 37}")
    val cases = Seq(
      "100 distinct + nulls" -> (base ++ Seq(null, null), true),
      "101 distinct" -> (base :+ "n0x9", false),
      "60 distinct, 41 repeats" -> (base.take(60) ++ base.take(41), false))
    for ((name, (names, local)) <- cases) {
      val out = pairs(names, 1, 2)(100L)
      assert(isLocal(out) == local, s"$name: driver path taken = ${isLocal(out)}")
      assert(rows(out) == rows(pairs(names, 1, 2)(0L)), name)
    }
    // the increment counts standing and fresh rows together
    for ((split, local) <- Seq(60 -> true, 61 -> false)) {
      val all = base :+ "n1x9"
      val (standing, fresh) = (all.take(split), all.drop(split).take(40))
      val out = increment(standing, fresh, 1, 2)(100L)
      assert(isLocal(out) == local, s"split $split: driver path taken = ${isLocal(out)}")
      assert(rows(out) == rows(increment(standing, fresh, 1, 2)(0L)), s"split $split")
    }
  }

  test("candidate generation under the bound runs at most one job") {
    // one partition, so the bounded collect of the strings is one job;
    // the key projections and the ledger itself run none
    val names = spark.range(0, 240, 1, 1)
      .select(concat(lit("nm"), (col("id") % 80).cast("string"),
        when(col("id") % 3 === 0, lit("ey")).otherwise(lit(""))).as("name"))
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Bridge.waitListenerBusEmpty(spark)
      jobs.set(0)
      val out = EntityResolution.candidatePairs(names, "name")
      val n = out.collect().length
      Bridge.waitListenerBusEmpty(spark)
      assert(isLocal(out) && n > 0)
      assert(jobs.get <= 1, s"candidate generation ran ${jobs.get} jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
