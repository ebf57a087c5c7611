package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkTestBase

class NgramLmSpec extends SparkTestBase {
  import spark.implicits._

  // train corpus "a b a b c": c(a)=2 c(b)=2 c(c)=1, N=5
  // bigrams: (a,b)=2 (b,a)=1 (b,c)=1
  private lazy val model =
    NgramLm.trainBigram(Seq("a b a b c").toDF("text"), "text")

  test("trainBigram: hand-computed counts and fixed-point scores") {
    val (bi, uni) = model
    val biMap = bi.collect().map(r =>
      (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(biMap === Map(
      ("a", "b") -> ((2L, 1000000L)), // 1e6*2 div 2
      ("b", "a") -> ((1L, 500000L)),  // 1e6*1 div 2
      ("b", "c") -> ((1L, 500000L))))
    val uniMap = uni.collect().map(r =>
      r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // uni_score = (2e6 * cw) div (5 * 5)
    assert(uniMap === Map(
      "a" -> ((2L, 160000L)),
      "b" -> ((2L, 160000L)),
      "c" -> ((1L, 80000L))))
  }

  test("scoreBigram: seen bigram, backoff, OOV-zero, short docs dropped") {
    val (bi, uni) = model
    val docs = Seq(
      (1L, "a b c a"), // (a,b)=1e6, (b,c)=5e5, (c,a) backoff uni(a)=160000
      (2L, "z z"),     // bigram unseen, z OOV -> 0
      (3L, "a")        // no bigram -> no row
    ).toDF("id", "text")
    val got = NgramLm.scoreBigram(docs, "id", "text", bi, uni)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got === Map(
      1L -> ((3L, 1660000L, 553333L)),
      2L -> ((1L, 0L, 0L))))
  }

  test("tokenization is case- and whitespace-insensitive") {
    val (bi, uni) = model
    val got = NgramLm.scoreBigram(
      Seq((1L, "A   B"), (2L, "a b")).toDF("id", "text"), "id", "text", bi, uni)
      .collect().map(r => (r.getLong(2), r.getLong(3))).toSet
    assert(got === Set((1000000L, 1000000L))) // both score identically
  }

  test("scores are bounded by the fixed-point scale") {
    // random-ish corpus; train on itself — every score must be in [0, Scale]
    val corpus = (0 until 50).map { i =>
      (i.toLong, Seq.tabulate(20)(j => s"w${(i * 7 + j * 3) % 11}").mkString(" "))
    }.toDF("id", "text")
    val (bi, uni) = NgramLm.trainBigram(corpus, "text")
    val bad = NgramLm.scoreBigram(corpus, "id", "text", bi, uni)
      .filter(col("score_avg") < 0 || col("score_avg") > NgramLm.Scale ||
        col("score_sum") < 0 || col("score_sum") > col("n_bigrams") * NgramLm.Scale)
    assert(bad.count() === 0)
    // self-trained corpus: every bigram was seen, so no doc scores 0
    val zeros = NgramLm.scoreBigram(corpus, "id", "text", bi, uni)
      .filter(col("score_sum") === 0).count()
    assert(zeros === 0)
  }

  test("trigram model: hand-computed backoff chain tri -> bi -> uni -> 0") {
    // corpus "a b c a b c a b d": uni a:3 b:3 c:2 d:1 N=9;
    // bigrams (a,b):3 (b,c):2 (c,a):2 (b,d):1;
    // trigrams (a,b,c):2 (b,c,a):2 (c,a,b):2 (a,b,d):1
    val (tri, bi, uni) =
      NgramLm.trainTrigram(Seq("a b c a b c a b d").toDF("text"), "text")
    val triMap = tri.collect().map(r =>
      (r.getString(0), r.getString(1), r.getString(2)) -> r.getLong(4)).toMap
    assert(triMap === Map(
      ("a", "b", "c") -> 666666L, // 1e6*2 div 3
      ("b", "c", "a") -> 1000000L,
      ("c", "a", "b") -> 1000000L,
      ("a", "b", "d") -> 333333L))
    val docs = Seq(
      (1L, "a b c d"),  // tri(a,b,c)=666666; (b,c,d): tri+bi miss -> uni2(d)=17777
      (2L, "x b c y")   // (x,b,c): bi2(b,c)=266666; (b,c,y): all miss -> 0
    ).toDF("id", "text")
    val got = NgramLm.scoreTrigram(docs, "id", "text", tri, bi, uni)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // uni2(d) = (4e6*1) div (25*9) = 17777; bi2(b,c) = (2e6*2) div (5*3) = 266666
    assert(got === Map(
      1L -> ((2L, 684443L, 342221L)),
      2L -> ((2L, 266666L, 133333L))))
  }

  test("scoring plan: no cartesian product, corpus joins are key-equi") {
    val (bi, uni) = model
    val docs = Seq((1L, "a b c")).toDF("id", "text")
    val plan = NgramLm.scoreBigram(docs, "id", "text", bi, uni)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
  }

  test("gramCountPartials: capped flushes re-aggregate to the uncapped counts") {
    // r20 memory bound: a flush emits the maps and clears them; the
    // downstream groupBy must merge split partials back exactly. Cap 1
    // forces a flush after (nearly) every token — the adversarial case.
    val corpus = Seq("a b a b c", "b c d", "", "x", "a a a a",
      "d e f g h i", "c b a")
    def agg(flush: Int): Map[(Int, String, String, String), Long] =
      NgramLm.gramCountPartials(corpus.iterator, maxOrder = 3, flushEntries = flush)
        .toSeq.groupBy(t => (t._1, t._2, t._3, t._4))
        .map { case (k, v) => k -> v.map(_._5).sum }
    val uncapped = agg(Int.MaxValue)
    for (cap <- Seq(1, 2, 5))
      assert(agg(cap) === uncapped, s"flushEntries=$cap diverged")
    // sanity: the capped run really did emit MORE partial rows
    assert(NgramLm.gramCountPartials(corpus.iterator, 3, 1).size >
      NgramLm.gramCountPartials(corpus.iterator, 3, Int.MaxValue).size)
  }

  test("scoreBigram/scoreTrigram: kernel-internal __g/__occ id names fail fast") {
    val (bi, uni) = model
    val docs = Seq((1L, "a b c")).toDF("__occ", "text")
    intercept[IllegalArgumentException] {
      NgramLm.scoreBigram(docs, "__occ", "text", bi, uni)
    }
    val docs2 = Seq((1L, "a b c")).toDF("__g", "text")
    intercept[IllegalArgumentException] {
      NgramLm.scoreTrigram(docs2, "__g", "text", bi, bi, uni)
    }
  }

  test("scoreBigram: int ids take the kernel and keep their type; null ids drop") {
    val (bi, uni) = model
    val longDocs = Seq((1L, "a b c a"), (2L, "z z")).toDF("id", "text")
    val intDocs = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(1, "a b c a"),
        org.apache.spark.sql.Row(2, "z z"),
        org.apache.spark.sql.Row(null, "a b c a")),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.IntegerType, nullable = true),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType, nullable = true))))
    val got = NgramLm.scoreBigram(intDocs, "id", "text", bi, uni)
    assert(got.schema("id").dataType ===
      org.apache.spark.sql.types.IntegerType)
    val gotMap = got.collect()
      .map(r => r.getInt(0).toLong -> ((r.getLong(1), r.getLong(2)))).toMap
    val wantMap = NgramLm.scoreBigram(longDocs, "id", "text", bi, uni)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(gotMap === wantMap) // null-id doc dropped, int ids scored identically
  }

  test("scoreBigram/scoreTrigram: a null-id doc drops for long and string ids alike") {
    val (bi, uni) = model
    val longDocs = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(1L, "a b c a"),
        org.apache.spark.sql.Row(2L, "z z b a"),
        org.apache.spark.sql.Row(null, "a b c a")),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = true),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType, nullable = true))))
    // the long column takes the kernel, the string one the exploded path
    val stringDocs = longDocs.select(col("id").cast("string").as("id"), col("text"))
    def scored(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => Option(r.get(0)).map(_.toString) -> r.toSeq.tail).toSet
    val byLong = scored(NgramLm.scoreBigram(longDocs, "id", "text", bi, uni))
    assert(byLong.map(_._1) == Set(Some("1"), Some("2")))
    assert(scored(NgramLm.scoreBigram(stringDocs, "id", "text", bi, uni)) == byLong)
    val (tri, bi3, uni3) =
      NgramLm.trainTrigram(Seq("a b c a b c a b d").toDF("text"), "text")
    assert(scored(NgramLm.scoreTrigram(stringDocs, "id", "text", tri, bi3, uni3)) ==
      scored(NgramLm.scoreTrigram(longDocs, "id", "text", tri, bi3, uni3)))
  }
}
