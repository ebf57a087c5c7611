package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField, StructType}

import graft.SparkTestBase

/** Pins every per-doc kernel ([[PerDoc]], r19) to the exploded
  * window+aggregate formulation it replaced, kept as [[ExplodedOracle]].
  * Each operator runs over the SAME corpus with long, int and string ids,
  * and must return the oracle's rows for each. The corpus stresses every
  * place the two could diverge: unicode whitespace classes, NBSP (NOT \s
  * in Java), vertical tab (\s in Java but not RE2), non-ASCII lowercasing
  * (Turkish dotted İ, sharp ß, fullwidth letters), combining marks,
  * supplementary-plane characters (emoji: two UTF-16 units, one code
  * point), a lone surrogate, nulls, empties, 1-token and k-1-token docs,
  * multi-space runs, within-doc repeated shingles, and a near-copy pair.
  */
class SignatureKernelParitySpec extends SparkTestBase {

  private val texts: Seq[(Long, String)] = Seq(
    (0L, "plain ascii text with several tokens for shingling"),
    (1L, "  leading  and   trailing   runs  "),
    (2L, "tab\tand\nnewlinevertical\ftab\rmixed"),
    (3L, "nbsp glued tokens stay glued"),
    (4L, "Turkish İstanbul Iı DOTTED"),
    (5L, "sharp STRASSE straße and fullwidth ＡＢＣ"),
    (6L, "combining é acute vs precomposed é forms"),
    (7L, null),
    (8L, ""),
    (9L, "solo"),
    (10L, "two tokens"),
    (11L, "a a a a a repeated repeated repeated"),
    (12L, "MiXeD CaSe UPPER lower Title"),
    (13L, "Ångström Ümlauts Øslash"),
    (14L, "  "),
    (15L, "ZZ top aa bottom ZZ top aa bottom"),
    (16L, "emoji 😀 party 🎉 time 😀 party 🎉 time"),
    (17L, "lone \ud800 surrogate and \udc00 low half"),
    (18L, "plain ascii text with several tokens for shingling again"))

  private def corpus(dt: DataType, id: Long => Any): DataFrame =
    df(StructType(Seq(StructField("doc_id", dt), StructField("text", StringType))),
      texts.map { case (i, t) => Row(id(i), t) }: _*)

  /** The corpus with its ids as long, int and string. */
  private def corpora: Seq[(String, DataFrame)] = Seq(
    "long" -> corpus(LongType, identity),
    "int" -> corpus(IntegerType, _.toInt),
    "string" -> corpus(StringType, i => s"k$i"))

  private def longIds = corpus(LongType, identity)

  // failure messages stay ASCII: a lone surrogate breaks the test report
  private def show(x: Any): String =
    String.valueOf(x).map(c => if (c >= 0x20 && c < 0x7f) c.toString else f"\\u${c.toInt}%04x").mkString

  /** The kernel's rows equal the oracle's, as multisets, with the same
    * columns; `canon` normalizes order-free values (collected sets).
    */
  private def agree(what: String, kernel: DataFrame, oracle: DataFrame,
                    canon: Row => Seq[Any] = _.toSeq): Seq[Seq[Any]] = {
    assert(kernel.columns.toSeq == oracle.columns.toSeq, what)
    val k = kernel.collect().map(canon).toSeq.sortBy(_.toString)
    val o = oracle.collect().map(canon).toSeq.sortBy(_.toString)
    val same = k == o
    assert(same, s"$what: kernel-only ${show(k.diff(o))}, oracle-only ${show(o.diff(k))}")
    k
  }

  /** `check` for each id type, with its name for the failure message. */
  private def forEachIdType(check: (String, DataFrame) => Unit): Unit =
    corpora.foreach { case (name, d) => check(name, d) }

  test("minhashSignatureMd5: kernel equals exploded formulation") {
    forEachIdType { (t, d) =>
      agree(s"minhashSignatureMd5 [$t]", Dedup.minhashSignatureMd5(d, "doc_id", "text", 3, 8),
        ExplodedOracle.minhashSignatureMd5(d, "doc_id", "text", 3, 8))
    }
    val ids = Dedup.minhashSignatureMd5(longIds, "doc_id", "text", 3, 8)
      .collect().map(_.getLong(0)).toSet
    assert(!ids.contains(7L)) // null text drops out
    assert(ids.contains(8L) && ids.contains(14L)) // empty text keeps a row
  }

  test("minhashSignatureMd5WithSets: lanes and distinct shingle sets equal") {
    forEachIdType { (t, d) =>
      agree(s"minhashSignatureMd5WithSets [$t]",
        Dedup.minhashSignatureMd5WithSets(d, "doc_id", "text", 3, 8),
        ExplodedOracle.minhashSignatureMd5WithSets(d, "doc_id", "text", 3, 8),
        r => r.toSeq.updated(9, r.getSeq[String](9).sorted))
    }
  }

  test("minhashSignature (xxhash64 lanes): kernel equals exploded formulation") {
    forEachIdType { (t, d) =>
      agree(s"minhashSignature [$t]", Dedup.minhashSignature(d, "doc_id", "text", 3, 16),
        ExplodedOracle.minhashSignature(d, "doc_id", "text", 3, 16))
    }
  }

  test("minhashNearDupPairs: kernel equals the exploded signature self-join") {
    forEachIdType { (t, d) =>
      val pairs = agree(s"minhashNearDupPairs [$t]",
        Dedup.minhashNearDupPairs(d, "doc_id", "text", 3, 16, 8, 0.5),
        ExplodedOracle.minhashNearDupPairs(d, "doc_id", "text", 3, 16, 8, 0.5))
      assert(pairs.nonEmpty, s"[$t] the near-copy pair must surface")
    }
  }

  test("simhash (xxhash64): kernel equals exploded formulation") {
    forEachIdType { (t, d) =>
      agree(s"simhash [$t]", Dedup.simhash(d, "doc_id", "text"),
        ExplodedOracle.simhash(d, "doc_id", "text"))
    }
  }

  test("simhashMd5: kernel equals exploded formulation") {
    forEachIdType { (t, d) =>
      agree(s"simhashMd5 [$t]", Dedup.simhashMd5(d, "doc_id", "text"),
        ExplodedOracle.simhashMd5(d, "doc_id", "text"))
    }
  }

  test("winnowFingerprints: kernel equals window formulation") {
    forEachIdType { (t, d) =>
      agree(s"winnowFingerprints [$t]", Dedup.winnowFingerprints(d, "doc_id", "text", 2, 3),
        ExplodedOracle.winnowFingerprints(d, "doc_id", "text", 2, 3))
    }
  }

  test("winnowOverlapPairs: kernel equals window formulation") {
    forEachIdType { (t, d) =>
      val pairs = agree(s"winnowOverlapPairs [$t]",
        Dedup.winnowOverlapPairs(d, "doc_id", "text", 2, 3, minShared = 1L),
        ExplodedOracle.winnowOverlapPairs(d, "doc_id", "text", 2, 3, minShared = 1L))
      assert(pairs.nonEmpty, s"[$t] the near-copy pair must surface")
    }
  }

  test("exciseDuplicateSpans: kernel equals window formulation") {
    forEachIdType { (t, d) =>
      agree(s"exciseDuplicateSpans [$t]", Dedup.exciseDuplicateSpans(d, "doc_id", "text", k = 3),
        ExplodedOracle.exciseDuplicateSpans(d, "doc_id", "text", k = 3))
    }
  }

  test("distinctGramDigests: kernel equals exploded formulation") {
    forEachIdType { (t, d) =>
      agree(s"distinctGramDigests [$t]", Dedup.distinctGramDigests(d, "doc_id", "text", 3),
        ExplodedOracle.distinctGramDigests(d, "doc_id", "text", 3))
    }
  }

  test("AllPairs.cosinePairs: kernel element rows equal exploded formulation") {
    forEachIdType { (t, d) =>
      val pairs = agree(s"cosinePairs [$t]", AllPairs.cosinePairs(d, "doc_id", "text", 300, 2),
        ExplodedOracle.cosinePairs(d, "doc_id", "text", 300, 2))
      assert(pairs.nonEmpty, s"[$t] the near-copy pair must surface")
    }
  }

  test("repetitionSignals: kernel equals window formulation") {
    forEachIdType { (t, d) =>
      agree(s"repetitionSignals [$t]", TextAnalysis.repetitionSignals(d, "doc_id", "text"),
        ExplodedOracle.repetitionSignals(d, "doc_id", "text"))
    }
  }

  test("boilerplateStats: kernel equals window formulation") {
    forEachIdType { (t, d) =>
      agree(s"boilerplateStats [$t]", TextAnalysis.boilerplateStats(d, "doc_id", "text", 2, 2),
        ExplodedOracle.boilerplateStats(d, "doc_id", "text", 2, 2))
    }
  }

  test("shingleRepeatStats: kernel equals exploded formulation") {
    forEachIdType { (t, d) =>
      agree(s"shingleRepeatStats [$t]", Dedup.shingleRepeatStats(d, "doc_id", "text", 3),
        ExplodedOracle.shingleRepeatStats(d, "doc_id", "text", 3))
    }
    val got = Dedup.shingleRepeatStats(longIds, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(!got.contains(7L)) // null text drops out
    // within-doc repeats: 8 tokens → 6 shingles, "a a a" ×3 collapses
    assert(got(11L) == Seq(6L, 4L))
  }

  test("NgramLm scoring: per-doc gram kernel equals the exploded formulation") {
    val (tri, bi, uni) = NgramLm.trainTrigram(longIds, "text")
    val (bi2, uni2) = NgramLm.trainBigram(longIds, "text")
    forEachIdType { (t, d) =>
      agree(s"scoreTrigram [$t]", NgramLm.scoreTrigram(d, "doc_id", "text", tri, bi, uni),
        ExplodedOracle.scoreTrigram(d, "doc_id", "text", tri, bi, uni))
      agree(s"scoreBigram [$t]", NgramLm.scoreBigram(d, "doc_id", "text", bi2, uni2),
        ExplodedOracle.scoreBigram(d, "doc_id", "text", bi2, uni2))
    }
  }

  test("normTextJvm equals the normText column over the adversarial corpus") {
    val viaCol = longIds.select(col("doc_id"), Dedup.normText(col("text")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    longIds.collect().foreach { r =>
      val id = r.getLong(0)
      val t = r.getString(1)
      val jvm = if (t == null) null else Dedup.normTextJvm(t)
      val same = jvm == viaCol(id)
      assert(same, s"doc $id: jvm ${show(jvm)} vs column ${show(viaCol(id))}")
    }
  }

  test("integer ids round-trip through the kernel with their type intact") {
    val s = spark
    import s.implicits._
    val df = Seq((1, "alpha beta gamma delta"), (2, "alpha beta gamma"))
      .toDF("doc_id", "text")
    val out = Dedup.minhashSignatureMd5(df, "doc_id", "text", 3, 8)
    assert(out.schema("doc_id").dataType == IntegerType)
    assert(out.count() == 2)
  }
}
