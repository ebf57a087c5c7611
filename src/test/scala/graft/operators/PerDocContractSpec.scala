package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField, StructType}

import graft.SparkTestBase

/** The one id contract every per-doc operator shares through [[PerDoc]]:
  * for long, int and string ids alike, the same rows come back, rows
  * with a null id are dropped, and each output id column keeps the
  * input's data type. The corpus carries null ids (one of them a copy of
  * a kept doc's text, so a null id that leaked into a corpus-wide count
  * would change another doc's row), a null text, empty and blank texts,
  * and near-copies so the pair operators return pairs. Ids 10..19 sort
  * the same as numbers and as "k"-prefixed strings, so pair outputs
  * compare without re-ordering.
  */
class PerDocContractSpec extends SparkTestBase {

  private val base = "the quick brown fox jumps over the lazy dog near the river bank"
  private val texts: Seq[(Option[Long], String)] = Seq(
    (Some(10L), base),
    (Some(11L), base + " today"),
    (Some(12L), "a completely different sentence about spark kernels and ids"),
    (Some(13L), null),
    (Some(14L), ""),
    (Some(15L), "   "),
    (Some(16L), "solo"),
    (Some(17L), "repeat repeat repeat repeat repeat repeat repeat repeat"),
    (None, base),
    (None, null))

  private def corpus(dt: DataType, id: Long => Any): DataFrame =
    df(StructType(Seq(StructField("doc_id", dt), StructField("text", StringType))),
      texts.map { case (i, t) => Row(i.map(id).orNull, t) }: _*)

  private val idTypes: Seq[(DataType, Long => Any, Any => Long)] = Seq(
    (LongType, identity, _.asInstanceOf[Long]),
    (IntegerType, _.toInt, _.asInstanceOf[Int].toLong),
    (StringType, i => s"k$i", _.asInstanceOf[String].drop(1).toLong))

  private lazy val (bi, uni) = NgramLm.trainBigram(corpus(LongType, identity), "text")
  private lazy val (tri3, bi3, uni3) = NgramLm.trainTrigram(corpus(LongType, identity), "text")

  /** Each operator, with the id columns of its output. */
  private val operators: Seq[(String, DataFrame => DataFrame, Seq[String])] = Seq(
    ("winnowFingerprints", Dedup.winnowFingerprints(_, "doc_id", "text", 2, 3), Seq("doc_id")),
    ("winnowOverlapPairs", Dedup.winnowOverlapPairs(_, "doc_id", "text", 2, 3, minShared = 1L),
      Seq("id_a", "id_b")),
    ("exciseDuplicateSpans", Dedup.exciseDuplicateSpans(_, "doc_id", "text", k = 3), Seq("doc_id")),
    ("distinctGramDigests", Dedup.distinctGramDigests(_, "doc_id", "text", 3), Seq("doc_id")),
    ("shingleRepeatStats", Dedup.shingleRepeatStats(_, "doc_id", "text", 3), Seq("doc_id")),
    ("minhashSignature", Dedup.minhashSignature(_, "doc_id", "text", 3, 16), Seq("doc_id")),
    ("minhashSignatureMd5", Dedup.minhashSignatureMd5(_, "doc_id", "text", 3, 8), Seq("doc_id")),
    ("minhashSignatureMd5WithSets", Dedup.minhashSignatureMd5WithSets(_, "doc_id", "text", 3, 8),
      Seq("doc_id")),
    ("minhashNearDupPairs", Dedup.minhashNearDupPairs(_, "doc_id", "text", 3, 16, 8, 0.5),
      Seq("id_a", "id_b")),
    ("simhash", Dedup.simhash(_, "doc_id", "text"), Seq("doc_id")),
    ("simhashMd5", Dedup.simhashMd5(_, "doc_id", "text"), Seq("doc_id")),
    ("repetitionSignals", TextAnalysis.repetitionSignals(_, "doc_id", "text"), Seq("doc_id")),
    ("cosinePairs", AllPairs.cosinePairs(_, "doc_id", "text", 300, 2), Seq("id_a", "id_b")),
    ("scoreBigram", NgramLm.scoreBigram(_, "doc_id", "text", bi, uni), Seq("doc_id")),
    ("scoreTrigram", NgramLm.scoreTrigram(_, "doc_id", "text", tri3, bi3, uni3), Seq("doc_id")))

  // failure messages stay ASCII, whatever a row holds
  private def show(x: Any): String =
    String.valueOf(x).map(c => if (c >= 0x20 && c < 0x7f) c.toString else f"\\u${c.toInt}%04x").mkString

  for ((name, op, idCols) <- operators)
    test(s"$name: same rows for long, int and string ids; null ids drop; id type kept") {
      val runs = idTypes.map { case (dt, toId, fromId) =>
        val out = op(corpus(dt, toId))
        idCols.foreach(c => assert(out.schema(c).dataType == dt, s"$name: $c type for $dt"))
        val at = idCols.map(out.schema.fieldIndex)
        out.collect().toSeq.map { r =>
          assert(at.forall(i => !r.isNullAt(i)), s"$name: null id in ${show(r)} for $dt")
          r.toSeq.zipWithIndex.map {
            case (v, i) if at.contains(i) => fromId(v)
            case (v, _) => v
          }
        }.sortBy(_.toString)
      }
      assert(runs.head.nonEmpty, s"$name returned no rows")
      val same = runs.forall(_ == runs.head)
      assert(same, s"$name: long ${show(runs(0))} / int ${show(runs(1))} / string ${show(runs(2))}")
    }
}
