package graft.operators

import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, Encoder, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StructField, StructType}

/** The one way a document's id travels through a per-document kernel.
  *
  * A per-doc operator (the [[Dedup]] signature, winnowing and span
  * kernels, [[TextAnalysis.repetitionSignals]], [[AllPairs.cosinePairs]]'
  * element rows, [[NgramLm]]'s scoring grams) is a JVM function from one
  * document's value to zero or more output rows, run in ONE narrow
  * `mapPartitions` pass. The id rides through that pass untouched: the
  * output is Row-encoded as the input's id field followed by the
  * kernel's fields, so a long, int, string or any other id keeps its
  * type and every id type runs the same code. The contract, the same for
  * every operator built on it:
  *  - a row with a null id or a null value is dropped (no key to carry
  *    the output, no text to read — the non-null-key rule);
  *  - every other input row is one document, and its output rows are
  *    exactly what the kernel emits for it (rows sharing an id are never
  *    merged — ids are keys);
  *  - the output id column is non-nullable, with the input's name and
  *    data type.
  * Each partition hands its kernel one MD5 instance to reuse.
  */
private[operators] object PerDoc {

  /** A kernel: one document's value → its output rows, each the values
    * of the kernel's output fields in order (the id is prepended here).
    */
  type Kernel[T] = (MessageDigest, T) => Iterator[Seq[Any]]

  /** `kernel` over each document's `textCol` (as a string), behind a
    * fixed-width exchange by document: a per-doc kernel is CPU-bound, and
    * AQE would otherwise coalesce the tiny-by-bytes shuffle down to one
    * partition (or the stage would inherit a single small file's one
    * scan partition), serializing it. A fixed numPartitions is exempt
    * from AQE coalescing; on a cluster it is cores-sized, as a CPU-bound
    * stage should be.
    */
  def texts(df: DataFrame, idCol: String, textCol: String, out: StructField*)(
      kernel: Kernel[String]): DataFrame = {
    val byDoc = df.repartition(df.sparkSession.sparkContext.defaultParallelism, col(idCol))
    map[String](byDoc, idCol, col(textCol).cast("string"), out: _*)(kernel)
  }

  /** `kernel` over each row's `value` in `df`'s own partitioning — for
    * callers that already placed the rows (a shared exchange) or must
    * stay narrow over the scan.
    */
  def map[T](df: DataFrame, idCol: String, value: Column, out: StructField*)(
      kernel: Kernel[T]): DataFrame = {
    val idField = df.schema(idCol).copy(nullable = false)
    implicit val enc: Encoder[Row] = RowEncoder.encoderFor(StructType(idField +: out))
    df.select(col(idCol), value).mapPartitions { it =>
      val md = MessageDigest.getInstance("MD5")
      it.flatMap { r =>
        if (r.isNullAt(0) || r.isNullAt(1)) Iterator.empty
        else {
          val id = r.get(0)
          kernel(md, r.getAs[T](1)).map(v => Row.fromSeq(id +: v))
        }
      }
    }
  }
}
