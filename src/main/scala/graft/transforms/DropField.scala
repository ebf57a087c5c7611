package graft.transforms

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructType}

import graft.model.Envelope

/** Removes fields addressed by dotted nested path (KIP-821 notation) from
  * the target column — the engine counterpart of the reference's flagship
  * `DropField` SMT (`DropField.java:20-174`).
  *
  * Static-type dispatch replaces the reference's per-record
  * `operatingSchema == null` branch (`DropField.java:44-53`):
  *  - struct column → plan-time struct rebuild ([[NestedOps.dropFieldsCol]],
  *    pure Column ops, whole-stage codegen, lets Catalyst prune unread
  *    parquet columns underneath);
  *  - string column with `schemaless` unset/true → JSON-object rewrite
  *    ([[graft.functions.JsonDropFields]]), mirroring the schemaless-Map
  *    path (`DropField.java:67-82`): a codegen'd expression over a
  *    one-pass byte kernel whose output matches a Jackson tree round trip
  *    (contract on [[graft.functions.JsonStringOps]]); a non-object JSON
  *    value throws, like the reference's `requireMap`;
  *  - empty `fields` list (the reference's default, `DropField.java:27-28`)
  *    → identity;
  *  - any other column type → error (the reference's `requireStruct` /
  *    `requireMap`).
  *
  * Envelope fidelity: only `targetCol` is rewritten, so
  * topic/partition/timestamp/headers always survive — deliberately fixing
  * the reference's header-dropping 7-arg `newRecord` (`DropField.java:151`).
  *
  * @param targetCol  which envelope column to rewrite — the `$Key`/`$Value`
  *                   variant split of `DropField.java:137-173`
  * @param schemaless force (true) or forbid (false) the JSON-string
  *                   interpretation of a string column; None = auto
  */
case class DropField(
    targetCol: String,
    fields: Seq[String],
    schemaless: Option[Boolean] = None)
  extends Transform {

  private val paths = fields.map(NestedOps.parsePath)

  override def apply(df: DataFrame): DataFrame = {
    if (fields.isEmpty) return df
    df.schema(targetCol).dataType match {
      case st: StructType =>
        df.withColumn(targetCol, NestedOps.dropFieldsCol(col(targetCol), st, paths))
      case StringType if schemaless.getOrElse(true) =>
        df.withColumn(targetCol,
          graft.functions.JsonDropFields(col(targetCol), fields))
      case other => throw new IllegalArgumentException(
        s"DropField supports struct columns (schema-ful) or JSON string columns " +
          s"(schemaless); column '$targetCol' is $other")
    }
  }
}

object DropField {
  /** `DropField$Key` (`DropField.java:137-152`). */
  def key(fields: Seq[String]): DropField = DropField(Envelope.KeyCol, fields)
  /** `DropField$Value` (`DropField.java:156-173`). */
  def value(fields: Seq[String]): DropField = DropField(Envelope.ValueCol, fields)
}
