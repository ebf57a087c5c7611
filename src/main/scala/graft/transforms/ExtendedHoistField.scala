package graft.transforms

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, struct}
import org.apache.spark.sql.types.{StringType, StructType}

import graft.model.Envelope

/** Wraps the target column inside a single named field of a new struct —
  * like stock `HoistField` — except fields listed in `keepInRootFieldNames`
  * stay at the root (reference `ExtendedHoistField.java:33-214`, the
  * component the artifact is named for).
  *
  * Dispatch on the column's static type:
  *  - struct column: partition fields into root vs moved
  *    (`ExtendedHoistField.java:107-123`). Nothing moves ⇒ identity at
  *    plan time (the reference's no-inner-field passthrough,
  *    `ExtendedHoistField.java:149-151`). Otherwise the inner struct is
  *    null iff every moved field is null — Spark's static-schema rendering
  *    of the reference's data-dependent value omission
  *    (`ExtendedHoistField.java:132-148`; divergence doc SURVEY.md §7.5.2);
  *  - string column with `schemaless` unset/true: JSON rewrite
  *    ([[graft.functions.JsonHoistField]], the same one-pass kernel as the
  *    schemaless drop) — empty keep-list wraps anything (even bare
  *    primitives, `ExtendedHoistField.java:76-79`), non-empty keep-list
  *    requires a JSON object (`ExtendedHoistField.java:51-60`), inner
  *    object genuinely omitted when empty (`ExtendedHoistField.java:94-96`);
  *  - any other (non-struct schema-ful) type: wrap the whole value,
  *    `struct{field: v}` (`ExtendedHoistField.java:152-159`).
  *
  * The reference memoized derived schemas in a 16-entry LRU
  * (`ExtendedHoistField.java:46,67`); Catalyst resolves the output schema
  * once at analysis time, so no cache exists here.
  *
  * @param field required name of the wrapping field
  *              (`ExtendedHoistField.java:42-43`)
  */
case class ExtendedHoistField(
    targetCol: String,
    field: String,
    keepInRootFieldNames: Seq[String] = Nil,
    schemaless: Option[Boolean] = None)
  extends Transform {

  require(field != null && field.nonEmpty,
    "Missing required configuration \"field\" which has no default value.")

  override def apply(df: DataFrame): DataFrame =
    df.schema(targetCol).dataType match {
      case st: StructType =>
        if (NestedOps.hoistMovedFields(st, keepInRootFieldNames).isEmpty) df
        else df.withColumn(targetCol,
          NestedOps.hoistCol(col(targetCol), st, field, keepInRootFieldNames))
      case StringType if schemaless.getOrElse(true) =>
        // native codegen'd Expression, not a ScalaUDF
        df.withColumn(targetCol,
          graft.functions.JsonHoistField(col(targetCol), field, keepInRootFieldNames))
      case _ =>
        df.withColumn(targetCol, struct(col(targetCol).as(field)))
    }
}

object ExtendedHoistField {
  /** `ExtendedHoistField$Key` (`ExtendedHoistField.java:166-182`). */
  def key(field: String, keepInRoot: Seq[String] = Nil): ExtendedHoistField =
    ExtendedHoistField(Envelope.KeyCol, field, keepInRoot)
  /** `ExtendedHoistField$Value` (`ExtendedHoistField.java:186-202`). */
  def value(field: String, keepInRoot: Seq[String] = Nil): ExtendedHoistField =
    ExtendedHoistField(Envelope.ValueCol, field, keepInRoot)
}
