package graft.transforms

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Spark 4 `VariantType` face of the schemaless path — SURVEY.md §1.3
  * option (a). A JSON string column parses once into a binary variant;
  * downstream field access (`variant_get`) is then a cheap binary probe
  * instead of a re-parse per extraction, which matters when many
  * extractions hit the same schemaless payload at scale.
  *
  * Spark 4.1's variant *builder* surface: a variant OBJECT casts to
  * `map<string, variant>`, and that map builds back into a variant
  * natively via `to_variant_object` (no serialize→re-parse text cycle).
  * [[dropField]] and [[hoist]] use exactly that to run the reference's
  * schemaless-Map mutations
  * (`DropField.java:67-82`, `ExtendedHoistField.java:76-96`) natively on
  * `VariantType`: cast → rewrite entries with `map_filter` /
  * `transform_values` → re-serialize. Every step is a built-in codegen
  * expression — zero shuffles, no UDF, and only the rewritten level of
  * the tree is re-serialized (siblings ride along as opaque variant
  * values). One semantic note: variant objects store keys SORTED, so
  * any payload that round-trips through `parse_json` ([[dropField]],
  * [[hoist]], and [[dropFieldJson]]'s rewritten levels) serializes with
  * lexicographic key order — same data, canonical order (JSON object key
  * order is not semantically significant, but byte-compare oracles must
  * expect sorted keys). The one exception is [[hoistJson]], whose whole
  * point is eliding the final re-parse: it emits kept-root keys (sorted)
  * FOLLOWED BY the hoist field — i.e. `field` lands last even when it
  * sorts before a kept key. Callers that need canonical byte-stable
  * output use [[hoist]] (`to_json(hoist(...))`), which re-canonicalizes.
  */
object VariantOps {

  /** Bind `c` to a per-row variable: `f`'s body references a lambda
    * variable, so `c` evaluates ONCE per row no matter how many times the
    * body uses it. Without this, every reference to the
    * `map<string,variant>` entries re-runs the whole parse→cast pipeline —
    * Catalyst's subexpression elimination is conditional-branch-
    * conservative and does not hoist across `when`/`otherwise` arms
    * (measured on hoist_variant at sf0.1; SURVEY.md, r7 variant profiling).
    * Implementation: a single-element higher-order `transform`. (The
    * cleaner `With`/CommonExpressionRef builder cannot be constructed from
    * the Column API — the ref snapshots its dataType before resolution.
    * This tier is CodegenFallback-heavy anyway — to_json/map_filter/HOFs —
    * so the interpreted lambda costs nothing extra.)
    */
  private def once(c: Column)(f: Column => Column): Column =
    element_at(transform(array(c), x => f(x)), 1)

  /** Parse a JSON string column to a variant column (fails on malformed
    * JSON; `try_parse_json` yields null instead).
    */
  def parseJson(c: Column, lenient: Boolean = false): Column =
    if (lenient) try_parse_json(c) else parse_json(c)

  /** Typed field extraction: `extract(v, "$.a.b", "bigint")`. */
  def extract(v: Column, path: String, targetType: String): Column =
    variant_get(v, path, targetType)

  def extractLenient(v: Column, path: String, targetType: String): Column =
    try_variant_get(v, path, targetType)

  /** Attach a parsed variant column alongside a JSON string column. */
  def withVariant(df: DataFrame, jsonCol: String, asCol: String,
                  lenient: Boolean = false): DataFrame =
    df.withColumn(asCol, parseJson(col(jsonCol), lenient))

  /** The variant object's entries as `map<string, variant>` — the
    * mutation surface. Strict like the reference's schemaless mode: a
    * non-object input (scalar/array variant) is a cast error, mirroring
    * `DropField.java:67` requiring a Map.
    */
  def entries(v: Column): Column = variant_get(v, "$", "map<string, variant>")

  /** Drop a (possibly nested) field from a variant object, returning the
    * rewritten VARIANT — `DropField`'s schemaless-Map semantics on
    * `VariantType`. For a nested path only the ancestor chain is
    * rebuilt; sibling subtrees pass through as opaque variant values
    * (never re-parsed). Reference parity on the edges: a missing leaf is
    * a no-op; a path that crosses a NON-OBJECT intermediate is a no-op
    * too (the JSON-string drop skips non-object children) — only the
    * ROOT must be an object, as in `DropField.java:56`.
    */
  def dropField(v: Column, path: Seq[String]): Column = {
    require(path.nonEmpty, "drop path must have at least one segment")
    // native construction: map<string,variant> → variant object directly
    // (to_variant_object), no serialize→re-parse text cycle
    to_variant_object(rewriteDrop(entries(v), path))
  }

  /** [[dropField]] serialized to its JSON text — the flavor for callers
    * whose next step is serialization anyway (sink to string columns):
    * serializes the rewritten entry map straight to text instead of
    * building a variant that the sink would re-serialize.
    */
  def dropFieldJson(v: Column, path: Seq[String]): Column = {
    require(path.nonEmpty, "drop path must have at least one segment")
    to_json(rewriteDrop(entries(v), path)) // strict at root: object required
  }

  /** Entry rewrite for one path level over a `map<string,variant>`. All
    * map functions propagate a NULL map, so the lenient nested cast below
    * flows a non-object intermediate straight through to the coalesce.
    */
  private def rewriteDrop(m: Column, path: Seq[String]): Column = path match {
    case Seq(leaf) => map_filter(m, (k, _) => k =!= leaf)
    case head +: rest =>
      transform_values(m, (k, value) =>
        when(k === head, coalesce(dropNested(value, rest), value))
          .otherwise(value))
    case _ => throw new IllegalArgumentException("empty drop path")
  }

  /** Nested-level drop: lenient cast — a non-object child yields NULL
    * (not an error), which the caller coalesces back to the original
    * value, mirroring the reference's skip-non-object recursion.
    */
  private def dropNested(value: Column, path: Seq[String]): Column =
    to_variant_object(
      rewriteDrop(try_variant_get(value, "$", "map<string, variant>"), path))

  /** `ExtendedHoistField`'s schemaless semantics on `VariantType`: wrap
    * the payload under `field`, keeping `keepInRoot` names at root. With
    * an empty keep-list ANY variant (even a scalar) wraps —
    * `ExtendedHoistField.java:76-79`; with a non-empty keep-list the
    * input must be an object, and the inner field is added only when at
    * least one entry moved (`ExtendedHoistField.java:94-96`).
    */
  def hoist(v: Column, field: String, keepInRoot: Seq[String] = Nil): Column =
    if (keepInRoot.isEmpty) to_variant_object(map(lit(field), v))
    else once(entries(v)) { m =>
      once(map_filter(m, (k, _) => k.isin(keepInRoot: _*))) { kept =>
        once(map_filter(m, (k, _) => !k.isin(keepInRoot: _*))) { moved =>
          to_variant_object(when(size(moved) > 0,
            map_concat(kept, map(lit(field), to_variant_object(moved))))
            .otherwise(kept))
        }
      }
    }

  /** [[hoist]] serialized to its JSON text — same final-parse elision as
    * [[dropFieldJson]]. Key-order contract: kept root keys come first (in
    * the variant's sorted entry order), then the hoist `field` — NOT full
    * lexicographic order when `field` sorts before a kept key. Route
    * through [[hoist]] + `to_json` when canonical byte-stable text is
    * required (at the cost of the extra parse this method elides).
    */
  def hoistJson(v: Column, field: String, keepInRoot: Seq[String] = Nil): Column =
    if (keepInRoot.isEmpty) to_json(map(lit(field), v))
    else once(entries(v)) { m =>
      // m, kept, and moved are each referenced more than once below; the
      // `once` binding pins the parse→cast pipeline to a single
      // evaluation, and the nested bindings keep the filtered maps from
      // re-filtering per reference
      once(map_filter(m, (k, _) => k.isin(keepInRoot: _*))) { kept =>
        once(map_filter(m, (k, _) => !k.isin(keepInRoot: _*))) { moved =>
          to_json(when(size(moved) > 0,
            map_concat(kept, map(lit(field), to_variant_object(moved))))
            .otherwise(kept))
        }
      }
    }
}
