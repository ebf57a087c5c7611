package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The schemaless JSON rewrites behind `DropField` and `ExtendedHoistField`
  * on JSON-string columns: one pass over the row's UTF-8 bytes, read in
  * place, writing compact JSON into a buffer that each thread reuses.
  * [[JsonDropFields]] and [[JsonHoistField]] call it from both their
  * interpreted and their generated code.
  *
  * Contract: the output is the one a Jackson tree round trip gives
  * (`readTree` on `UTF8String.toString`, edit the `ObjectNode`,
  * `writeValueAsString`), byte for byte:
  *  - a duplicate key keeps its first position and its last value, at
  *    every level: `{"a":1,"b":2,"a":3}` → `{"a":3,"b":2}`;
  *  - insignificant whitespace goes; content after the root value is
  *    ignored (`{"a":1} junk` → `{"a":1}`);
  *  - an integer is copied as written (also past the range of a long),
  *    except that `-0` becomes `0`; any other number goes through
  *    `Double.toString` (`1e2` → `100.0`, `1.50` → `1.5`, `-0.0` stays,
  *    `1E400` → `"Infinity"`, quoted);
  *  - strings are unescaped and re-escaped the way Jackson writes them:
  *    `\/` becomes `/`, a hex escape of a printable char becomes the char,
  *    only `"`, `\` and controls are escaped, non-ASCII is written raw;
  *    invalid UTF-8 becomes U+FFFD and a lone surrogate escape becomes `?`,
  *    as the decode and re-encode of the tree path do;
  *  - what Jackson rejects is rejected (raw controls, bad literals and
  *    escapes, leading zeros, nesting past 1000, names past 50,000 and
  *    strings past 20,000,000 chars), also inside a dropped subtree; a
  *    non-object root (empty input included) gets the same
  *    `IllegalArgumentException` message as before. Malformed input
  *    throws `IllegalArgumentException("Malformed JSON ...")` in place of
  *    Jackson's parse exceptions.
  *
  * One known gap: Jackson's 1000-digit number limit counts digits
  * differently depending on where its input buffer splits the token, so a
  * number within a few digits of that limit may be rejected by one side
  * only. The kernel rejects a number with more than 1000 digits in all.
  *
  * Cost, on a 4-core VM over the 400k envelopes of the `smt_chain`
  * benchmark: the tree round trip took about 0.27 s of a 0.70 s chain
  * pass, most of it Jackson's per-row parser set-up, string decode and
  * node allocation. With this pass the chain's median pass went from
  * 0.74 s to 0.59 s and its task CPU from 1.65 to 1.06 core-s; on one
  * thread a 60-byte envelope takes about 0.4 µs instead of 2.2 µs. The
  * test-only `JsonTreeOracle` keeps the tree formulation as the parity
  * reference (`JsonKernelParitySpec`).
  */
object JsonStringOps {

  private val kernels = ThreadLocal.withInitial[JsonKernel](() => new JsonKernel)

  /** Compiles dotted drop paths (`a.b.c`) once, at plan time. */
  def compileDrop(fields: Seq[String]): JsonDropPaths = {
    val root = new JsonDropPaths(null)
    fields.foreach { f =>
      val path = f.split('.')
      require(path.nonEmpty, s"json_drop_fields: empty drop path '$f'")
      path.foldLeft(root)(_.child(_)).drop = true
    }
    root
  }

  /** Drops the compiled paths from a JSON object. */
  def dropJson(s: UTF8String, paths: JsonDropPaths): UTF8String =
    if (s == null) null else kernels.get().drop(s, paths)

  /** Hoist (see `ExtendedHoistField.java:75-99`): an empty keep-list wraps
    * any JSON value; a non-empty one requires an object, and the inner
    * object is omitted when nothing moved into it.
    */
  def hoistJson(s: UTF8String, spec: JsonHoistSpec): UTF8String =
    if (s == null) null else kernels.get().hoist(s, spec)
}

/** A member name as the kernel matches it: its bytes as written between
  * the quotes, plus the name itself when it holds a lone surrogate (written
  * as `?`, so its bytes alone would match a literal `?`).
  */
final class JsonName(val bytes: Array[Byte], val odd: String) extends Serializable {
  def matches(buf: Array[Byte], from: Int, until: Int, other: String): Boolean = {
    if (until - from != bytes.length) return false
    var i = 0
    while (i < bytes.length) {
      if (bytes(i) != buf(from + i)) return false
      i += 1
    }
    if (odd == null) other == null else odd == other
  }
}

object JsonName {
  def apply(name: String): JsonName = {
    val k = new JsonKernel
    val odd = k.writeString(name)
    new JsonName(java.util.Arrays.copyOfRange(k.result, 1, k.length - 1), if (odd) name else null)
  }
}

/** A trie node of compiled drop paths: the member named `name` is dropped
  * when `drop` is set; otherwise, when it holds an object, the `children`
  * apply inside it.
  */
final class JsonDropPaths(val name: JsonName) extends Serializable {
  var drop = false
  var children: Array[JsonDropPaths] = Array.empty

  private[functions] def child(segment: String): JsonDropPaths = {
    val n = JsonName(segment)
    children.find(_.name.matches(n.bytes, 0, n.bytes.length, n.odd)).getOrElse {
      val c = new JsonDropPaths(n)
      children :+= c
      c
    }
  }

  private[functions] def lookup(buf: Array[Byte], from: Int, until: Int, odd: String): JsonDropPaths = {
    var i = 0
    while (i < children.length) {
      if (children(i).name.matches(buf, from, until, odd)) return children(i)
      i += 1
    }
    null
  }
}

/** Compiled hoist settings: the wrapping field and the names kept at the
  * root.
  */
final class JsonHoistSpec(field: String, keepInRoot: Seq[String]) extends Serializable {
  val name: JsonName = JsonName(field)
  val keep: Array[JsonName] = keepInRoot.map(JsonName(_)).toArray

  private[functions] def kept(buf: Array[Byte], from: Int, until: Int, odd: String): Boolean =
    keep.exists(_.matches(buf, from, until, odd))
}

/** `json_drop_fields(json, paths)` — drop dotted paths from a JSON-object
  * string column. Paths are compile-time constants (plan-time state, like
  * the reference's configured `fields` list, `DropField.java:27-36`).
  */
case class JsonDropFields(child: Expression, fields: Seq[String])
  extends UnaryExpression {

  override def dataType: DataType = StringType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"json_drop_fields requires a string column, got ${child.dataType}")

  @transient private lazy val paths: JsonDropPaths = JsonStringOps.compileDrop(fields)

  override def nullSafeEval(v: Any): Any =
    JsonStringOps.dropJson(v.asInstanceOf[UTF8String], paths)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val pathsRef = ctx.addReferenceObj("jsonDropPaths", paths, classOf[JsonDropPaths].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.JsonStringOps.dropJson($c, $pathsRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): JsonDropFields =
    copy(child = newChild)
  override def prettyName: String = "json_drop_fields"
}

object JsonDropFields {
  def apply(c: Column, fields: Seq[String]): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(new JsonDropFields(Bridge.expression(c), fields))
  }
}

/** `json_hoist_field(json)` — schemaless hoist with keep-in-root
  * (`ExtendedHoistField.java:75-99`).
  */
case class JsonHoistField(child: Expression, field: String, keepInRoot: Seq[String])
  extends UnaryExpression {

  override def dataType: DataType = StringType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"json_hoist_field requires a string column, got ${child.dataType}")

  @transient private lazy val spec: JsonHoistSpec = new JsonHoistSpec(field, keepInRoot)

  override def nullSafeEval(v: Any): Any =
    JsonStringOps.hoistJson(v.asInstanceOf[UTF8String], spec)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val specRef = ctx.addReferenceObj("jsonHoist", spec, classOf[JsonHoistSpec].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.JsonStringOps.hoistJson($c, $specRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): JsonHoistField =
    copy(child = newChild)
  override def prettyName: String = "json_hoist_field"
}

object JsonHoistField {
  def apply(c: Column, field: String, keepInRoot: Seq[String]): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(new JsonHoistField(Bridge.expression(c), field, keepInRoot))
  }
}
