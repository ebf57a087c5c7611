package graft.functions

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf
import org.apache.spark.unsafe.types.UTF8String

/** The Jackson-tree formulation of the schemaless rewrites (`DropField
  * .java:67-82`, `ExtendedHoistField.java:75-99`): `readTree`, edit the
  * `ObjectNode`, `writeValueAsString`. It was the production path before
  * the one-pass kernel ([[JsonStringOps]]) and is kept as its parity
  * reference: the kernel must give the same bytes on every input, and
  * fail wherever this fails.
  */
object JsonTreeOracle extends Serializable {

  private lazy val mapper = new ObjectMapper()

  private def dropRec(node: ObjectNode, paths: Seq[List[String]]): Unit = {
    val (here, deeper) = paths.partition(_.lengthCompare(1) == 0)
    here.foreach(p => node.remove(p.head))
    deeper.groupBy(_.head).foreach { case (name, ps) =>
      node.get(name) match {
        case child: ObjectNode => dropRec(child, ps.map(_.tail))
        case _ => ()
      }
    }
  }

  def dropJsonString(str: String, paths: Array[Array[String]]): String =
    mapper.readTree(str) match {
      case obj: ObjectNode =>
        dropRec(obj, paths.toSeq.map(_.toList))
        mapper.writeValueAsString(obj)
      case _ => throw new IllegalArgumentException(
        "Only Map (JSON object) values are supported by schemaless DropField, found: " + str)
    }

  def hoistJsonString(str: String, field: String, keep: Array[String]): String = {
    val node = mapper.readTree(str)
    if (keep.isEmpty) {
      val out = mapper.createObjectNode()
      out.set[JsonNode](field, node)
      mapper.writeValueAsString(out)
    } else node match {
      case obj: ObjectNode =>
        val keepSet = keep.toSet
        val root = mapper.createObjectNode()
        val inner = mapper.createObjectNode()
        obj.fields().forEachRemaining { e =>
          if (keepSet.contains(e.getKey)) root.set[JsonNode](e.getKey, e.getValue)
          else inner.set[JsonNode](e.getKey, e.getValue)
        }
        if (inner.size() > 0) root.set[JsonNode](field, inner)
        mapper.writeValueAsString(root)
      case _ => throw new IllegalArgumentException(
        "Only Map (JSON object) values are supported if keepInRootFieldNames is configured, found: " + str)
    }
  }

  /** The tree path on a Spark string, decoded and re-encoded as it was. */
  def drop(s: UTF8String, fields: Seq[String]): UTF8String =
    UTF8String.fromString(dropJsonString(s.toString, fields.map(_.split('.')).toArray))

  def hoist(s: UTF8String, field: String, keep: Seq[String]): UTF8String =
    UTF8String.fromString(hoistJsonString(s.toString, field, keep.toArray))

  /** UDF flavors, for comparisons through a DataFrame. */
  def dropJson(c: Column, fields: Seq[String]): Column = {
    val paths = fields.map(_.split('.')).toArray
    udf((s: String) => if (s == null) null else dropJsonString(s, paths)).apply(c)
  }

  def hoistJson(c: Column, field: String, keepInRoot: Seq[String]): Column = {
    val keep = keepInRoot.toArray
    udf((s: String) => if (s == null) null else hoistJsonString(s, field, keep)).apply(c)
  }
}
