package graft.transforms

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class VariantOpsSpec extends SparkTestBase {

  test("parse + typed extraction, nested paths, lenient missing fields") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, """{"a":{"b":7},"s":"x","n":1.5}"""))
      .toDF("id", "j")
    val v = VariantOps.withVariant(df, "j", "v")
    val r = v.select(
      VariantOps.extract(col("v"), "$.a.b", "bigint").as("ab"),
      VariantOps.extract(col("v"), "$.s", "string").as("s"),
      VariantOps.extract(col("v"), "$.n", "double").as("n"),
      VariantOps.extractLenient(col("v"), "$.zzz", "bigint").as("zzz")).head()
    assert(r.getLong(0) == 7L && r.getString(1) == "x" && r.getDouble(2) == 1.5)
    assert(r.isNullAt(3))
  }

  test("dropField removes top-level and nested paths, leaves siblings untouched") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, """{"a":{"b":7,"c":[1,2]},"k":3,"z":"keep"}""")).toDF("id", "j")
    val v = VariantOps.withVariant(df, "j", "v")
    def js(c: org.apache.spark.sql.Column): String = v.select(to_json(c)).head().getString(0)
    assert(js(VariantOps.dropField(col("v"), Seq("k"))) ==
      """{"a":{"b":7,"c":[1,2]},"z":"keep"}""")
    assert(js(VariantOps.dropField(col("v"), Seq("a", "b"))) ==
      """{"a":{"c":[1,2]},"k":3,"z":"keep"}""")
    // missing leaf under an existing parent: no-op
    assert(js(VariantOps.dropField(col("v"), Seq("a", "missing"))) ==
      """{"a":{"b":7,"c":[1,2]},"k":3,"z":"keep"}""")
    // path crossing a NON-OBJECT intermediate: no-op, like the Jackson
    // twin (dropRec skips non-object children) — never an error
    assert(js(VariantOps.dropField(col("v"), Seq("k", "x"))) ==
      """{"a":{"b":7,"c":[1,2]},"k":3,"z":"keep"}""")
    assert(js(VariantOps.dropField(col("v"), Seq("a", "c", "x"))) ==
      """{"a":{"b":7,"c":[1,2]},"k":3,"z":"keep"}""")
  }

  test("property: variant drop/hoist agree with the Jackson twins on random JSON") {
    val s = spark
    import s.implicits._
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    // canonicalize (sort object keys recursively) because variant stores
    // keys sorted while Jackson preserves input order — same data,
    // different text
    def canon(n: com.fasterxml.jackson.databind.JsonNode): com.fasterxml.jackson.databind.JsonNode = n match {
      case o: com.fasterxml.jackson.databind.node.ObjectNode =>
        val out = mapper.createObjectNode()
        val names = scala.collection.mutable.ArrayBuffer.empty[String]
        o.fieldNames().forEachRemaining(f => names += f)
        names.sorted.foreach(f => out.set[com.fasterxml.jackson.databind.JsonNode](f, canon(o.get(f))): Unit)
        out
      case a: com.fasterxml.jackson.databind.node.ArrayNode =>
        val out = mapper.createArrayNode()
        a.forEach(e => out.add(canon(e)): Unit)
        out
      case other => other
    }
    def c(jsonText: String): String = mapper.writeValueAsString(canon(mapper.readTree(jsonText)))

    val rnd = new scala.util.Random(20260813L)
    val keys = Vector("a", "b", "c", "d", "e", "f")
    def randJson(depth: Int): String = {
      val n = 1 + rnd.nextInt(4)
      val fields = rnd.shuffle(keys).take(n).map { k =>
        val v = rnd.nextInt(6) match {
          case 0 => rnd.nextLong(1000000).toString
          case 1 => "\"s" + rnd.nextInt(100) + "\""
          case 2 => if (rnd.nextBoolean()) "true" else "false"
          case 3 => "null"
          case 4 if depth > 0 => randJson(depth - 1)
          case _ => "[" + Seq.fill(rnd.nextInt(3))(rnd.nextInt(99)).mkString(",") + "]"
        }
        "\"" + k + "\":" + v
      }
      fields.mkString("{", ",", "}")
    }

    (1 to 60).foreach { i =>
      val json = randJson(2)
      val df = Seq(Tuple1(json)).toDF("j")
      val v = VariantOps.parseJson(col("j"))
      // random drop path of 1-3 segments (often missing / crossing scalars)
      val path = Seq.fill(1 + rnd.nextInt(3))(keys(rnd.nextInt(keys.size)))
      val (dv, dj) = df.select(
        VariantOps.dropFieldJson(v, path).as("dv"),
        graft.functions.JsonTreeOracle.dropJson(col("j"), Seq(path.mkString("."))).as("dj"))
        .as[(String, String)].head()
      assert(c(dv) == c(dj), s"iter $i drop $path on $json: variant=$dv jackson=$dj")
      // random hoist: keep 0-2 names (maybe absent), wrap rest
      val keep = rnd.shuffle(keys).take(rnd.nextInt(3))
      val (hv, hj) = df.select(
        VariantOps.hoistJson(v, "w", keep).as("hv"),
        graft.functions.JsonTreeOracle.hoistJson(col("j"), "w", keep).as("hj"))
        .as[(String, String)].head()
      assert(c(hv) == c(hj), s"iter $i hoist keep=$keep on $json: variant=$hv jackson=$hj")
    }
  }

  test("hoist wraps the payload, honoring keep-in-root and the empty-inner rule") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, """{"id":9,"t":"x","u":4}""")).toDF("id", "j")
    val v = VariantOps.withVariant(df, "j", "v")
    def js(c: org.apache.spark.sql.Column): String = v.select(to_json(c)).head().getString(0)
    assert(js(VariantOps.hoist(col("v"), "wrapped", Seq("id"))) ==
      """{"id":9,"wrapped":{"t":"x","u":4}}""")
    // empty keep-list wraps the whole object
    assert(js(VariantOps.hoist(col("v"), "w")) ==
      """{"w":{"id":9,"t":"x","u":4}}""")
    // everything kept in root → no inner field at all (reference rule)
    assert(js(VariantOps.hoist(col("v"), "w", Seq("id", "t", "u"))) ==
      """{"id":9,"t":"x","u":4}""")
    // empty keep-list wraps even a SCALAR variant
    val scalar = Seq((1L, "5")).toDF("id", "j")
    assert(VariantOps.withVariant(scalar, "j", "v")
      .select(to_json(VariantOps.hoist(col("v"), "w"))).head().getString(0) ==
      """{"w":5}""")
  }

  test("lenient parse nulls malformed JSON; strict parse throws") {
    val s = spark
    import s.implicits._
    val bad = Seq((1L, "{not json")).toDF("id", "j")
    assert(VariantOps.withVariant(bad, "j", "v", lenient = true)
      .select(col("v")).head().isNullAt(0))
    intercept[Exception] {
      VariantOps.withVariant(bad, "j", "v").select(col("v")).collect()
    }
  }
}
