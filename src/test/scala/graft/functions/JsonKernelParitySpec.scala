package graft.functions

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8

import scala.util.{Failure, Random, Success, Try}

import org.apache.spark.sql.functions.col
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkTestBase

/** The one-pass kernel against the Jackson tree formulation it replaced
  * ([[JsonTreeOracle]]): byte-identical output on every generated
  * document, and a failure wherever the tree fails, with the same message
  * for a non-object root.
  */
class JsonKernelParitySpec extends SparkTestBase {

  // names as written in the document, decoded names (for paths and keep-lists)
  private val writtenKeys = Seq("a", "b", "k", "id", "w", "", "é", "😀", "?", "q\\\"",
    "\\u0061", "a\\/b", "\\ud83d\\ude00", "\\ud800", "\\uDC00x")
  private val names = Seq("a", "b", "k", "id", "w", "", "é", "😀", "?", "q\"", "a/b",
    "\ud800", "\udc00x", "zz")

  private val numbers = Seq("0", "-0", "7", "-12", "123456789012", "9223372036854775807",
    "9223372036854775808", "-12345678901234567890123", "1.5", "1.50", "-0.0", "0.0", "1e2",
    "1E400", "-1E400", "2.5e-3", "1e-400", "0.1", "100.0e0", "1E+2", "-0e0", "4.9E-324")
  private val pieces = Seq("x", "abc", " ", "\\n", "\\t", "\\\"", "\\\\", "\\/", "\\b", "\\f",
    "\\r", "\\u0041", "\\u00e9", "\\u001f", "\\u0000", "\\u2028", "\\ud83d\\ude00", "\\ud800",
    "\\udc00", "\\uD83D", "é", "中", "😀", " ", "\u007f", "?")
  // invalid UTF-8: stray continuation, bad lead, truncated 2/3/4-byte
  // sequences, an encoded surrogate, an overlong form, past U+10FFFF
  private val badBytes = Seq(Array(0x80), Array(0xff), Array(0xc3), Array(0xe2, 0x82),
    Array(0xf0, 0x9f, 0x98), Array(0xed, 0xa0, 0x80), Array(0xc0, 0xaf),
    Array(0xf4, 0x90, 0x80, 0x80), Array(0xe0, 0x80, 0x80)).map(_.map(_.toByte))

  private final class Gen(seed: Long) {
    val rnd = new Random(seed)
    val buf = new ByteArrayOutputStream

    def w(s: String): Unit = buf.write(s.getBytes(UTF_8))
    def ws(): Unit = rnd.nextInt(8) match {
      case 0 => w(" ")
      case 1 => w("\n\t ")
      case 2 => w("\r\n")
      case _ => ()
    }
    def str(): Unit = {
      w("\"")
      (0 until rnd.nextInt(4)).foreach { _ =>
        if (rnd.nextInt(12) == 0) buf.write(badBytes(rnd.nextInt(badBytes.size)))
        else w(pieces(rnd.nextInt(pieces.size)))
      }
      w("\"")
    }
    def value(depth: Int): Unit = rnd.nextInt(if (depth > 3) 5 else 8) match {
      case 0 => str()
      case 1 => w(numbers(rnd.nextInt(numbers.size)))
      case 2 => w(Seq("true", "false", "null")(rnd.nextInt(3)))
      case 3 => w(rnd.nextLong().toString)
      case 4 => w("\"" + rnd.alphanumeric.take(rnd.nextInt(6)).mkString + "\"")
      case 5 | 6 => obj(depth + 1)
      case _ =>
        w("["); ws()
        (0 until rnd.nextInt(4)).foreach { i => if (i > 0) { w(","); ws() }; value(depth + 1); ws() }
        w("]")
    }
    /** An object; now and then a wide one, whose members are indexed. */
    def obj(depth: Int): Unit = {
      val wide = depth < 2 && rnd.nextInt(20) == 0
      w("{"); ws()
      (0 until (if (wide) 17 + rnd.nextInt(30) else rnd.nextInt(5))).foreach { i =>
        if (i > 0) { w(","); ws() }
        val key =
          if (wide && rnd.nextInt(3) > 0) "n" + rnd.nextInt(30)
          else writtenKeys(rnd.nextInt(if (rnd.nextBoolean()) 5 else writtenKeys.size))
        w("\"" + key + "\"")
        ws(); w(":"); ws()
        value(depth)
        ws()
      }
      w("}")
    }
    /** A document: mostly an object, sometimes another root value, with
      * leading whitespace and sometimes trailing content.
      */
    def doc(): Array[Byte] = {
      buf.reset()
      ws()
      if (rnd.nextInt(10) == 0) value(4) else obj(0)
      rnd.nextInt(10) match {
        case 0 => w(" junk")
        case 1 => w("}")
        case 2 => buf.write(badBytes(rnd.nextInt(badBytes.size)))
        case 3 => w("\u0001")
        case _ => ()
      }
      buf.toByteArray
    }
    // a path of only dots splits to nothing; compileDrop rejects it
    def path(): String = Iterator.continually(
      Seq.fill(1 + rnd.nextInt(3))(names(rnd.nextInt(names.size))).mkString("."))
      .find(_.split('.').nonEmpty).get
    def paths(): Seq[String] = Seq.fill(1 + rnd.nextInt(3))(path())
    def keep(): Seq[String] = Seq.fill(rnd.nextInt(3))(names(rnd.nextInt(names.size)))
    def field(): String = Seq("w", "a", "id", "é")(rnd.nextInt(4))

    /** `d` with one or two bytes deleted, inserted or the tail cut. */
    def mutate(d: Array[Byte]): Array[Byte] = {
      val noise = "{}[]\",:\\0-.eE+tfnu \u0001\u0000\u007f".getBytes(UTF_8) ++
        Array(0xc3, 0xff).map(_.toByte)
      (0 until 1 + rnd.nextInt(2)).foldLeft(d) { (b, _) =>
        val i = rnd.nextInt(b.length + 1)
        rnd.nextInt(3) match {
          case 0 if b.nonEmpty => b.patch(math.min(i, b.length - 1), Nil, 1)
          case 1 => b.patch(i, Seq(noise(rnd.nextInt(noise.length))), 0)
          case _ => b.take(i)
        }
      }
    }
  }

  private def outcome(f: => UTF8String): Try[Seq[Byte]] = Try(f.getBytes.toSeq)

  // failure messages stay ASCII: a lone surrogate breaks the test report
  private def show(d: Array[Byte]): String =
    d.map(b => if (b >= 0x20 && b < 0x7f) b.toChar.toString else f"\\x$b%02x").mkString
  private def show(s: Any): String =
    s.toString.map(c => if (c >= 0x20 && c < 0x7f) c.toString else f"\\u${c.toInt}%04x").mkString

  /** Kernel and oracle agree: the same bytes, or both fail. A non-object
    * root fails with the same message; other malformed input with the
    * kernel's own, never a StackOverflowError.
    */
  private def agree(doc: Array[Byte], what: String)(kernel: UTF8String => UTF8String,
                                                     oracle: UTF8String => UTF8String): Boolean = {
    val u = UTF8String.fromBytes(doc)
    (outcome(kernel(u)), outcome(oracle(u))) match {
      case (Success(k), Success(o)) =>
        assert(k == o, s"$what on ${show(doc)}: kernel ${show(k.toArray)} vs tree ${show(o.toArray)}")
        true
      case (Failure(k), Failure(o)) =>
        assert(k.isInstanceOf[IllegalArgumentException], s"$what on ${show(doc)}: kernel threw ${show(k)}")
        if (o.isInstanceOf[IllegalArgumentException]) assert(k.getMessage == o.getMessage, s"$what: ${show(k)} vs ${show(o)}")
        else assert(k.getMessage.startsWith("Malformed JSON"), s"$what: ${show(k)}")
        false
      case (k, o) => fail(s"$what on ${show(doc)}: kernel ${show(k)} vs tree ${show(o)}")
    }
  }

  private def dropAgrees(doc: Array[Byte], paths: Seq[String]): Boolean =
    agree(doc, s"drop ${show(paths)}")(
      JsonStringOps.dropJson(_, JsonStringOps.compileDrop(paths)), JsonTreeOracle.drop(_, paths))

  private def hoistAgrees(doc: Array[Byte], field: String, keep: Seq[String]): Boolean =
    agree(doc, s"hoist ${show(field)} keep=${show(keep)}")(
      JsonStringOps.hoistJson(_, new JsonHoistSpec(field, keep)), JsonTreeOracle.hoist(_, field, keep))

  test("drop and hoist match the tree byte for byte on generated documents") {
    val g = new Gen(20261018L)
    var ok = 0
    (1 to 4000).foreach { _ =>
      val d = g.doc()
      (1 to 2).foreach { _ => if (dropAgrees(d, g.paths())) ok += 1 }
      (1 to 2).foreach { _ => if (hoistAgrees(d, g.field(), g.keep())) ok += 1 }
    }
    // most generated documents are well-formed objects
    assert(ok > 8000, s"only $ok successful comparisons")
  }

  test("the parity rules, one document each") {
    def bytes(s: String) = s.getBytes(UTF_8)
    def dropsTo(in: String, paths: Seq[String], want: String): Unit = {
      assert(dropAgrees(bytes(in), paths), show(in))
      assert(JsonStringOps.dropJson(UTF8String.fromString(in), JsonStringOps.compileDrop(paths))
        .toString == want, show(in))
    }
    dropsTo("""{"a":1,"b":2,"a":3}""", Seq("z"), """{"a":3,"b":2}""")
    dropsTo("""{"a":{"p":1,"p":2}}""", Seq("z"), """{"a":{"p":2}}""")
    dropsTo("""{"a":{"x":1,"y":2},"b":0,"a":{"x":3,"z":4}}""", Seq("a.x"), """{"a":{"z":4},"b":0}""")
    dropsTo(""" { "a" : [ 1 , { "b" : 2 } ] } """, Seq("z"), """{"a":[1,{"b":2}]}""")
    dropsTo("""{"n":[-0,1e2,1.50,1E400,-0.0,123456789012345678901234]}""", Seq("z"),
      """{"n":[0,100.0,1.5,"Infinity",-0.0,123456789012345678901234]}""")
    dropsTo("{\"s\":\"\\/\\u0041é😀\\ud800\\u001f\\\"\"}", Seq("z"),
      "{\"s\":\"/Aé😀?\\u001F\\\"\"}")
    dropsTo("""{"a":1} junk""", Seq("z"), """{"a":1}""")
    dropsTo("""{"a":1,"b":{"a":2}}""", Seq("a", "b.a"), """{"b":{}}""")
    dropsTo("""{"a":1,"a.b":2}""", Seq("a.b"), """{"a":1,"a.b":2}""")
    dropsTo("""{"":{"":1,"a":2},"a":3}""", Seq(".a.", "a."), """{"":{"":1}}""")
    // a path of dots only names nothing: rejected when compiled (the tree
    // failed on every object row instead)
    intercept[IllegalArgumentException](JsonStringOps.compileDrop(Seq("..")))
    assert(dropAgrees(Array('{', '"', 'a', '"', ':', '"', 0xff, 0xc3, '"', '}').map(_.toByte), Seq("z")))

    // failures: malformed anywhere, even in a dropped subtree; non-object roots
    val malformed = Seq("""{"x":{"bad":}}""", """{"a":tru}""", """{"a":nul}""", """{"a":}""",
      """{"a"}""", """{"a":1,}""", """{"a":01}""", """{"a":1.}""", """{"a":+1}""", "{\"a\":\"\\x\"}",
      "{\"a\":\"\u0001\"}", "{\"a\":1\u0001}", "{\"a\":\"\\u12\"}", """{'a':1}""", """{"a":[1,]}""",
      """{"a":1 "b":2}""", """{"a":-}""", """{"a":NaN}""", """{"a":1""", "{\"a\":\"abc")
    malformed.foreach { m =>
      assert(!dropAgrees(bytes(m), Seq("x")), show(m))
      assert(!hoistAgrees(bytes(m), "w", Nil), show(m))
      assert(!hoistAgrees(bytes(m), "w", Seq("a")), show(m))
    }
    Seq("", "  ", "\n", "null", "1", "[1,2]", "\"s\"", "true", "-0", "1 }", "1}", "truex", "true$",
      "\uFEFF{}")
      .foreach { r =>
        assert(!dropAgrees(bytes(r), Seq("a")), show(r))
        hoistAgrees(bytes(r), "w", Nil)
        assert(!hoistAgrees(bytes(r), "w", Seq("a")), show(r))
      }
  }

  test("malformed documents fail on both sides") {
    val g = new Gen(7L)
    var failed = 0
    (1 to 3000).foreach { _ =>
      val d = g.mutate(g.doc())
      if (!dropAgrees(d, g.paths())) failed += 1
      hoistAgrees(d, g.field(), g.keep())
    }
    assert(failed > 1000, s"only $failed of 3000 mutations were malformed")
  }

  test("nesting: 1000 levels pass, deeper fails without a stack overflow") {
    // `d` levels of objects; an object around `d - 1` levels of arrays
    def objects(d: Int) = ("{\"a\":" * d + "1" + "}" * d).getBytes(UTF_8)
    def arrays(d: Int) = ("{\"a\":" + "[" * (d - 1) + "]" * (d - 1) + "}").getBytes(UTF_8)
    assert(dropAgrees(arrays(1000), Seq("a")))
    assert(dropAgrees(objects(1000), Seq("a.a")))
    assert(!dropAgrees(arrays(1001), Seq("z")))
    assert(!dropAgrees(objects(1001), Seq("z")))
    // Jackson's generator caps array nesting too: hoisting moves it one deeper
    assert(!hoistAgrees(arrays(1000), "w", Nil))
    assert(hoistAgrees(arrays(999), "w", Nil))
    assert(hoistAgrees(objects(1000), "w", Seq("b")))
    val deep = ("{\"a\":" * 100000).getBytes(UTF_8)
    assert(!dropAgrees(deep, Seq("a")))
    assert(!hoistAgrees(deep, "w", Seq("b")))
  }

  test("interpreted and generated code run the same kernel") {
    val s = spark
    import s.implicits._
    val g = new Gen(99L)
    val docs = Iterator.continually(g.doc())
      .filter(d => Try(JsonTreeOracle.hoist(UTF8String.fromBytes(d), "w", Seq("a"))).isSuccess &&
        Try(JsonTreeOracle.drop(UTF8String.fromBytes(d), Seq("a.b", "k"))).isSuccess)
      .take(400).toSeq
    val in = spark.sparkContext.parallelize(docs, 2).toDF("b").select(col("b").cast("string").as("j"))
    val want = docs.map { d =>
      val u = UTF8String.fromBytes(d)
      (JsonTreeOracle.drop(u, Seq("a.b", "k")).getBytes.toSeq,
        JsonTreeOracle.hoist(u, "w", Seq("a")).getBytes.toSeq)
    }
    for ((mode, wholeStage) <- Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false")) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      try {
        val got = in.select(
          JsonDropFields(col("j"), Seq("a.b", "k")).cast("binary"),
          JsonHoistField(col("j"), "w", Seq("a")).cast("binary"))
          .as[(Array[Byte], Array[Byte])].collect().map { case (d, h) => (d.toSeq, h.toSeq) }.toSeq
        assert(got == want, mode)
      } finally {
        spark.conf.unset("spark.sql.codegen.factoryMode")
        spark.conf.unset("spark.sql.codegen.wholeStage")
      }
    }
  }
}
