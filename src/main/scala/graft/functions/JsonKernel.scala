package graft.functions

import java.nio.charset.StandardCharsets.UTF_8
import java.util.Arrays

import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The one-pass JSON rewriter behind [[JsonStringOps]] (its contract is
  * documented there): a strict recursive-descent parser over the row's
  * bytes that writes compact JSON as it reads. Tokens that are already in
  * the output form (strings with no escape and valid UTF-8, integers other
  * than `-0`) are copied verbatim; the rest are re-encoded.
  *
  * Each open object keeps a record per written member (hash and output
  * offsets of key and value), so a repeated key overwrites the earlier
  * value in place, as Jackson's `ObjectNode` does. An object with more than
  * [[JsonKernel.Wide]] members also gets a hash index over its records.
  *
  * One instance per thread: the buffers are reused row after row. The
  * parser recurses once per nesting level; at the 1000-level cap it needs
  * under 0.5 MB of thread stack, measured before JIT compilation (the
  * JVM's default is 1 MB).
  */
private[functions] final class JsonKernel {
  import JsonKernel._

  // the input row, read in place
  private var base: AnyRef = _
  private var off = 0L
  private var end = 0
  private var pos = 0

  private var out = new Array[Byte](Initial)
  private var len = 0

  // member records of the open objects, Rec ints each: H, KS, KE, VS, VE, ODD, NEXT
  private var mem = new Array[Int](16 * Rec)
  private var top = 0
  // per open object, by nesting level: hash -> newest record, once it is wide
  private val index = new Array[java.util.HashMap[Integer, Integer]](MaxDepth + 3)
  private var level = 0
  // names of recorded members that hold a lone surrogate
  private val odd = new java.util.ArrayList[String]
  // the last name read, when it holds a lone surrogate
  private var lastOdd: String = _

  def result: Array[Byte] = out
  def length: Int = len

  def drop(s: UTF8String, paths: JsonDropPaths): UTF8String = {
    reset(s)
    ws()
    if (pos < end && at(pos) == '{') value(0, 0, paths, root = true)
    else notObject(s, "Only Map (JSON object) values are supported by schemaless DropField, found: ")
    done()
  }

  def hoist(s: UTF8String, spec: JsonHoistSpec): UTF8String = {
    reset(s)
    ws()
    if (spec.keep.isEmpty) {
      put('{')
      name(spec.name)
      // no value at all reads as Jackson's MissingNode, which writes null
      if (pos < end) value(0, 1, null, root = true) else putBytes(Null)
      put('}')
    } else if (pos < end && at(pos) == '{') {
      // two passes over the members: the kept ones, then the moved ones
      // inside `field`, which overwrites a kept member of that name
      pos += 1
      put('{')
      val frame = open()
      val first = pos
      if (members(1, 0, null, spec, Kept, frame)) {
        val ms = len
        if (top > frame) put(',')
        val ks = len + 1
        name(spec.name)
        val vs = len
        put('{')
        pos = first
        val inner = open()
        members(1, 1, null, spec, Moved, inner)
        close(inner)
        put('}')
        member(frame, ms, ks, ks + spec.name.bytes.length, spec.name.odd, vs)
      }
      close(frame)
      put('}')
    } else notObject(s,
      "Only Map (JSON object) values are supported if keepInRootFieldNames is configured, found: ")
    done()
  }

  /** Writes `cs` as a quoted JSON string the way Jackson's generator and
    * `String.getBytes(UTF_8)` do; returns whether it held a lone surrogate.
    */
  def writeString(cs: CharSequence): Boolean = {
    var lone = false
    put('"')
    val n = cs.length
    var j = 0
    while (j < n) {
      val c = cs.charAt(j)
      if (c < 0x80) {
        if (c < 0x20) {
          put('\\')
          c match {
            case '\b' => put('b')
            case '\t' => put('t')
            case '\n' => put('n')
            case '\f' => put('f')
            case '\r' => put('r')
            case _ =>
              put('u'); put('0'); put('0'); put(Hex(c >> 4)); put(Hex(c & 15))
          }
        } else {
          if (c == '"' || c == '\\') put('\\')
          put(c)
        }
      } else if (c < 0x800) {
        put(0xc0 | c >> 6); put(0x80 | c & 0x3f)
      } else if (!Character.isSurrogate(c)) {
        put(0xe0 | c >> 12); put(0x80 | c >> 6 & 0x3f); put(0x80 | c & 0x3f)
      } else if (Character.isHighSurrogate(c) && j + 1 < n && Character.isLowSurrogate(cs.charAt(j + 1))) {
        val cp = Character.toCodePoint(c, cs.charAt(j + 1))
        put(0xf0 | cp >> 18); put(0x80 | cp >> 12 & 0x3f); put(0x80 | cp >> 6 & 0x3f); put(0x80 | cp & 0x3f)
        j += 1
      } else {
        put('?')
        lone = true
      }
      j += 1
    }
    put('"')
    lone
  }

  private def reset(s: UTF8String): Unit = {
    base = s.getBaseObject
    off = s.getBaseOffset
    end = s.numBytes
    pos = 0
    if (out.length > Retain) out = new Array[Byte](Initial)
    len = 0
    top = 0
    while (level > 0) { index(level) = null; level -= 1 }
    if (!odd.isEmpty) odd.clear()
  }

  private def done(): UTF8String = UTF8String.fromBytes(Arrays.copyOf(out, len))

  /** Throws the non-object error, unless the root value is malformed. */
  private def notObject(s: UTF8String, msg: String): Nothing = {
    if (pos < end) value(0, 0, null, root = true)
    throw new IllegalArgumentException(msg + s)
  }

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"Malformed JSON at byte $pos: $msg")

  private def at(i: Int): Int = Platform.getByte(base, off + i)

  private def ws(): Unit =
    while (pos < end && space(at(pos))) pos += 1

  private def put(b: Int): Unit = {
    if (len == out.length) out = Arrays.copyOf(out, len * 2)
    out(len) = b.toByte
    len += 1
  }

  private def ensure(n: Int): Unit =
    if (len + n > out.length) out = Arrays.copyOf(out, math.max(out.length * 2, len + n))

  private def putBytes(b: Array[Byte]): Unit = {
    ensure(b.length)
    System.arraycopy(b, 0, out, len, b.length)
    len += b.length
  }

  private def copy(from: Int, until: Int): Unit = {
    val n = until - from
    ensure(n)
    Platform.copyMemory(base, off + from, out, Platform.BYTE_ARRAY_OFFSET + len, n)
    len += n
  }

  private def name(n: JsonName): Unit = {
    put('"'); putBytes(n.bytes); put('"'); put(':')
  }

  private def open(): Int = {
    level += 1
    index(level) = null
    top
  }

  private def close(frame: Int): Unit = {
    top = frame
    index(level) = null
    level -= 1
  }

  /** Reads the value at `pos` and writes it. `depth` is the nesting of the
    * enclosing container (0 at the root), `shift` how much deeper the value
    * lands in the output, and `paths` the drops that apply if it is an
    * object.
    */
  private def value(depth: Int, shift: Int, paths: JsonDropPaths, root: Boolean): Unit = {
    if (pos >= end) fail("unexpected end of input")
    val b = at(pos)
    if (b == '{') {
      if (depth >= MaxDepth) fail(s"nesting depth exceeds $MaxDepth")
      pos += 1
      put('{')
      val frame = open()
      members(depth + 1, shift, paths, null, All, frame)
      close(frame)
      put('}')
    } else if (b == '[') {
      if (depth >= MaxDepth) fail(s"nesting depth exceeds $MaxDepth")
      // Jackson's generator caps array (not object) nesting at the same depth
      if (depth + 1 + shift > MaxDepth) fail(s"output array nesting depth exceeds $MaxDepth")
      pos += 1
      put('[')
      ws()
      if (pos < end && at(pos) == ']') pos += 1
      else {
        var more = true
        while (more) {
          ws()
          value(depth + 1, shift, null, root = false)
          ws()
          if (pos >= end) fail("unexpected end of input")
          val c = at(pos)
          pos += 1
          if (c == ',') put(',')
          else if (c == ']') more = false
          else fail("expected ',' or ']'")
        }
      }
      put(']')
    } else if (b == '"') string(MaxString)
    else if (b == 't') literal(True, root)
    else if (b == 'f') literal(False, root)
    else if (b == 'n') literal(Null, root)
    else number(root)
  }

  /** Reads the members up to the closing `}` and writes those `sel`
    * selects (all, or the ones `hoist` keeps at the root, or the others)
    * into the object whose records start at `frame`. Returns whether a
    * member was left out.
    */
  private def members(depth: Int, shift: Int, paths: JsonDropPaths, hoist: JsonHoistSpec,
                      sel: Int, frame: Int): Boolean = {
    var skipped = false
    ws()
    var more = !(pos < end && at(pos) == '}')
    if (!more) pos += 1
    while (more) {
      if (pos >= end || at(pos) != '"') fail("expected a field name")
      val ms = len
      if (top > frame) put(',')
      val ks = len + 1
      string(MaxName)
      val ke = len - 1
      val kodd = lastOdd
      ws()
      if (pos >= end || at(pos) != ':') fail("expected ':'")
      pos += 1
      put(':')
      ws()
      var sub: JsonDropPaths = null
      var keep = true
      if (paths != null) {
        sub = paths.lookup(out, ks, ke, kodd)
        keep = sub == null || !sub.drop
      } else if (sel != All) {
        keep = hoist.kept(out, ks, ke, kodd) == (sel == Kept)
      }
      val vs = len
      // a left-out value is still read, so malformed input fails wherever it is
      value(depth, if (keep) shift else 0, sub, root = false)
      if (keep) member(frame, ms, ks, ke, kodd, vs)
      else { len = ms; skipped = true }
      ws()
      if (pos >= end) fail("unexpected end of input")
      val c = at(pos)
      pos += 1
      if (c == '}') more = false
      else if (c == ',') ws()
      else fail("expected ',' or '}'")
    }
    skipped
  }

  /** Records the member just written (from `ms`, key at `ks`..`ke`, value
    * from `vs` to the end), or, if its key is already in the object,
    * moves its value over the earlier one.
    */
  private def member(frame: Int, ms: Int, ks: Int, ke: Int, kodd: String, vs: Int): Unit = {
    var h = 0
    var i = ks
    while (i < ke) { h = 31 * h + out(i); i += 1 }
    val dup = find(frame, h, ks, ke, kodd)
    if (dup >= 0) splice(dup, vs, ms)
    else {
      if ((top + 1) * Rec > mem.length) mem = Arrays.copyOf(mem, mem.length * 2)
      val r = top * Rec
      mem(r) = h
      mem(r + KS) = ks
      mem(r + KE) = ke
      mem(r + VS) = vs
      mem(r + VE) = len
      mem(r + ODD) = if (kodd == null) -1 else { odd.add(kodd); odd.size - 1 }
      top += 1
      val ix = index(level)
      if (ix != null) {
        mem(r + NEXT) = ix.getOrDefault(h, -1)
        ix.put(h, top - 1)
      } else if (top - frame > Wide) {
        val nix = new java.util.HashMap[Integer, Integer]
        var j = frame
        while (j < top) {
          mem(j * Rec + NEXT) = nix.getOrDefault(mem(j * Rec), -1)
          nix.put(mem(j * Rec), j)
          j += 1
        }
        index(level) = nix
      }
    }
  }

  private def find(frame: Int, h: Int, ks: Int, ke: Int, kodd: String): Int = {
    val ix = index(level)
    var j = if (ix == null) top - 1 else ix.getOrDefault(h, -1).intValue
    while (j >= frame) {
      val r = j * Rec
      if (mem(r) == h && Arrays.equals(out, mem(r + KS), mem(r + KE), out, ks, ke) &&
          (if (mem(r + ODD) < 0) kodd == null else odd.get(mem(r + ODD)) == kodd)) return j
      j = if (ix == null) j - 1 else mem(r + NEXT)
    }
    -1
  }

  /** Replaces record `i`'s value with the value at `vs`..end and drops the
    * repeated member written from `ms`.
    */
  private def splice(i: Int, vs: Int, ms: Int): Unit = {
    val r = i * Rec
    val v = Arrays.copyOfRange(out, vs, len)
    val delta = v.length - (mem(r + VE) - mem(r + VS))
    System.arraycopy(out, mem(r + VE), out, mem(r + VE) + delta, ms - mem(r + VE))
    System.arraycopy(v, 0, out, mem(r + VS), v.length)
    len = ms + delta
    mem(r + VE) += delta
    var j = (i + 1) * Rec
    while (j < top * Rec) {
      mem(j + KS) += delta; mem(j + KE) += delta; mem(j + VS) += delta; mem(j + VE) += delta
      j += Rec
    }
  }

  /** Reads the string at `pos` and writes it; sets `lastOdd`. `limit` is
    * Jackson's cap on its length in chars.
    */
  private def string(limit: Int): Unit = {
    val s = pos + 1
    var i = s
    var escaped = false
    var ascii = true
    var b = 0
    while ({ if (i >= end) fail("unterminated string"); b = at(i); b != '"' }) {
      if (b == '\\') { escaped = true; i += 2 }
      else {
        if (b < 0) ascii = false
        else if (b < 0x20) fail("unescaped control character in string")
        i += 1
      }
    }
    lastOdd = null
    if (!escaped && (ascii || validUtf8(s, i))) {
      if (i - s > limit && chars(s, i) > limit) fail(s"string longer than $limit chars")
      put('"')
      copy(s, i)
      put('"')
    } else {
      // decode with the closing quote, as the whole document decodes: a
      // malformed sequence never swallows an ASCII byte
      val raw = new Array[Byte](i + 1 - s)
      Platform.copyMemory(base, off + s, raw, Platform.BYTE_ARRAY_OFFSET, raw.length)
      val text = unescape(new String(raw, UTF_8))
      if (text.length > limit) fail(s"string longer than $limit chars")
      if (writeString(text)) lastOdd = text.toString
    }
    pos = i + 1
  }

  /** Resolves the escapes of a decoded string body (ending in its quote). */
  private def unescape(d: String): java.lang.StringBuilder = {
    val n = d.length - 1
    val sb = new java.lang.StringBuilder(n)
    var j = 0
    while (j < n) {
      val c = d.charAt(j)
      if (c != '\\') { sb.append(c); j += 1 }
      else {
        if (j + 1 >= n) fail("unterminated escape")
        val e = d.charAt(j + 1)
        j += 2
        e match {
          case '"' | '\\' | '/' => sb.append(e)
          case 'b' => sb.append('\b')
          case 'f' => sb.append('\f')
          case 'n' => sb.append('\n')
          case 'r' => sb.append('\r')
          case 't' => sb.append('\t')
          case 'u' =>
            if (j + 4 > n) fail("bad unicode escape")
            var v = 0
            var k = 0
            while (k < 4) {
              val x = hex(d.charAt(j + k))
              if (x < 0) fail("bad unicode escape")
              v = v << 4 | x
              k += 1
            }
            sb.append(v.toChar)
            j += 4
          case _ => fail(s"unrecognized escape '\\$e'")
        }
      }
    }
    sb
  }

  private def validUtf8(from: Int, until: Int): Boolean = {
    var i = from
    while (i < until) {
      val b = at(i) & 0xff
      if (b < 0x80) i += 1
      else {
        val n = if (b < 0xc2) 0 else if (b < 0xe0) 2 else if (b < 0xf0) 3 else if (b < 0xf5) 4 else 0
        if (n == 0 || i + n > until || !continues(b, i)) return false
        var k = 2
        while (k < n) {
          if ((at(i + k) & 0xc0) != 0x80) return false
          k += 1
        }
        i += n
      }
    }
    true
  }

  /** Whether the byte after lead byte `b` at `i` is a valid second byte
    * (no overlong form, surrogate or code point past U+10FFFF).
    */
  private def continues(b: Int, i: Int): Boolean = {
    val b1 = at(i + 1) & 0xff
    val lo = if (b == 0xe0) 0xa0 else if (b == 0xf0) 0x90 else 0x80
    val hi = if (b == 0xed) 0x9f else if (b == 0xf4) 0x8f else 0xbf
    b1 >= lo && b1 <= hi
  }

  /** UTF-16 length of valid UTF-8. */
  private def chars(from: Int, until: Int): Int = {
    var n = 0
    var i = from
    while (i < until) {
      val b = at(i) & 0xff
      if ((b & 0xc0) != 0x80) n += (if (b >= 0xf0) 2 else 1)
      i += 1
    }
    n
  }

  private def number(root: Boolean): Unit = {
    val s = pos
    var i = pos
    if (at(i) == '-') i += 1
    val ds = i
    if (i >= end) fail("unexpected end of input")
    val b = at(i)
    if (b == '0') {
      i += 1
      if (i < end && digit(at(i))) fail("leading zeros")
    } else if (digit(b)) i = digits(i)
    else fail("unexpected character")
    var n = i - ds
    var integral = true
    if (i < end && at(i) == '.') {
      val f = i + 1
      i = digits(f)
      if (i == f) fail("no digit after the decimal point")
      n += i - f
      integral = false
    }
    if (i < end && (at(i) == 'e' || at(i) == 'E')) {
      i += 1
      if (i < end && (at(i) == '+' || at(i) == '-')) i += 1
      val x = i
      i = digits(x)
      if (i == x) fail("no digit in the exponent")
      n += i - x
      integral = false
    }
    if (n > MaxNumber) fail(s"number longer than $MaxNumber digits")
    pos = i
    if (root && i < end && !space(at(i))) fail("expected space after a root-level number")
    if (integral) {
      if (i - s == 2 && ds == s + 1 && at(ds) == '0') put('0') // -0
      else copy(s, i)
    } else {
      val text = new Array[Char](i - s)
      var k = 0
      while (k < text.length) { text(k) = at(s + k).toChar; k += 1 }
      val d = java.lang.Double.parseDouble(new String(text))
      val t = java.lang.Double.toString(d).getBytes(UTF_8)
      // Jackson quotes the non-finite doubles
      if (d.isInfinite) { put('"'); putBytes(t); put('"') } else putBytes(t)
    }
  }

  private def digits(from: Int): Int = {
    var i = from
    while (i < end && digit(at(i))) i += 1
    i
  }

  private def literal(word: Array[Byte], root: Boolean): Unit = {
    var k = 0
    while (k < word.length) {
      if (pos + k >= end || at(pos + k) != word(k)) fail("unrecognized token")
      k += 1
    }
    pos += word.length
    // Jackson rejects `truex` at the root, where trailing content is
    // otherwise ignored; elsewhere the next byte must be a separator anyway
    if (root && pos < end) {
      val c = at(pos) & 0xff
      if (c >= '0' && c != ']' && c != '}' && Character.isJavaIdentifierPart(charAt(pos)))
        fail("unrecognized token")
    }
    putBytes(word)
  }

  /** The char that decoding would give for the bytes at `i`: U+FFFD for a
    * malformed sequence, and for a 4-byte one, whose high surrogate is no
    * identifier part either.
    */
  private def charAt(i: Int): Char = {
    val b = at(i) & 0xff
    if (b < 0x80) b.toChar
    else if (b >= 0xc2 && b < 0xe0 && i + 1 < end && continues(b, i))
      ((b & 0x1f) << 6 | at(i + 1) & 0x3f).toChar
    else if (b >= 0xe0 && b < 0xf0 && i + 2 < end && continues(b, i) && (at(i + 2) & 0xc0) == 0x80)
      ((b & 0x0f) << 12 | (at(i + 1) & 0x3f) << 6 | at(i + 2) & 0x3f).toChar
    else Replacement
  }
}

private[functions] object JsonKernel {
  // Jackson 2.x StreamReadConstraints defaults
  final val MaxDepth = 1000
  final val MaxNumber = 1000
  final val MaxName = 50000
  final val MaxString = 20000000

  final val Initial = 256
  final val Retain = 1 << 20 // larger buffers are dropped before the next row
  final val Wide = 16

  // member record layout
  final val Rec = 7
  final val KS = 1
  final val KE = 2
  final val VS = 3
  final val VE = 4
  final val ODD = 5
  final val NEXT = 6

  // member selections
  final val All = 0
  final val Kept = 1
  final val Moved = 2

  final val Replacement = 0xfffd.toChar

  private val True = "true".getBytes(UTF_8)
  private val False = "false".getBytes(UTF_8)
  private val Null = "null".getBytes(UTF_8)
  private val Hex = "0123456789ABCDEF".getBytes(UTF_8)

  private def space(b: Int): Boolean = b == ' ' || b == '\n' || b == '\r' || b == '\t'
  private def digit(b: Int): Boolean = b >= '0' && b <= '9'
  private def hex(c: Char): Int =
    if (c >= '0' && c <= '9') c - '0'
    else if (c >= 'a' && c <= 'f') c - 'a' + 10
    else if (c >= 'A' && c <= 'F') c - 'A' + 10
    else -1
}
