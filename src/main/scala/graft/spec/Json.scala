package graft.spec

import com.fasterxml.jackson.databind.JsonNode
import scala.jdk.CollectionConverters._

/** Minimal JSON value model for constraint specs and test instances.
  *
  * Mirrors the reference's instance model
  * (`/root/reference/crates/jsonschema-value/src/lib.rs:39-62`): seven JSON
  * types, math equality for numbers (`cmp.rs:48` equal_numbers), deep
  * array/object equality (`cmp.rs:128/143`), and the key semantic that an
  * integral float (`1.0`) counts as an integer (`types.rs:192-204`).
  */
sealed trait JsonValue {
  def jsonType: JsonType = this match {
    case JNull       => JsonType.Null
    case _: JBool    => JsonType.Boolean
    case n: JNum     => if (n.isIntegral) JsonType.Integer else JsonType.Number
    case _: JStr     => JsonType.String
    case _: JArr     => JsonType.Array
    case _: JObj     => JsonType.Object
  }
}
case object JNull extends JsonValue
final case class JBool(value: Boolean) extends JsonValue
/** All numbers as BigDecimal: exact cross-representation comparison. */
final case class JNum(value: BigDecimal) extends JsonValue {
  /** `1.0` counts as integer (`types.rs:192-245`). The check runs once
    * per number in every `type` keyword hit, so it must not divide:
    * `remainder(1)` inflates to BigInteger Knuth division and dominated
    * whole-document validation on numeric-heavy payloads (GeoJSON
    * coordinates). A decimal with scale s is integral iff its s lowest
    * digits are zero — a long digit loop for the ubiquitous compact case. */
  @transient lazy val isIntegral: Boolean = {
    val s = value.scale
    if (s <= 0) true
    else {
      val u = value.underlying.unscaledValue
      if (u.signum == 0) true
      else if (u.bitLength <= 62) {
        var v = Math.abs(u.longValueExact)
        var k = s
        var integral = true
        while (integral && k > 0) { integral = v % 10 == 0; v /= 10; k -= 1 }
        integral
      } else value.underlying.stripTrailingZeros.scale <= 0
    }
  }
}
final case class JStr(value: String) extends JsonValue
final case class JArr(items: Vector[JsonValue]) extends JsonValue
final case class JObj(fields: Vector[(String, JsonValue)]) extends JsonValue {
  lazy val toMap: Map[String, JsonValue] = fields.toMap
  // building the hash map costs more than scanning for the small objects
  // that dominate real documents (validator hot path: one fresh JObj per
  // node per row)
  def get(key: String): Option[JsonValue] = {
    if (fields.length <= 8) {
      var i = 0
      while (i < fields.length) {
        if (fields(i)._1 == key) return Some(fields(i)._2)
        i += 1
      }
      None
    } else toMap.get(key)
  }
  // first-occurrence-wins hash map (reverse insertion ⇒ earlier fields
  // overwrite later ones) for wide objects; built once per JObj on first
  // >8-field lookup
  private lazy val firstMap: Map[String, JsonValue] = fields.reverseIterator.toMap
  /** Allocation-free lookup for validator hot paths (no Some per hit).
    * Always the FIRST occurrence under duplicate keys — the dispatch
    * kernels (Compiled tag dispatch, Streaming) rely on one consistent
    * rule regardless of object size. Linear for the small objects that
    * dominate real documents, hashed above 8 fields (Compiled's const
    * dispatch calls this once per object per row — wide objects must not
    * regress to O(fields)). */
  def getOrNull(key: String): JsonValue = {
    if (fields.length <= 8) {
      var i = 0
      while (i < fields.length) {
        if (fields(i)._1 == key) return fields(i)._2
        i += 1
      }
      null
    } else firstMap.getOrElse(key, null)
  }
  def has(key: String): Boolean = {
    if (fields.length <= 8) {
      var i = 0
      while (i < fields.length) {
        if (fields(i)._1 == key) return true
        i += 1
      }
      false
    } else toMap.contains(key)
  }
}

/** The seven JSON types (`jsonschema-value/src/types.rs:19-27`). */
sealed abstract class JsonType(val name: String)
object JsonType {
  case object Null    extends JsonType("null")
  case object Boolean extends JsonType("boolean")
  case object Integer extends JsonType("integer")
  case object Number  extends JsonType("number")
  case object String  extends JsonType("string")
  case object Array   extends JsonType("array")
  case object Object  extends JsonType("object")
  val all: Seq[JsonType] = Seq(Null, Boolean, Integer, Number, String, Array, Object)
  def fromName(s: String): Option[JsonType] = all.find(_.name == s)
}

object JsonValue {
  /** Direct recursive-descent parse into the value tree. A per-document
    * hot path (the contentSchema kernel parses one document per ROW):
    * avoids jackson's per-call parser/IOContext/buffer setup and its
    * token-event indirection — strings and field names are single-alloc
    * substrings, i64-range int tokens wrap a long (scale-0 BigDecimal,
    * same compare semantics), other numbers are exact BigDecimals of the
    * raw token text. RFC 8259 grammar; one value read, trailing tokens
    * ignored (same laxity as the previous streaming form, so verdicts on
    * concatenated/garbage-tailed inputs are unchanged). */
  def parse(text: String): JsonValue = new Parser(text).parseRoot()

  /** Bounded field-name intern pool (jackson's name canonicalization,
    * for our tree): keys recur endlessly across documents, and validator
    * lookups (property maps, dispatch keys, `required`) pay String.hashCode
    * + full equals per FRESH key otherwise. Interned keys carry a cached
    * hashCode and hit reference-equality fast paths against schema-side
    * keys, which flow through this same pool when the schema is parsed.
    * Bounded so hostile key-churn data degrades to plain strings instead
    * of growing the pool. */
  private[spec] object FieldIntern {
    private val pool = new java.util.concurrent.ConcurrentHashMap[String, String](1024)
    private final val Max = 1 << 14
    def intern(s: String): String = {
      val hit = pool.get(s)
      if (hit != null) hit
      else if (pool.size() >= Max) s
      else {
        val prev = pool.putIfAbsent(s, s)
        if (prev != null) prev else s
      }
    }
    // open-addressed (hash, chars) probe so the HOT path interns a field
    // name straight from the source text without allocating the substring
    private final val SlotBits = 12
    private val slots = new java.util.concurrent.atomic.AtomicReferenceArray[String](1 << SlotBits)
    def internRange(src: String, start: Int, end: Int): String = {
      var h = 0
      var i = start
      while (i < end) { h = h * 31 + src.charAt(i); i += 1 }
      val idx = (h ^ (h >>> 16)) & ((1 << SlotBits) - 1)
      val cand = slots.get(idx)
      if (cand != null && cand.length == end - start && cand.hashCode == h &&
          src.regionMatches(start, cand, 0, cand.length))
        return cand
      val s = intern(src.substring(start, end))
      slots.lazySet(idx, s)
      s
    }
  }

  /** `private[spec]` + seek/pos so the streaming validator (Streaming.scala)
    * materializes subtrees through THIS parser — one grammar, one intern
    * pool, identical trees on both paths. */
  private[spec] final class Parser(s: String) {
    private[this] var i = 0
    private[this] val n = s.length

    def seekTo(k: Int): Unit = { i = k }
    def pos: Int = i

    private def err(msg: String): Nothing =
      throw new java.io.IOException(s"$msg at offset $i")

    private def ws(): Unit = {
      while (i < n && { val c = s.charAt(i); c == ' ' || c == '\t' || c == '\n' || c == '\r' })
        i += 1
    }

    def parseRoot(): JsonValue = {
      ws()
      if (i >= n) throw new java.io.IOException("empty JSON input")
      parseValue()
    }

    private[spec] def parseValue(): JsonValue = {
      ws()
      if (i >= n) err("unexpected end of input")
      (s.charAt(i): @annotation.switch) match {
        case '{' => parseObj()
        case '[' => parseArr()
        case '"' => JStr(parseString())
        case 't' => expectWord("true"); JBool(true)
        case 'f' => expectWord("false"); JBool(false)
        case 'n' => expectWord("null"); JNull
        case _   => parseNumber()
      }
    }

    private def expectWord(w: String): Unit = {
      if (i + w.length > n || !s.regionMatches(i, w, 0, w.length)) err(s"expected '$w'")
      i += w.length
    }

    private def parseObj(): JObj = {
      i += 1 // '{'
      ws()
      if (i < n && s.charAt(i) == '}') { i += 1; return JObj(Vector.empty) }
      val b = Vector.newBuilder[(String, JsonValue)]
      var done = false
      while (!done) {
        ws()
        if (i >= n || s.charAt(i) != '"') err("expected field name")
        val k = parseFieldName()
        ws()
        if (i >= n || s.charAt(i) != ':') err("expected ':'")
        i += 1
        b += k -> parseValue()
        ws()
        if (i >= n) err("unterminated object")
        s.charAt(i) match {
          case ',' => i += 1
          case '}' => i += 1; done = true
          case _   => err("expected ',' or '}'")
        }
      }
      JObj(b.result())
    }

    private def parseArr(): JArr = {
      i += 1 // '['
      ws()
      if (i < n && s.charAt(i) == ']') { i += 1; return JArr(Vector.empty) }
      val b = Vector.newBuilder[JsonValue]
      var done = false
      while (!done) {
        b += parseValue()
        ws()
        if (i >= n) err("unterminated array")
        s.charAt(i) match {
          case ',' => i += 1
          case ']' => i += 1; done = true
          case _   => err("expected ',' or ']'")
        }
      }
      JArr(b.result())
    }

    /** Field names intern straight from the source range (no substring
      * allocation on the no-escape fast path). */
    /** The first position in [from, q) holding '\\' or an unescaped
      * control char, or q when the span is clean. The quote position `q`
      * comes from the SIMD `String.indexOf` intrinsic; this vet loop is
      * branch-free per char so the common clean span costs two compares
      * per char with no mispredicts. */
    private def vetSpan(from: Int, q: Int): Int = {
      var j = from
      var bad = false
      while (j < q) {
        val c = s.charAt(j)
        bad |= (c == '\\') | (c < ' ')
        j += 1
      }
      if (!bad) q
      else {
        var k = from
        while (s.charAt(k) != '\\' && s.charAt(k) >= ' ') k += 1
        k
      }
    }

    private def parseFieldName(): String = {
      i += 1 // opening '"'
      val start = i
      val q = s.indexOf('"', i)
      if (q < 0) err("unterminated string")
      val p = vetSpan(i, q)
      if (p == q) { i = q + 1; return FieldIntern.internRange(s, start, q) }
      i = p
      if (s.charAt(p) == '\\') FieldIntern.intern(parseStringSlow(start))
      else err("unescaped control character in string")
    }

    private def parseString(): String = {
      i += 1 // opening '"'
      val start = i
      // fast path: no escapes → one substring
      val q = s.indexOf('"', i)
      if (q < 0) err("unterminated string")
      val p = vetSpan(i, q)
      if (p == q) { i = q + 1; return s.substring(start, q) }
      i = p
      if (s.charAt(p) == '\\') parseStringSlow(start)
      else err("unescaped control character in string")
    }

    private def parseStringSlow(start: Int): String = {
      val sb = new java.lang.StringBuilder(i - start + 16)
      sb.append(s, start, i)
      while (i < n) {
        val c = s.charAt(i)
        if (c == '"') { i += 1; return sb.toString }
        else if (c == '\\') {
          i += 1
          if (i >= n) err("unterminated escape")
          (s.charAt(i): @annotation.switch) match {
            case '"'  => sb.append('"');  i += 1
            case '\\' => sb.append('\\'); i += 1
            case '/'  => sb.append('/');  i += 1
            case 'b'  => sb.append('\b'); i += 1
            case 'f'  => sb.append('\f'); i += 1
            case 'n'  => sb.append('\n'); i += 1
            case 'r'  => sb.append('\r'); i += 1
            case 't'  => sb.append('\t'); i += 1
            case 'u'  =>
              if (i + 5 > n) err("truncated \\u escape")
              var cp = 0
              var j = i + 1
              while (j < i + 5) {
                val h = Character.digit(s.charAt(j), 16)
                if (h < 0) err("bad hex in \\u escape")
                cp = (cp << 4) | h
                j += 1
              }
              sb.append(cp.toChar) // surrogate pairs arrive as two escapes
              i += 5
            case _ => err("bad escape")
          }
        }
        else if (c < ' ') err("unescaped control character in string")
        else { sb.append(c); i += 1 }
      }
      err("unterminated string")
    }

    /** Strict JSON number grammar: -?(0|[1-9][0-9]*)(\.[0-9]+)?([eE][+-]?[0-9]+)? */
    private def parseNumber(): JNum = {
      val start = i
      if (i < n && s.charAt(i) == '-') i += 1
      if (i >= n) err("malformed number")
      val c0 = s.charAt(i)
      if (c0 == '0') i += 1
      else if (c0 >= '1' && c0 <= '9') { i += 1; skipDigits() }
      else err("malformed number")
      var intOnly = true
      if (i < n && s.charAt(i) == '.') {
        intOnly = false
        i += 1
        if (i >= n || !isDigit(s.charAt(i))) err("malformed number")
        skipDigits()
      }
      if (i < n && { val c = s.charAt(i); c == 'e' || c == 'E' }) {
        intOnly = false
        i += 1
        if (i < n && { val c = s.charAt(i); c == '+' || c == '-' }) i += 1
        if (i >= n || !isDigit(s.charAt(i))) err("malformed number")
        skipDigits()
      }
      val len = i - start
      if (intOnly && len <= 18) {
        // fits a long without overflow checks (<= 18 digits)
        var v = 0L
        var j = if (s.charAt(start) == '-') start + 1 else start
        while (j < i) { v = v * 10 + (s.charAt(j) - '0'); j += 1 }
        JNum(BigDecimal(if (s.charAt(start) == '-') -v else v))
      } else
        // grammar-valid but unrepresentable magnitudes (e.g. an exponent
        // past BigDecimal's int scale) are PARSE errors, like serde's
        // "number out of range" — never an engine crash
        try JNum(BigDecimal(new java.math.BigDecimal(s.substring(start, i))))
        catch { case e: NumberFormatException =>
          { i = start; err("number out of range") }
        }
    }

    private def isDigit(c: Char): Boolean = c >= '0' && c <= '9'
    private def skipDigits(): Unit = {
      while (i < n && isDigit(s.charAt(i))) i += 1
    }
  }

  def fromNode(n: JsonNode): JsonValue = {
    if (n == null || n.isNull) JNull
    else if (n.isBoolean) JBool(n.booleanValue())
    else if (n.isNumber) JNum(BigDecimal(n.decimalValue()))
    else if (n.isTextual) JStr(n.textValue())
    else if (n.isArray) JArr(n.elements().asScala.map(fromNode).toVector)
    else if (n.isObject)
      JObj(n.properties().asScala.map(e => e.getKey -> fromNode(e.getValue)).toVector)
    else sys.error(s"unsupported JSON node: $n")
  }

  /** JSON-Schema equality: math equality for numbers, deep for containers
    * (`jsonschema-value/src/cmp.rs:114-157`). */
  def equal(a: JsonValue, b: JsonValue): Boolean = (a, b) match {
    case (JNull, JNull)         => true
    case (JBool(x), JBool(y))   => x == y
    case (JNum(x), JNum(y))     => x.compareTo(y) == 0
    case (JStr(x), JStr(y))     => x == y
    case (JArr(x), JArr(y))     =>
      x.length == y.length && x.iterator.zip(y.iterator).forall { case (p, q) => equal(p, q) }
    case (JObj(x), JObj(y))     =>
      x.length == y.length && {
        val ym = y.toMap
        x.forall { case (k, v) => ym.get(k).exists(equal(v, _)) }
      }
    case _ => false
  }

  /** Render as compact JSON text (stable field order = input order). */
  def render(v: JsonValue): String = v match {
    case JNull    => "null"
    case JBool(b) => b.toString
    case JNum(n)  =>
      if (n.isWhole && n.abs < BigDecimal("9223372036854775807")) n.toBigInt.toString
      else n.bigDecimal.toPlainString
    case JStr(s)  => quote(s)
    case JArr(xs) => xs.map(render).mkString("[", ",", "]")
    case JObj(fs) => fs.map { case (k, x) => quote(k) + ":" + render(x) }.mkString("{", ",", "}")
  }

  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
