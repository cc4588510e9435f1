package graft.spec

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
    * per number in every `integer` type test, so it must not divide:
    * `remainder(1)` inflates to BigInteger Knuth division. A decimal with
    * scale s is integral iff its s lowest digits are zero. With fewer
    * digits than s it lies strictly between -1 and 1; otherwise
    * `stripTrailingZeros` decides, which on a compact decimal divides a
    * long and builds no BigInteger (`unscaledValue` would build one for
    * every fractional number). */
  @transient lazy val isIntegral: Boolean = {
    val b = value.underlying
    val s = b.scale
    s <= 0 || b.signum == 0 || (b.precision > s && b.stripTrailingZeros.scale <= 0)
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
  /** Parse the first JSON value of `text` into the value tree, through
    * the one lexer (`Cur`). A per-document hot path (the contentSchema
    * kernel parses one document per ROW): strings and field names are
    * single-alloc substrings, i64-range int tokens wrap a long (scale-0
    * BigDecimal, same compare semantics), other numbers are exact
    * BigDecimals of the raw token text. RFC 8259 grammar; trailing tokens
    * are ignored, as on the streaming path. */
  def parse(text: String): JsonValue = Cur.root(text).readTree()

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

  private val I64Max = BigDecimal("9223372036854775807")

  /** Render as compact JSON text (stable field order = input order).
    * Integral numbers below the i64 bound print as integers, the rest in
    * plain notation. The text is part of error messages, Spark message
    * literals and the compiled and streaming dispatch tables, so its form
    * is fixed (ErrorsSpec's render goldens). One builder for the whole
    * value: error messages render multi-MB subtrees. */
  def render(v: JsonValue): String = {
    val sb = new java.lang.StringBuilder
    renderInto(sb, v)
    sb.toString
  }

  private def renderInto(sb: java.lang.StringBuilder, v: JsonValue): Unit = v match {
    case JNull    => sb.append("null")
    case JBool(b) => sb.append(b)
    case j @ JNum(n) =>
      sb.append(if (j.isIntegral && n.abs < I64Max) n.toBigInt.toString
                else n.bigDecimal.toPlainString)
    case JStr(s)  => quoteInto(sb, s)
    case JArr(xs) =>
      sb.append('[')
      val it = xs.iterator
      while (it.hasNext) {
        renderInto(sb, it.next())
        if (it.hasNext) sb.append(',')
      }
      sb.append(']')
    case JObj(fs) =>
      sb.append('{')
      val it = fs.iterator
      while (it.hasNext) {
        val (k, x) = it.next()
        quoteInto(sb, k); sb.append(':'); renderInto(sb, x)
        if (it.hasNext) sb.append(',')
      }
      sb.append('}')
  }

  private def quoteInto(sb: java.lang.StringBuilder, s: String): Unit = {
    sb.append('"')
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '"'  => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c if c < ' ' =>
          sb.append("\\u00").append(Character.forDigit(c >> 4, 16))
            .append(Character.forDigit(c & 15, 16))
        case c => sb.append(c)
      }
      i += 1
    }
    sb.append('"')
  }
}

/** The JSON lexer: a strict RFC 8259 cursor over the source text, and the
  * only one. `JsonValue.parse` reads trees through it; the streaming
  * validator (`Streaming`) reads, skips and dispatches tokens off it and
  * materializes subtrees with the same `readTree`, so both paths share one
  * grammar and one field-name intern pool. Errors are `IOException`s that
  * name the offset. */
private[spec] final class Cur(val s: String) {
  var i = 0
  private[this] val n = s.length
  /** Start of the text of the last string token `scanString` consumed. */
  var tok = 0

  def bump(): Unit = i += 1

  def err(msg: String): Nothing =
    throw new java.io.IOException(s"$msg at offset $i")

  def ws(): Unit = {
    while (i < n && { val c = s.charAt(i); c == ' ' || c == '\t' || c == '\n' || c == '\r' })
      i += 1
  }

  /** Current char after ws(); errs at end of input. */
  def peek: Char = {
    if (i >= n) err("unexpected end of input")
    s.charAt(i)
  }

  def expect(c: Char): Unit = {
    if (i >= n || s.charAt(i) != c) err(s"expected '$c'")
    i += 1
  }

  def word(w: String): Unit = {
    if (i + w.length > n || !s.regionMatches(i, w, 0, w.length)) err(s"expected '$w'")
    i += w.length
  }

  /** After an object member or array item: true on ',' (another one
    * follows), false on `close`. */
  def more(close: Char): Boolean = {
    ws()
    if (i >= n) err(if (close == '}') "unterminated object" else "unterminated array")
    val c = s.charAt(i)
    if (c != ',' && c != close) err(s"expected ',' or '$close'")
    i += 1
    c == ','
  }

  /** Read one value into a tree; field names go through `FieldIntern`. */
  def readTree(): JsonValue = {
    ws()
    (peek: @annotation.switch) match {
      case '{' =>
        i += 1; ws()
        if (peek == '}') { i += 1; return JObj(Vector.empty) }
        val b = Vector.newBuilder[(String, JsonValue)]
        var next = true
        while (next) {
          ws()
          val k = readFieldName()
          ws(); expect(':')
          b += k -> readTree()
          next = more('}')
        }
        JObj(b.result())
      case '[' =>
        i += 1; ws()
        if (peek == ']') { i += 1; return JArr(Vector.empty) }
        val b = Vector.newBuilder[JsonValue]
        var next = true
        while (next) {
          b += readTree()
          next = more(']')
        }
        JArr(b.result())
      case '"' => JStr(readString())
      case 't' => word("true"); JBool(true)
      case 'f' => word("false"); JBool(false)
      case 'n' => word("null"); JNull
      case _   => readNumber()
    }
  }

  /** Skip one value, grammar-checked like `readTree` (a VALID streaming
    * verdict must imply the document parses). */
  def skipValue(): Unit = {
    ws()
    (peek: @annotation.switch) match {
      case '"' => skipString()
      case '{' =>
        i += 1; ws()
        if (peek == '}') { i += 1; return }
        var next = true
        while (next) {
          ws()
          skipFieldName()
          ws(); expect(':')
          skipValue()
          next = more('}')
        }
      case '[' =>
        i += 1; ws()
        if (peek == ']') { i += 1; return }
        var next = true
        while (next) {
          skipValue()
          next = more(']')
        }
      case 't' => word("true")
      case 'f' => word("false")
      case 'n' => word("null")
      case _   => { scanNumber(); () }
    }
  }

  /** Consume a field name; null when it holds no escape (its text is
    * then the source span [tok, i - 1)), else its decoded text. */
  def scanFieldName(): String = {
    if (i >= n || s.charAt(i) != '"') err("expected field name")
    scanString()
  }

  /** A field name, interned straight from the source span when it holds
    * no escape (no substring allocated). */
  def readFieldName(): String = {
    val d = scanFieldName()
    if (d == null) JsonValue.FieldIntern.internRange(s, tok, i - 1)
    else JsonValue.FieldIntern.intern(d)
  }

  /** A field name nobody reads, grammar-checked only. */
  def skipFieldName(): Unit = { scanFieldName(); () }

  def readString(): String = {
    val d = scanString()
    if (d == null) s.substring(tok, i - 1) else d
  }

  def skipString(): Unit = { scanString(); () }

  /** Consume a string (opening quote at the cursor, checked by the
    * caller); null when it holds no escape, else its decoded text. */
  private def scanString(): String = {
    i += 1
    tok = i
    val q = s.indexOf('"', i)
    if (q < 0) err("unterminated string")
    val p = vetSpan(i, q)
    if (p == q) { i = q + 1; return null }
    i = p
    if (s.charAt(p) == '\\') readStringSlow(tok)
    else err("unescaped control character in string")
  }

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

  private def readStringSlow(start: Int): String = {
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

  private def isDigit(c: Char): Boolean = c >= '0' && c <= '9'
  private def skipDigits(): Unit = { while (i < n && isDigit(s.charAt(i))) i += 1 }

  /** Scan a number token (strict grammar:
    * -?(0|[1-9][0-9]*)(\.[0-9]+)?([eE][+-]?[0-9]+)?), leaving the cursor
    * after it. Returns true when the token has no '.'/'e' part (surely
    * integral — the converse is NOT surely fractional: 1.0 and 1e2 are
    * integral). */
  def scanNumber(): Boolean = {
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
      var expStart = i
      skipDigits()
      // readNumber rejects unrepresentable magnitudes ("number out of
      // range") — the grammar skip must agree, or a skipped value would
      // stream as valid where parse throws. Suspicious shape (an exponent
      // past 9 significant digits) is vetted through the same BigDecimal
      // construction (rare path).
      while (expStart < i && s.charAt(expStart) == '0') expStart += 1
      if (i - expStart > 9) {
        try { new java.math.BigDecimal(s.substring(start, i)); () }
        catch { case _: NumberFormatException =>
          { i = start; err("number out of range") }
        }
      }
    }
    intOnly
  }

  def readNumber(): JNum = {
    val start = i
    val intOnly = scanNumber()
    numFromSpan(start, intOnly)
  }

  /** Materialize the number token already scanned from `start` up to
    * the cursor (split out of readNumber so callers that learn from
    * scanNumber() alone that no value is needed can skip this): a long
    * for integer tokens of at most 18 digits, else an exact BigDecimal of
    * the token text. */
  def numFromSpan(start: Int, intOnly: Boolean): JNum = {
    val len = i - start
    if (intOnly && len <= 18) {
      var v = 0L
      var j = if (s.charAt(start) == '-') start + 1 else start
      while (j < i) { v = v * 10 + (s.charAt(j) - '0'); j += 1 }
      JNum(BigDecimal(if (s.charAt(start) == '-') -v else v))
    } else
      // grammar-valid but unrepresentable magnitudes (e.g. an exponent
      // past BigDecimal's int scale) are PARSE errors, like serde's
      // "number out of range" — never an engine crash
      try JNum(BigDecimal(new java.math.BigDecimal(s.substring(start, i))))
      catch { case _: NumberFormatException =>
        { i = start; err("number out of range") }
      }
  }
}

private[spec] object Cur {
  /** A cursor at the first value of `text`, past leading whitespace. */
  def root(text: String): Cur = {
    val c = new Cur(text)
    c.ws()
    if (c.i == text.length) throw new java.io.IOException("empty JSON input")
    c
  }
}
