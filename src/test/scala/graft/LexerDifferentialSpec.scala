package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.spec._

/** JSON text has one lexer, the cursor `Cur` (spec/Json.scala), with two
  * ways through a value: `readTree` builds the tree (`JsonValue.parse`),
  * and `skipValue` only checks the grammar (the streaming validator's
  * skipped values, `Streaming.grammarOk`). The streaming design rests on
  * both accepting exactly the same texts: a VALID streaming verdict must
  * imply the document parses (Streaming.scala header contract). This spec
  * fuzzes raw (mostly malformed) strings through both ways and pins:
  * parse-accepts ⟺ stream-skip-accepts, string for string.
  *
  * The stream side is driven through a permissive prepared schema whose
  * fused pass grammar-skips every value, and a grammar error surfaces as
  * the same IOException the tree read throws. */
class LexerDifferentialSpec extends AnyFunSuite {

  // Accept-everything schema compiled onto the streaming lane: one object
  // wrapper so the pass exercises objPass + skipValue on each field.
  private val p = Interp.prepare(Spec.parseJson("""{"type": ["object", "array", "string", "number", "boolean", "null"]}"""))

  private def parseOk(s: String): Boolean =
    try { JsonValue.parse(s); true } catch { case _: java.io.IOException => false }

  private def streamOk(s: String): Boolean =
    try p.isValidText(s) catch { case _: java.io.IOException => false }

  test("hand-picked malformed corpus: parser and streaming cursor agree") {
    val cases = Seq(
      // strings
      "\"ok\"", "\"\\u0041\"", "\"\\u00G1\"", "\"\\q\"", "\"unterminated",
      "\"ctrl\u0001char\"", "\"tab\tchar\"", "\"\\\\\"", "\"\\\"\"",
      // numbers
      "0", "-0", "1e5", "1E+5", "1e-5", "01", "-", "1.", ".5", "1e", "1e+",
      "5.0e2", "18446744073709551615", "-65.613616",
      // literals
      "true", "false", "null", "tru", "nul", "truex",
      // arrays
      "[]", "[1,2]", "[1,]", "[,1]", "[1 2]", "[", "]", "[1,2",
      // objects
      "{}", "{\"a\":1}", "{\"a\":1,}", "{\"a\"}", "{\"a\":}", "{a:1}",
      "{\"a\":1 \"b\":2}", "{\"a\":1,\"a\":2}", "{", "{\"a\":{\"b\":[1,{}]}}",
      // nesting + trailing garbage
      "[[[[[1]]]]]", "{\"a\": [1, {\"b\": \"c\"}, null]} ", "1 2",
      "", "  ", "\u0000"
    )
    cases.foreach { s =>
      val pOk = parseOk(s)
      val sOk = streamOk(s)
      assert(pOk == sOk, s"lexers disagree on ${s.take(40).map(c => if (c < ' ') '?' else c)}: parse=$pOk stream=$sOk")
    }
  }

  test("10k mutated-byte fuzz: parser and streaming cursor agree on every input") {
    val seeds = Seq(
      """{"a": [1, -2.5e3, "x\nq", {"k": true}, null], "b": "\u00e9"}""",
      """[{"n": 18446744073709551615, "s": "\\"}, [], {}, [0.5e-7]]""",
      """{"deep": {"deeper": [[["s"], 1e99], {"t": false}]}}"""
    )
    val rnd = new scala.util.Random(20260818L)
    var checked = 0
    val disagree = scala.collection.mutable.Buffer[String]()
    for (seed <- seeds; _ <- 1 to 3334) {
      val chars = seed.toCharArray
      // 1-3 random byte mutations: replace, delete, or insert
      val nMut = 1 + rnd.nextInt(3)
      var s = new String(chars)
      for (_ <- 1 to nMut) {
        val pos = rnd.nextInt(s.length max 1)
        rnd.nextInt(3) match {
          case 0 => // replace with a random interesting char
            val alphabet = "\"{}[]:,\\eE+-.0123456789qux\u0000\u0001\n "
            val c = alphabet.charAt(rnd.nextInt(alphabet.length))
            s = s.substring(0, pos) + c + s.substring((pos + 1) min s.length)
          case 1 => s = s.substring(0, pos) + s.substring((pos + 1) min s.length)
          case 2 =>
            val c = "\"{}[]:,0e".charAt(rnd.nextInt(9))
            s = s.substring(0, pos) + c + s.substring(pos)
        }
      }
      val pOk = parseOk(s)
      val sOk = streamOk(s)
      checked += 1
      if (pOk != sOk)
        disagree += s"parse=$pOk stream=$sOk on: ${s.take(80).map(c => if (c < ' ') '?' else c)}"
    }
    info(s"checked $checked mutated inputs")
    assert(disagree.isEmpty, s"\n${disagree.take(10).mkString("\n")}")
  }
}
