package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.spec._

/** The compiled error steps (`Compiled.compileErrors`, what `Interp.errors`
  * runs) against their specification, the tree-walk error enumeration
  * (`Prepared.errorsInterp`): the same `VError` lists in the same order,
  * and a `SpecError` on one side exactly when on the other, with the same
  * message. */
class CompiledErrorsSpec extends AnyFunSuite {

  private val limits = Seq(1, 20, 100)

  private def outcome(f: => Vector[Interp.VError]): Either[String, Vector[Interp.VError]] =
    try Right(f) catch { case e: SpecError => Left(e.getMessage) }

  /** Compares both sides at every limit, open and masked; returns the
    * number of lists compared and the differences found. */
  private def compare(at: String, p: Interp.Prepared, data: JsonValue): (Int, Seq[String]) = {
    val diffs = for {
      limit <- limits
      masked <- Seq(false, true)
      got = outcome(Interp.errors(p, data, limit, masked))
      want = outcome(p.errorsInterp(data, limit, masked))
      if got != want
    } yield s"$at (limit $limit, masked $masked):\n  compiled  ${got.toString.take(300)}\n  tree-walk ${want.toString.take(300)}"
    (limits.length * 2, diffs)
  }

  private def compiles(p: Interp.Prepared): Boolean =
    Compiled.compileErrors(p.registry, p.entry, p.assertFormats).nonEmpty

  test("corpus identity: the compiled error steps list what the tree-walk lists") {
    val suiteFiles = Seq("anchor.json", "array.json", "combinators.json", "conditional.json",
      "content.json", "content_assert.json", "dynamicref.json", "ecmascript_regex.json",
      "enum_const.json", "format.json", "numeric.json", "object.json", "recursiveref.json",
      "ref.json", "ref_advanced.json", "string.json", "type.json", "unevaluated.json")
    // the official suite in both format modes, the canonical suite as read
    // by its own spec
    val suite = for {
      f <- suiteFiles
      c <- SuiteHarness.loadResource(f)
      assertFormats <- Seq(false, true)
    } yield (s"$f/${c.group}/${c.description} [formats $assertFormats]", c.schema, c.data, assertFormats)
    val canonical = for {
      f <- CanonicalSuiteSpec.files
      g <- CanonicalSuiteSpec.load(f)
      schema <- g.schemas
      (data, _) <- g.tests
    } yield (s"$f/${g.desc}", schema, data, false)
    var pairs = 0; var lists = 0; var compiled = 0; var throwing = 0
    val diffs = Seq.newBuilder[String]
    (suite ++ canonical).foreach { case (at, schema, data, assertFormats) =>
      CanonicalSuiteSpec.orSkip(Interp.prepare(Spec.parse(schema), assertFormats)).foreach { p =>
        val (n, d) = compare(at, p, data)
        pairs += 1; lists += n; diffs ++= d
        if (compiles(p)) compiled += 1
        if (outcome(p.errorsInterp(data, 100, masked = false)).isLeft) throwing += 1
      }
    }
    val found = diffs.result()
    info(s"$pairs pairs, $lists lists, $compiled pairs on compiled steps, $throwing throw on both sides")
    assert(found.isEmpty, s"${found.length} lists differ:\n${found.take(10).mkString("\n")}")
    assert(pairs > 4000 && lists > 24000)
    assert(compiled > 3900, "the compiled error steps must serve almost every corpus schema")
    assert(throwing > 0, "the corpus's unresolvable references must be exercised")
  }

  test("bench copies: valid and planted-invalid documents list the same errors") {
    def bench(name: String): String =
      new String(getClass.getResourceAsStream(s"/bench/$name").readAllBytes(), "UTF-8")
    def swap(t: String, from: String, to: String): String = {
      val i = t.lastIndexOf(from)
      assert(i >= 0, s"no '$from'")
      t.substring(0, i) + to + t.substring(i + from.length)
    }
    // the edits of perfbench's DocLanes.copyOf, as in ErrorsSpec
    val tag = "0123456789abcdef"
    val lanes = Seq(
      ("recursive_schema.json", "recursive_instance.json",
        swap(_: String, "\"term1\"", s"\"term-$tag\""), swap(_: String, "1000002,", "1000002.5,")),
      ("citm_catalog_schema.json", "citm_catalog.json",
        swap(_: String, "\"Salle Pleyel\"", s"\"Salle $tag\""),
        swap(_: String, s"\"Salle $tag\"", s"[\"Salle $tag\"]")),
      ("geojson.json", "canada.json", swap(_: String, "\"Canada\"", s"\"Canada $tag\""), { (t: String) =>
        val end = t.lastIndexOf("]]]}}]}")
        val start = t.lastIndexOf(',', end) + 1
        t.substring(0, start) + "\"" + t.substring(start, end) + "\"" + t.substring(end)
      }))
    lanes.foreach { case (schema, instance, tagged, break) =>
      val p = Interp.prepare(Spec.parse(JsonValue.parse(bench(schema))))
      assert(compiles(p), s"$schema must compile in error mode")
      val good = tagged(bench(instance))
      Seq(good -> true, break(good) -> false).foreach { case (text, valid) =>
        val doc = JsonValue.parse(text)
        assert(Interp.errors(p, doc, 20).isEmpty == valid, s"$schema valid=$valid")
        val (n, d) = compare(s"$schema valid=$valid", p, doc)
        assert(n == 6 && d.isEmpty, d.mkString("\n"))
      }
    }
  }

  test("documents failing many keywords: the same list at every limit") {
    // fields in the reverse of schema order, several failures per keyword:
    // the order of the list and where the limit cuts it must both match
    val schema = Spec.parseJson("""{
      "type": "object", "minProperties": 12, "required": ["q", "r"],
      "properties": {"a": {"type": "string"}, "b": {"minimum": 3, "multipleOf": 2},
        "c": {"items": {"type": "integer"}, "contains": {"type": "null"}},
        "d": {"prefixItems": [{"const": 1}, {"enum": [2, 3]}], "uniqueItems": true}},
      "patternProperties": {"^x": {"type": "null"}, "^[a-z]": {"maxLength": 0}},
      "additionalProperties": {"not": {"const": 2}},
      "propertyNames": {"maxLength": 3},
      "dependentRequired": {"a": ["z1", "z2"]},
      "dependentSchemas": {"b": {"required": ["z3"]}},
      "allOf": [{"maxProperties": 2}, {"properties": {"a": {"minLength": 9}}}],
      "anyOf": [{"required": ["n1"]}, {"required": ["n2"]}],
      "oneOf": [{"minProperties": 1}, {"minProperties": 2}],
      "if": {"required": ["xlong"]}, "then": {"properties": {"xlong": {"type": "string"}}},
      "unevaluatedProperties": false}""")
    val doc = JsonValue.parse(
      """{"xlong": 1, "Z": 2, "d": [2, 2, 5], "c": [1, "x", 2.5], "b": 1, "a": 5}""")
    val p = Interp.prepare(schema)
    assert(compiles(p))
    val all = p.errorsInterp(doc, 100, masked = false)
    assert(all.length > 15)
    (1 to all.length + 1).foreach { limit =>
      Seq(false, true).foreach { masked =>
        assert(Interp.errors(p, doc, limit, masked) == p.errorsInterp(doc, limit, masked),
          s"limit $limit masked $masked")
      }
    }
  }

  test("over the compile budget, errors and verdicts come from the tree-walk") {
    // each level refers twice to the next, so the same-value fan-out of the
    // compile is 2^16 builds, over the 20,000-build budget
    val depth = 15
    val defs = (0 until depth).map(i =>
      s""""a$i":{"allOf":[{"$$ref":"#/$$defs/a${i + 1}"},{"$$ref":"#/$$defs/a${i + 1}"}]}""") :+
      s""""a$depth":{"type":"integer","minimum":0}"""
    val p = Interp.prepare(Spec.parseJson(s"""{"$$defs":{${defs.mkString(",")}},"$$ref":"#/$$defs/a0"}"""))
    assert(Compiled.compile(p.registry, p.entry).isEmpty)
    assert(!compiles(p))
    Seq("5", "-1", "\"x\"", "1.5").foreach { text =>
      val doc = JsonValue.parse(text)
      assert(p.isValid(doc) == p.isValidInterp(doc), text)
      limits.foreach { limit =>
        assert(Interp.errors(p, doc, limit) == p.errorsInterp(doc, limit, masked = false), text)
      }
    }
    val e = Interp.errors(p, JsonValue.parse("-1"), 20)
    assert(e.length == 20 && e.head.schemaPath == "#/$ref" + "/allOf/0/$ref" * depth + "/minimum")
    assert(Interp.errors(p, JsonValue.parse("5")).isEmpty && p.isValid(JsonValue.parse("5")))
  }

  test("same-value reference cycles: cut where the tree-walk cuts") {
    // the tree-walk answers "go on" at a reference whose target was already
    // entered through a reference at this value; a target first entered
    // structurally (the root here) gets one more walk; trials inside the
    // cycle (`not`, `oneOf`, `if`) see the same cut
    val cases = Seq(
      """{"$ref":"#/$defs/a","$defs":{"a":{"$ref":"#/$defs/a","type":"string"}}}""" -> "1",
      """{"$ref":"#","type":"string"}""" -> "1",
      """{"$defs":{"a":{"allOf":[{"$ref":"#/$defs/a"}],"type":"string"}},"$ref":"#/$defs/a"}""" -> "1",
      """{"$ref":"#/$defs/a","$defs":{"a":{"not":{"$ref":"#/$defs/a"}}}}""" -> "1",
      """{"$ref":"#/$defs/a","$defs":{"a":{"oneOf":[{"$ref":"#/$defs/a"},{"type":"integer"}]}}}""" -> "1",
      """{"$ref":"#/$defs/a","$defs":{"a":{"anyOf":[{"not":{"$ref":"#/$defs/a"}}],"minimum":5}}}""" -> "1",
      """{"$ref":"#/$defs/a","$defs":{"a":{"if":{"$ref":"#/$defs/a"},"then":{"type":"string"}}}}""" -> "1",
      """{"properties":{"x":{"$ref":"#"}},"not":{"properties":{"x":{"$ref":"#/not"}}}}""" -> """{"x":{"x":1}}""")
    cases.foreach { case (schema, data) =>
      val p = Interp.prepare(Spec.parseJson(schema))
      assert(compiles(p), schema)
      val doc = JsonValue.parse(data)
      val (_, d) = compare(schema, p, doc)
      assert(d.isEmpty, d.mkString("\n"))
      assert(Interp.errors(p, doc).nonEmpty, schema)
    }
    assert(Interp.errors(Interp.prepare(Spec.parseJson(cases(1)._1)), JsonValue.parse("1"))
      .map(_.schemaPath) == Vector("#/$ref/type", "#/type"))
  }

  test("an unresolvable $ref throws only where the walk reaches it") {
    val p = Interp.prepare(Spec.parseJson("""{"anyOf":[{"type":"integer"},{"$ref":"#/nope"}]}"""))
    assert(Interp.errors(p, JsonValue.parse("1")).isEmpty)
    assert(p.errorsInterp(JsonValue.parse("1"), 100, masked = false).isEmpty)
    intercept[SpecError](Interp.errors(p, JsonValue.parse("\"a\"")))
    intercept[SpecError](p.errorsInterp(JsonValue.parse("\"a\""), 100, masked = false))
  }

  test("integrality of decimal spellings: isIntegral and jsonType") {
    val fraction40 = "0." + "1234567890" * 4
    val integral40 = "1234567890" * 4 + ".000"
    val cases = Seq("1.0" -> true, "-0.0" -> true, "1.50" -> false, "1e2" -> true,
      "1.5e1" -> true, "0.1e1" -> true, "1E-5" -> false, "12345678901234567890.0" -> true,
      "12345678901234567890.5" -> false, fraction40 -> false, integral40 -> true,
      "-7" -> true, "0" -> true, "2.5e-3" -> false, "1e400" -> true)
    cases.foreach { case (text, integral) =>
      val n = JsonValue.parse(text).asInstanceOf[JNum]
      assert(n.isIntegral == integral, text)
      assert(n.jsonType == (if (integral) JsonType.Integer else JsonType.Number), text)
    }
  }
}
