package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.spec._

/** Error enumeration (Interp.errors — the single-document iter_errors
  * analog): keyword-level messages with instance + schema paths. */
class ErrorsSpec extends AnyFunSuite {

  private def errs(schema: String, instance: String): Vector[Interp.VError] =
    Interp.errors(Interp.prepare(Spec.parseJson(schema)), JsonValue.parse(instance))

  test("valid instances produce no errors") {
    assert(errs("""{"type":"integer","minimum":3}""", "5").isEmpty)
  }

  test("scalar keyword errors carry paths and values") {
    val e = errs("""{"type":"integer","minimum":3,"multipleOf":2}""", "1")
    assert(e.map(_.schemaPath).toSet == Set("#/minimum", "#/multipleOf"))
    assert(e.exists(_.message.contains("less than the minimum of 3")))
  }

  test("nested property errors: instance path tracks the field") {
    val e = errs(
      """{"properties":{"a":{"properties":{"b":{"type":"string"}},
          "required":["b"]}}}""",
      """{"a":{"b":5}}""")
    assert(e.length == 1)
    assert(e.head.instancePath == "/a/b")
    assert(e.head.schemaPath == "#/properties/a/properties/b/type")
  }

  test("array items, additionalProperties:false and required") {
    val e1 = errs("""{"items":{"type":"integer"}}""", """[1,"x",3,"y"]""")
    assert(e1.map(_.instancePath) == Vector("/1", "/3"))
    // one aggregated error at the object, the reference's template
    val e2 = errs("""{"properties":{"a":{}},"additionalProperties":false}""",
      """{"a":1,"zz":2}""")
    assert(e2.length == 1 && e2.head.instancePath == "" &&
      e2.head.message == "Additional properties are not allowed ('zz' was unexpected)")
    val e2b = errs("""{"additionalProperties":false}""", """{"x":1,"y":2}""")
    assert(e2b.head.message == "Additional properties are not allowed ('x', 'y' were unexpected)")
    val e3 = errs("""{"required":["k"]}""", "{}")
    assert(e3.head.message == "\"k\" is a required property")
  }

  test("combinators: anyOf/oneOf summaries, allOf recursion, not") {
    val any = errs("""{"anyOf":[{"type":"string"},{"minimum":10}]}""", "3")
    assert(any.exists(_.schemaPath == "#/anyOf"))
    val one = errs("""{"oneOf":[{"type":"integer"},{"minimum":0}]}""", "3")
    assert(one.exists(_.message ==
      "3 is valid under more than one of the schemas listed in the 'oneOf' keyword"))
    val all = errs("""{"allOf":[{"minimum":5},{"maximum":1}]}""", "3")
    assert(all.map(_.schemaPath).toSet == Set("#/allOf/0/minimum", "#/allOf/1/maximum"))
    val nt = errs("""{"not":{"type":"integer"}}""", "3")
    assert(nt.head.schemaPath == "#/not")
  }

  test("$ref failures recurse through the ref with the ref'd schema path") {
    val e = errs(
      """{"$defs":{"pos":{"minimum":0}},"properties":{"x":{"$ref":"#/$defs/pos"}}}""",
      """{"x":-3}""")
    assert(e.length == 1)
    assert(e.head.instancePath == "/x")
    assert(e.head.schemaPath.startsWith("#/properties/x/$ref"))
    assert(e.head.message.contains("less than the minimum of 0"))
  }

  test("masked errors redact instance data but keep paths (error.rs masked analog)") {
    val p = Interp.prepare(Spec.parseJson(
      """{"properties":{"ssn":{"maximum":100}},"additionalProperties":false}"""))
    val doc = JsonValue.parse("""{"ssn": 999, "secret-key": 1}""")
    val open = Interp.errors(p, doc)
    val masked = Interp.errors(p, doc, 100, masked = true)
    assert(open.exists(_.message.contains("999")))
    assert(open.exists(_.message.contains("'secret-key'")))
    assert(!masked.exists(_.message.contains("999")))
    assert(!masked.exists(_.message.contains("secret-key")))
    // same failures at the same paths, only the rendering differs
    assert(open.map(e => (e.instancePath, e.schemaPath)) ==
      masked.map(e => (e.instancePath, e.schemaPath)))
  }

  test("every invalid official-suite case yields at least one error; valid cases none") {
    // every vendored corpus: the official-suite files and the 30
    // canonical-suite files, at three limits, open and masked. An error
    // list is empty iff the corpus's own `valid` flag says valid — not the
    // tree-walk verdict, which is the same walk as `errors`. format.json
    // and content_assert.json are left out: they assert `format` and
    // content*, which the tree-walk treats as annotations. Canonical
    // entries without a flag are checked for the cap and masking only.
    val suite = Seq("anchor.json", "array.json", "combinators.json", "conditional.json",
      "content.json", "dynamicref.json", "ecmascript_regex.json", "enum_const.json",
      "numeric.json", "object.json", "recursiveref.json", "ref.json", "ref_advanced.json",
      "string.json", "type.json", "unevaluated.json")
      .flatMap(f => SuiteHarness.loadResource(f).map(c =>
        (s"$f/${c.group}/${c.description}", c.schema, c.data, Option(c.valid))))
    val canonical = CanonicalSuiteSpec.files.flatMap(f => CanonicalSuiteSpec.load(f).flatMap(g =>
      for (schema <- g.schemas; (data, want) <- g.tests) yield (s"$f/${g.desc}", schema, data, want)))
    var checked = 0
    var flagged = 0
    (suite ++ canonical).foreach { case (at, schema, data, want) =>
      CanonicalSuiteSpec.orSkip(Interp.prepare(Spec.parse(schema))).foreach { p =>
        CanonicalSuiteSpec.orSkip(Seq(1, 20, 100).map(limit =>
          (limit, Interp.errors(p, data, limit), Interp.errors(p, data, limit, masked = true)))
        ).foreach { runs =>
          runs.foreach { case (limit, e, masked) =>
            want.foreach(ok => assert(e.isEmpty == ok, s"$at (limit $limit): valid=$ok errors=${e.take(3)}"))
            assert(e.length <= limit, s"$at: ${e.length} errors over limit $limit")
            assert(masked.map(x => (x.instancePath, x.schemaPath)) ==
              e.map(x => (x.instancePath, x.schemaPath)), s"$at (limit $limit): masked paths differ")
          }
          checked += 1
          if (want.nonEmpty) flagged += 1
        }
      }
    }
    info(s"checked $checked corpus pairs, $flagged against a corpus verdict")
    assert(checked > 3500 && flagged > 3000)
  }

  test("failures behind $dynamicRef and $recursiveRef are reported at the keyword") {
    def suiteCase(f: String, group: String, desc: String): (JsonValue, JsonValue) = {
      val c = SuiteHarness.loadResource(f).find(c => c.group == group && c.description == desc).get
      assert(!c.valid)
      (c.schema, c.data)
    }
    def canonicalCase(group: String, data: String): (JsonValue, JsonValue) = {
      val g = CanonicalSuiteSpec.load("dynamic_references.json").find(_.desc == group).get
      val d = JsonValue.parse(data)
      assert(g.tests.exists { case (x, want) => JsonValue.equal(x, d) && want.contains(false) })
      (g.schemas.head, d)
    }
    val pinned = Seq(
      suiteCase("dynamicref.json", "A $dynamicRef to a $dynamicAnchor in the same schema " +
        "resource behaves like a normal $ref to an $anchor", "An array containing non-strings is invalid") ->
        Interp.VError("/1", "#/items/$dynamicRef/type", "42 is not of type \"string\""),
      suiteCase("recursiveref.json", "$recursiveRef with $recursiveAnchor resolves to the outermost " +
        "anchored resource", "b is checked against the OUTER schema (non-object fails)") ->
        Interp.VError("/a/b", "#/properties/a/$ref/properties/b/$recursiveRef/type",
          "5 is not of type \"object\""),
      canonicalCase("a $dynamicRef resolves to the first $dynamicAnchor still in scope", """["a",1]""") ->
        Interp.VError("/1", "#/$ref/items/$dynamicRef/type", "1 is not of type \"string\""))
    pinned.foreach { case ((schema, data), want) =>
      val p = Interp.prepare(Spec.parse(schema))
      assert(!p.isValidInterp(data))
      assert(Interp.errors(p, data) == Vector(want))
    }
  }

  test("an error limit below 1 is refused") {
    val p = Interp.prepare(Spec.parseJson("""{"type":"string"}"""))
    intercept[IllegalArgumentException](Interp.errors(p, JsonValue.parse("1"), 0))
    intercept[IllegalArgumentException](Interp.errors(p, JsonValue.parse("1"), -1, masked = true))
  }

  test("the verdict stops at the first failing keyword; errors walk on") {
    // `type` fails first, so the verdict never resolves the broken `$ref`
    // under `properties`; the error walk goes on and does
    val p = Interp.prepare(Spec.parseJson("""{"type":"string","properties":{"a":{"$ref":"#/nope"}}}"""))
    val doc = JsonValue.parse("""{"a":1}""")
    assert(!p.isValidInterp(doc))
    intercept[SpecError](Interp.errors(p, doc))
  }

  test("the bench documents' planted failures: one error each, multi-MB message intact") {
    // the invalid copies of the single-document lanes: the edits of
    // perfbench's DocLanes.copyOf, each breaking one constraint near the
    // end of the text
    def swap(t: String, from: String, to: String): String = {
      val i = t.lastIndexOf(from)
      assert(i >= 0, s"no '$from'")
      t.substring(0, i) + to + t.substring(i + from.length)
    }
    val tag = "0123456789abcdef"
    def lane(schema: String, instance: String, tagged: String => String,
             break: String => String): (Interp.Prepared, JsonValue, JsonValue) = {
      val p = Interp.prepare(Spec.parse(JsonValue.parse(bench(schema))))
      val good = tagged(bench(instance))
      (p, JsonValue.parse(good), JsonValue.parse(break(good)))
    }
    def one(p: Interp.Prepared, bad: JsonValue): Interp.VError = {
      val e = Interp.errors(p, bad, limit = 20)
      assert(e.length == 1, e.map(x => (x.instancePath, x.schemaPath)))
      e.head
    }

    val (rp, rGood, rBad) = lane("recursive_schema.json", "recursive_instance.json",
      swap(_, "\"term1\"", s"\"term-$tag\""), swap(_, "1000002,", "1000002.5,"))
    assert(Interp.errors(rp, rGood, limit = 20).isEmpty)
    assert(one(rp, rBad) == Interp.VError("/2/6", "#/items/prefixItems/6/type",
      "1000002.5 is not of type \"integer\""))

    val (cp, cGood, cBad) = lane("citm_catalog_schema.json", "citm_catalog.json",
      swap(_, "\"Salle Pleyel\"", s"\"Salle $tag\""),
      swap(_, s"\"Salle $tag\"", s"[\"Salle $tag\"]"))
    assert(Interp.errors(cp, cGood, limit = 20).isEmpty)
    assert(one(cp, cBad) == Interp.VError("/venueNames/PLEYEL_PLEYEL",
      "#/properties/venueNames/additionalProperties/type",
      s"""["Salle $tag"] is not of type "string""""))

    val (gp, gGood, gBad) = lane("geojson.json", "canada.json",
      swap(_, "\"Canada\"", s"\"Canada $tag\""), { t =>
        // the last coordinate becomes a string
        val end = t.lastIndexOf("]]]}}]}")
        val start = t.lastIndexOf(',', end) + 1
        t.substring(0, start) + "\"" + t.substring(start, end) + "\"" + t.substring(end)
      })
    assert(Interp.errors(gp, gGood, limit = 20).isEmpty)
    val g = one(gp, gBad)
    assert(g.instancePath == "/features/0/geometry")
    assert(g.schemaPath == "#/properties/features/items/properties/geometry/oneOf")
    val JObj(root) = gBad: @unchecked
    val JArr(features) = root.find(_._1 == "features").get._2: @unchecked
    val geometry = features(0).asInstanceOf[JObj].get("geometry").get
    val expected = JsonValue.render(geometry) +
      " is not valid under any of the schemas listed in the 'oneOf' keyword"
    assert(g.message.length == 2090201)
    assert(g.message == expected)
  }

  test("render goldens: bench documents and number and string edge cases") {
    def sha256(s: String): String = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val docs = Seq(
      "recursive_instance.json" -> "7e86eef3f6c85fc0d0a6d240984db8b1c750565cbf0182a0ea28a0124f29844f",
      "citm_catalog.json" -> "831f4a8f271d6650d49b87c3af6b6adaaea122e563dd85fa03dc62b03c3ab7ef",
      "canada.json" -> "bd4f364718711da4bca3c40ee737ef7f0eef3d3f9303067269581be73d65546d")
    docs.foreach { case (f, want) =>
      assert(sha256(JsonValue.render(JsonValue.parse(bench(f)))) == want, f)
    }
    def r(text: String) = JsonValue.render(JsonValue.parse(text))
    // integral below the i64 bound prints as an integer; at or beyond it,
    // and for every fraction, the plain decimal text
    assert(r("9223372036854775806") == "9223372036854775806")
    assert(r("9223372036854775807") == "9223372036854775807")
    assert(r("-9223372036854775808") == "-9223372036854775808")
    assert(r("92233720368547758070") == "92233720368547758070")
    assert(r("9223372036854775806.0") == "9223372036854775806")
    assert(r("9223372036854775807.0") == "9223372036854775807.0")
    assert(r("-9223372036854775807.00") == "-9223372036854775807.00")
    assert(r("-0") == "0")
    assert(r("-0.0") == "0")
    assert(r("1.0") == "1")
    assert(r("1E2") == "100")
    assert(r("1.50") == "1.50")
    assert(r("2.5e-3") == "0.0025")
    assert(r("1e400") == "1" + "0" * 400)
    assert(r("123456789012345678901234567890.000") == "123456789012345678901234567890.000")
    assert(r("\"a\\u0001\\u001f\\b\\f\\n\\r\\t\\\"\\\\\\/\\u00e9\\ud83d\\ude00\"") ==
      "\"a\\u0001\\u001f\\u0008\\u000c\\n\\r\\t\\\"\\\\/\u00e9\ud83d\ude00\"")
    assert(r("{\"k\\n\":[1,2.0,{\"\":null}],\"t\":true,\"f\":false}") ==
      "{\"k\\n\":[1,2,{\"\":null}],\"t\":true,\"f\":false}")
  }

  private def bench(name: String): String =
    new String(getClass.getResourceAsStream(s"/bench/$name").readAllBytes(), "UTF-8")
}
