package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.spec._
import graft.run.Validation

/** Coverage of the reference's document-level API verbs (SURVEY §2.4). */
class ApiVerbsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("dereference inlines local refs into a self-contained spec") {
    val spec = Spec.parseJson(
      """{"$defs":{"pos":{"minimum":0}},"properties":{"x":{"$ref":"#/$defs/pos"}}}""")
    val d = Bundler.dereference(spec).asInstanceOf[Spec.Obj]
    assert(d.defs.isEmpty)
    val xSpec = d.properties.head._2.asInstanceOf[Spec.Obj]
    assert(xSpec.ref.isEmpty)
    assert(xSpec.allOf == Vector(Spec.Obj(minimum = Some(BigDecimal(0)))))
    // acceptance unchanged
    for (v <- Seq(JNum(BigDecimal(5)), JNum(BigDecimal(-5)))) {
      val in = JObj(Vector("x" -> v))
      assert(Interp.isValid(spec, in) == Interp.isValid(d, in))
    }
  }

  test("bundle embeds external resources into $defs and the result compiles") {
    val extA = Spec.parseJson(
      """{"type": "object", "required": ["name"],
          "properties": {"level": {"$ref": "https://example.com/level.json"}}}""")
    val extLevel = Spec.parseJson("""{"type": "integer", "minimum": 1}""")
    val root = Spec.parseJson(
      """{"properties": {"child": {"$ref": "https://example.com/a.json"}}}""")
      .asInstanceOf[Spec.Obj]
    // transitively bundles a.json AND its own external dependency
    val bundled = Bundler.bundle(root,
      Map("https://example.com/a.json" -> extA,
          "https://example.com/level.json" -> extLevel)).asInstanceOf[Spec.Obj]
    assert(bundled.defs.size == 2)
    assert(Bundler.unresolvableUris(bundled).isEmpty)
    // compiles + validates end-to-end through the embedded-$id registry
    val df = Seq(("x", 3), ("y", 0)).toDF("name", "level")
      .select(struct(col("name"), col("level")).as("child"))
    val plan = Validation.compileSpec(bundled, df.schema)
    val got = plan.withValid(df).select("valid").as[Boolean].collect()
    assert(got.sameElements(Array(true, false)))
    // a missing resource fails loudly, like a retriever error
    intercept[graft.spec.SpecError] { Bundler.bundle(root, Map.empty) }
  }

  test("meta-schema validation rejects malformed schemas at build time") {
    import graft.spec.Meta
    // the engine's own query specs are meta-valid
    assert(Meta.isValidJson("""{"properties":{"a":{"minimum":0}},"required":["a"]}"""))
    assert(Meta.isValidJson("true"))
    // wrong keyword VALUE shapes are rejected
    assert(!Meta.isValidJson("""{"minimum": "5"}"""))
    assert(!Meta.isValidJson("""{"required": "a"}"""))
    assert(!Meta.isValidJson("""{"type": "strng"}"""))
    assert(!Meta.isValidJson("""{"properties": ["a"]}"""))
    assert(!Meta.isValidJson("""{"multipleOf": 0}"""))
    // compile() fails fast like the reference build
    val df = Seq(1).toDF("x")
    intercept[graft.spec.SpecError] {
      Validation.compile("""{"properties":{"x":{"minimum":"5"}}}""", df.schema)
    }
  }

  test("dereference keeps cyclic refs in place") {
    val spec = Spec.parseJson(
      """{"$defs":{"loop":{"$ref":"#/$defs/loop"}},"properties":{"x":{"$ref":"#/$defs/loop"}}}""")
    Bundler.dereference(spec) // must terminate
  }

  test("validatorMap: every reachable subschema keyed by JSON pointer") {
    val df = Seq((1, "abc"), (-1, "x")).toDF("a", "b")
    val m = Validation.validatorMap(
      """{"properties":{"a":{"minimum":0},"b":{"minLength":2}},"required":["a"],
          "allOf":[{"properties":{"a":{"maximum":100}}}]}""",
      df.schema)
    // deep keying: root, each property, the allOf branch AND its nested property
    assert(m.keySet == Set("", "/properties/a", "/properties/b",
      "/allOf/0", "/allOf/0/properties/a"))
    // non-struct targets compile against a single `value` column
    val got = m("/properties/a").withValid(df.select(col("a").as("value")))
      .select("valid").as[Boolean].collect()
    assert(got.sameElements(Array(true, false)))
    // nested pointer sub-plan is standalone too
    val deep = m("/allOf/0/properties/a")
      .withValid(Seq(5, 200).toDF("value")).select("valid").as[Boolean].collect()
    assert(deep.sameElements(Array(true, false)))
    assert(!m("").isValid(df))
  }

  test("evaluate output formats: flag, list, hierarchical") {
    val df = Seq((1, "abc"), (-1, "x")).toDF("a", "b")
    val plan = Validation.compile(
      """{"properties":{"a":{"minimum":0},"b":{"minLength":2}}}""", df.schema)
    def eval(format: String) =
      df.select(plan.outputV1(format).as("e")).collect().map(_.getStruct(0))
    def details(r: Row) = r.getSeq[Row](r.fieldIndex("details"))
    val flag = eval("flag")
    assert(flag(0).getAs[Boolean]("valid") && !flag(1).getAs[Boolean]("valid"))
    // the failing row: both checks fail, and every detail says so
    val list = details(eval("list")(1))
    assert(list.length == 2 && list.forall(!_.getAs[Boolean]("valid")))
    val hier = details(eval("hierarchical")(1))
    assert(hier.map(_.getAs[String]("instanceLocation")).toSet == Set("/a", "/b"))
  }

  test("firstError is fail-fast in priority order") {
    val df = Seq(("x", -5)).toDF("s", "n")
    // type (priority 1) fires before minimum (priority 10)
    val plan = Validation.compile(
      """{"properties":{"s":{"type":"integer"},"n":{"minimum":0}}}""", df.schema)
    val first = df.select(plan.firstErrorCol.as("e")).collect()(0).getStruct(0)
    assert(first.getString(0) == "type")
  }
}
