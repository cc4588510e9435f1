package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.spec._

/** Verdict goldens vendored from the reference's canonicalization corpus
  * (its `crates/jsonschema/tests/canonical-suite/` JSON files, driven
  * there by `tests/canonical_suite.rs`) — PUBLIC reference test
  * DATA, vendored verbatim for behavior parity. Each case carries
  * (schema, tests[(data, valid)]); the expected canonical forms are not
  * read here (CanonicalFormSpec checks them). For every (schema, data)
  * pair three evaluator tiers are checked:
  *   1. verdict parity: the tree-walk (`Prepared.isValidInterp`) agrees
  *      with every reference `valid`;
  *   2. acceptance preservation: the closure-compiled tier
  *      (`Compiled.compile`) and the fused streaming tier
  *      (`Streaming.compile` over the rendered document), where they
  *      compile, accept exactly what the tree-walk accepts. */
class CanonicalSuiteSpec extends AnyFunSuite {
  import CanonicalSuiteSpec._

  files.foreach { f =>
    lazy val groups = load(f)
    test(s"canonical-suite $f: verdict parity + acceptance preservation") {
      val failures = scala.collection.mutable.Buffer[String]()
      var skipped = 0
      var pairs = 0; var withRef = 0; var compiledN = 0; var streamedN = 0
      groups.foreach { case Group(desc, schemaJsons, tests, _) =>
        schemaJsons.foreach { schemaJson =>
          orSkip(Interp.prepare(Spec.parse(schemaJson))) match {
            case None => skipped += tests.size
            case Some(p) =>
              val compiled = orSkip(Compiled.compile(p.registry, p.entry, false)).flatten
              val streamed = orSkip(Streaming.compile(p.registry, p.entry, false)).flatten
              tests.foreach { case (data, wantOpt) =>
                def at = s"$desc / ${JsonValue.render(data).take(60)}"
                orSkip(p.isValidInterp(data)) match {
                  case None => skipped += 1
                  case Some(tree) =>
                    pairs += 1
                    if (wantOpt.nonEmpty) withRef += 1
                    if (wantOpt.exists(_ != tree))
                      failures += s"$at: tree-walk=$tree want=${wantOpt.get}"
                    compiled.foreach { c =>
                      compiledN += 1
                      val v = c(data)
                      if (v != tree) failures += s"$at: compiled=$v tree-walk=$tree"
                    }
                    streamed.foreach { s =>
                      streamedN += 1
                      val v = s(JsonValue.render(data))
                      if (v != tree) failures += s"$at: streaming=$v tree-walk=$tree"
                    }
                }
              }
          }
        }
      }
      info(s"$pairs pairs ($withRef with a reference verdict): $compiledN compiled, $streamedN streamed, $skipped skipped")
      assert(pairs == 0 || (compiledN > 0 && streamedN > 0),
        s"no pair of $f reached the compiled and streaming tiers")
      assert(failures.isEmpty,
        s"\n${failures.take(15).mkString("\n")}\n(${failures.size} failures, $skipped skipped)")
    }
  }
}

/** The vendored corpus as read by CanonicalSuiteSpec and CanonicalFormSpec. */
object CanonicalSuiteSpec {

  val files = Seq("negation.json", "algebra.json", "emptiness.json", "oneof.json",
    "folding.json", "convergence.json", "satisfiability.json", "numeric.json",
    "properties.json", "items.json", "additional_properties.json",
    "contains.json", "unique_items.json", "dependencies.json",
    "if_then_else.json", "unevaluated.json", "references.json",
    "dynamic_references.json", "valueset.json", "string.json", "object.json",
    "array.json", "array_tuple.json", "pattern_properties.json",
    "property_names.json", "required.json", "structural.json", "parity.json",
    "content.json", "raw_gate.json")

  /** One corpus group: its schemas, its (data, reference verdict) entries
    * and the reference's canonical form of its schema, if it publishes one
    * (`expected_arbitrary_precision`, the exact-arithmetic build's form,
    * before the f64-model `expected`). */
  final case class Group(desc: String, schemas: Vector[JsonValue],
      tests: Vector[(JsonValue, Option[Boolean])], form: Option[JsonValue])

  /** Legacy-dialect schemas (declared via $schema) follow draft-4 numeric
    * semantics (1.0 is NOT an integer) — out of scope for our single
    * 2020-12 dialect (SURVEY §7 non-goals). */
  def legacy(s: JsonValue): Boolean = s match {
    case o: JObj => o.get("$schema").exists {
      case JStr(u) => u.contains("draft-0")
      case _ => false
    }
    case _ => false
  }

  /** Corpus shapes: a group carries either `schema` or `schemas` (a list
    * of EQUIVALENT forms); groups pinned to a legacy `draft` or to
    * `validate_formats` (format-asserting mode) are skipped — one dialect,
    * formats annotation-only in the interpreter. Test entries carry an
    * expected verdict ({data, valid} — reference parity asserted) or none
    * ({data} / a bare value, as in parity.json and raw_gate.json — tier
    * agreement is still asserted). */
  def load(name: String): Vector[Group] = {
    val in = getClass.getResourceAsStream(s"/canonical-suite/$name")
    require(in != null, s"missing /canonical-suite/$name")
    val JArr(groups) = JsonValue.parse(new String(in.readAllBytes(), "UTF-8")): @unchecked
    groups.flatMap { g =>
      val go = g.asInstanceOf[JObj]
      val desc = go.get("description").collect { case JStr(s) => s }.getOrElse("")
      // `error` groups are invalid-schema rejections — asserted by
      // ErrorsCorpusSpec
      if (go.get("draft").nonEmpty || go.get("validate_formats").nonEmpty ||
          go.get("error").nonEmpty) None
      else {
        val schemas = go.get("schema").map(Vector(_))
          .orElse(go.get("schemas").collect { case JArr(xs) => xs })
          .getOrElse(Vector.empty)
          .filterNot(legacy)
        val tests = go.get("tests").collect { case JArr(ts) => ts }.getOrElse(Vector.empty)
          .map {
            case to: JObj if to.get("data").nonEmpty =>
              (to.get("data").get, to.get("valid").collect { case JBool(b) => b })
            case bare => (bare, None) // bare-value entry (parity.json)
          }
        val form = go.get("expected_arbitrary_precision").orElse(go.get("expected"))
          .filter(e => (e.isInstanceOf[JObj] || e.isInstanceOf[JBool]) && !legacy(e))
        if (schemas.isEmpty) None else Some(Group(desc, schemas, tests, form))
      }
    }
  }

  /** `build` or None when it refuses the schema with a SpecError
    * (unsupported construct, unresolvable `$ref`). */
  def orSkip[A](build: => A): Option[A] =
    try Some(build) catch { case _: SpecError => None }
}
