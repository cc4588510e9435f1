package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.spec._

/** Verdict parity of the reference's canonical FORMS (the `expected`
  * documents of the vendored corpus under `canonical-suite/`). The
  * reference proves each form equivalent to its group's schema, so graft
  * must give the form and the schema the same verdict on every datum of
  * the group: a metamorphic check of the validator over a second, already
  * simplified spelling of each schema (folded bounds, `false` branches,
  * pushed-down negations, rewritten combinators). The form read is the
  * reference's exact-arithmetic one (`expected_arbitrary_precision`)
  * where it publishes one, since graft compares exact decimals. Forms
  * graft refuses with a SpecError are counted as skipped. */
class CanonicalFormSpec extends AnyFunSuite {
  import CanonicalSuiteSpec._

  files.foreach { f =>
    lazy val groups = load(f)
    test(s"canonical FORM parity: $f") {
      val failures = scala.collection.mutable.Buffer[String]()
      var pairs = 0; var skipped = 0
      groups.foreach { case Group(desc, schemaJsons, tests, formOpt) =>
        formOpt.foreach { formJson =>
          orSkip(Interp.prepare(Spec.parse(formJson))) match {
            case None => skipped += tests.size * schemaJsons.size
            case Some(form) =>
              schemaJsons.foreach { schemaJson =>
                orSkip(Interp.prepare(Spec.parse(schemaJson))) match {
                  case None => skipped += tests.size
                  case Some(src) =>
                    tests.foreach { case (data, _) =>
                      (orSkip(src.isValidInterp(data)), orSkip(form.isValidInterp(data))) match {
                        case (Some(s), Some(c)) =>
                          pairs += 1
                          if (s != c) failures +=
                            s"$desc / ${JsonValue.render(data).take(60)}: schema=$s form=$c\n" +
                            s"  form: ${JsonValue.render(formJson).take(200)}"
                        case _ => skipped += 1
                      }
                    }
                }
              }
          }
        }
      }
      info(s"$f: $pairs (form, data) pairs, $skipped skipped")
      assert(pairs > 0, s"no canonical form of $f was checked")
      assert(failures.isEmpty,
        s"\n${failures.take(15).mkString("\n")}\n(${failures.size} failures, $skipped skipped)")
    }
  }
}
