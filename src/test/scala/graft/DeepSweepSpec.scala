package graft

// Deep engine == interpreter sweep over 2,000 generated (spec, instance)
// pairs. It is part of the default gate: `testOnly *` runs it, and the
// build excludes no tag. PropertySpec covers the same generators with only
// 120 engine samples.
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.Tag
import org.scalacheck.{Gen, rng}
import graft.spec._

object DeepSweep extends Tag("graft.DeepSweep")

class DeepSweepSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("2000-sample engine/interp equivalence sweep", DeepSweep) {
    val p = new PropertySpec
    var seed = rng.Seed(777000111L)
    var checked = 0
    val failures = scala.collection.mutable.Buffer[String]()
    for (_ <- 1 to 2000) {
      val specJson = p.genSpec.pureApply(Gen.Parameters.default, seed); seed = seed.next
      val value = p.genValue.pureApply(Gen.Parameters.default, seed); seed = seed.next
      val spec = Spec.parse(specJson)
      val want = Interp.isValid(spec, value)
      SuiteHarness.buildAndCompile(spark, spec, value).foreach { got =>
        checked += 1
        if (got != want)
          failures += s"ENGINE ${JsonValue.render(specJson)} on ${JsonValue.render(value)}: engine=$got interp=$want"
      }
    }
    info(s"checked $checked engine verdicts")
    assert(failures.isEmpty, failures.take(10).mkString("\n"))
  }
}
