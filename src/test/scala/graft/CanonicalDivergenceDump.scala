package graft

import graft.spec._

/** Dev probe: print every outstanding form divergence for the ratcheted
  * canonical-suite files (ours vs reference expected); a form the file
  * lists as an alternative expected result is not a divergence. Other
  * files go as arguments:
  * `sbt "Test/runMain graft.CanonicalDivergenceDump algebra.json"`. */
object CanonicalDivergenceDump {
  def main(args: Array[String]): Unit = {
    val spec = new CanonicalFormSpec
    val files = if (args.nonEmpty) args.toSeq else Seq("negation.json", "oneof.json", "satisfiability.json", "numeric.json")
    files.foreach { f =>
      println(s"===== $f =====")
      spec.load(f).foreach { case (desc, schemaJson, expected, apExpected) =>
        val key = s"$f / $desc"
        val sp = try Spec.parse(schemaJson) catch { case _: SpecError => null }
        if (sp != null && !spec.knownDivergent.contains(key)) {
          val ours = spec.canonForm(Spec.toJson(Canonical.canonicalize(sp)))
          val want = spec.canonForm(expected)
          if (ours != want && !apExpected.map(spec.canonForm).contains(ours)) {
            println(s"--- $desc")
            println(s"  in:   ${JsonValue.render(schemaJson)}")
            println(s"  ours: ${JsonValue.render(ours)}")
            println(s"  want: ${JsonValue.render(want)}")
          }
        }
      }
    }
  }
}
