package graft

import graft.spec._
import org.scalacheck.{Gen, rng}

/** One-off high-volume differential stress (run manually): compiled ==
  * tree-walk == streaming over generated pairs. */
object SweepStress {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(20000)
    val ps = new PropertySpec
    var seed = rng.Seed(987654321L)
    var bad = 0; var checked = 0
    val t0 = System.nanoTime()
    for (i <- 1 to n) {
      val specJson = ps.genSpec.pureApply(Gen.Parameters.default, seed); seed = seed.next
      val value = ps.genValue.pureApply(Gen.Parameters.default, seed); seed = seed.next
      val spec = Spec.parse(specJson)
      val p = Interp.prepare(spec)
      val tw = p.isValidInterp(value)
      val cv = p.isValid(value)
      val sv = p.isValidText(JsonValue.render(value)) // streaming lane
      checked += 1
      if (cv != tw || sv != tw) {
        bad += 1
        println(s"DIVERGENCE: compiled=$cv interp=$tw stream=$sv " +
          s"spec=${JsonValue.render(specJson)} value=${JsonValue.render(value)}")
      }
    }
    println(f"checked $checked pairs in ${(System.nanoTime() - t0) / 1e9}%.1f s; divergences: $bad")
    if (bad > 0) sys.exit(1)
  }
}
