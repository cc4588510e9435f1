package graft

import org.apache.spark.sql.SparkSession

/** Scaling-efficiency evidence (north rule: throughput scaling >= 0.8 from
  * N to 4N executors). The sandbox has no cluster, so per the driver's
  * instruction we run the SAME job on the SAME input at two parallelism
  * pairs — local[2] vs local[8], and local[8] vs local[32] — and report
  * throughput at each plus efficiency = (tN / t4N) / 4.
  *
  * The box is a shared 32-vCPU microVM with all-core frequency scaling and
  * visible CPU steal: a RAW compute kernel (no Spark) measures the
  * hardware's own N→4N ceiling, so the report separates "what the hardware
  * gives" from "what the engine loses". Interleaved rounds + min are the
  * steal-robust estimator. Results: BENCH_SCALING.md.
  */
object ScalingBench {

  // ---- raw hardware calibration (no Spark): same decode+SNR kernel ----
  private def rawWork(n: Int): Double = {
    var s = 0.0
    var i = 0
    while (i < n) {
      val clip = graft.audio.Pcm.synthesize(s"clip-$i", 16000, 100)
      val enc = graft.audio.Pcm.encodeUlaw8(clip)
      s += graft.audio.Pcm.snrDb(clip, graft.audio.Pcm.decodeUlaw8(enc))
      i += 1
    }
    s
  }

  private def rawRun(threads: Int, total: Int): Double = {
    val t0 = System.nanoTime()
    val ts = (1 to threads).map(_ => new Thread(() => { rawWork(total / threads); () }))
    ts.foreach(_.start()); ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  def rawCalibration(levels: Seq[Int], total: Int = 96000, reps: Int = 3): Map[Int, Double] = {
    rawRun(8, 4000) // JIT warmup
    levels.map(t => t -> (1 to reps).map(_ => rawRun(t, total)).min).toMap
  }

  // ---- Spark job at one parallelism level ------------------------------
  private def run(cores: Int, nClips: Long, repeats: Int): Double = {
    val spark = Sessions.create(cores, smallSplits = true)
    // generated by the first level's session, reused by every later one
    val clipsPath = Bench.clipsFixture(spark, nClips, 64)
    Bench.validateClips(spark, clipsPath) // warmup
    val times = (1 to repeats).map { _ =>
      val t0 = System.nanoTime()
      Bench.validateClips(spark, clipsPath)
      (System.nanoTime() - t0) / 1e9
    }
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    println(f"[scaling] cores=$cores times=${times.map(t => f"$t%.2f").mkString(",")}")
    times.min
  }

  def main(args: Array[String]): Unit = {
    val nClips = sys.env.getOrElse("SPARK_GRAFT_CLIPS", "200000").toLong
    val repeats = sys.env.getOrElse("SPARK_GRAFT_REPEATS", "2").toInt
    val rounds = sys.env.getOrElse("SPARK_GRAFT_ROUNDS", "3").toInt
    val levels = Seq(2, 8, 32)

    val raw = rawCalibration(levels)
    println(levels.map(l => f"raw[$l]=${raw(l)}%.2fs").mkString("[scaling] hardware: ", " ", ""))

    // interleaved rounds, min per level (steal-robust)
    val mins = scala.collection.mutable.Map[Int, Double]().withDefaultValue(Double.MaxValue)
    for (_ <- 1 to rounds; l <- levels)
      mins(l) = math.min(mins(l), run(l, nClips, repeats))

    def eff(a: Int, b: Int, t: Int => Double): Double = (t(a) / t(b)) / (b.toDouble / a)
    val sparkT = (l: Int) => mins(l)
    val rawT = (l: Int) => raw(l)

    val md = new StringBuilder
    md.append(s"\n## Scaling run ${java.time.Instant.now()} — $nClips clips, full constraint suite\n\n")
    md.append("| cores | spark time (s) | clips/sec | raw-kernel time (s) |\n| --- | --- | --- | --- |\n")
    levels.foreach { l =>
      md.append(f"| local[$l] | ${mins(l)}%.3f | ${nClips / mins(l)}%.0f | ${raw(l)}%.2f |\n")
    }
    md.append("\n| pair (N -> 4N) | engine efficiency | hardware ceiling (raw kernel) | engine / hardware |\n| --- | --- | --- | --- |\n")
    for ((a, b) <- Seq((2, 8), (8, 32))) {
      val e = eff(a, b, sparkT); val h = eff(a, b, rawT)
      md.append(f"| local[$a] -> local[$b] | $e%.3f | $h%.3f | ${e / h}%.3f |\n")
    }
    md.append("\nHardware note: shared 32-vCPU microVM; all-core turbo drop + CPU steal cap\n")
    md.append("the raw kernel itself below 1.0 at 8->32. Engine efficiency is reported\n")
    md.append("both absolute and relative to that hardware ceiling (target >= 0.8).\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH_SCALING.md"), md,
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)

    val line = levels.map(l => f""""t_local${l}_sec":${mins(l)}%.3f,"clips_per_sec_$l":${nClips / mins(l)}%.0f""").mkString(",")
    println(f"""{"clips":$nClips,$line,"eff_2_8":${eff(2, 8, sparkT)}%.3f,"eff_8_32":${eff(8, 32, sparkT)}%.3f,"hw_eff_2_8":${eff(2, 8, rawT)}%.3f,"hw_eff_8_32":${eff(8, 32, rawT)}%.3f}""")
  }
}
