package perfbench

import org.apache.spark.sql.SparkSession
import Main.{Args, Outcome}

/** Pieces the Spark workloads share: repeated set-up and per-operation
  * Spark counters for the traced run. */
object Common {

  /** Set-up repetitions per run; `setup_s` is their median. */
  val SetupReps = 3

  /** Runs the workload's program set-up `SetupReps` times, each from a
    * fresh session, and keeps the last session and result. */
  def setupReps[T](a: Args, o: Outcome)(body: SparkSession => T): (SparkSession, T) = {
    var last: Option[(SparkSession, T)] = None
    (1 to SetupReps).foreach { _ =>
      last.foreach(_._1.stop())
      val ((spark, r), dt) = Main.seconds {
        val s = Main.session(a.cores)
        (s, body(s))
      }
      o.setupSeconds += dt
      last = Some((spark, r))
    }
    last.get
  }

  /** Times whole rounds until the window closes: at least `minRounds`,
    * and never a partial round. */
  def rounds(seconds: Double, minRounds: Int)(round: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var k = 0
    while (k < minRounds || (System.nanoTime() - t0) / 1e9 < seconds) {
      round(k)
      k += 1
    }
  }

  /** Per-operation Spark counters over the given operation spans. */
  def sparkLayer(tr: Tracer, ops: Seq[Span], cores: Int, o: Outcome): Unit = {
    tr.drain()
    val t = new SparkTotals
    ops.foreach(s => t.add(tr.sparkTotals(s)))
    val n = ops.size.toDouble
    val wall = ops.map(_.seconds).sum
    val mb = 1024.0 * 1024.0
    o.layer ++= Seq(
      "spark.jobs" -> t.jobs / n, "spark.stages" -> t.stages / n, "spark.tasks" -> t.tasks / n,
      "spark.task_cpu_s" -> t.cpuNs / 1e9 / n, "spark.task_run_s" -> t.runMs / 1e3 / n,
      "spark.sched_delay_s" -> t.schedMs / 1e3 / n, "spark.gc_s" -> t.gcMs / 1e3 / n,
      "spark.core_busy_frac" -> (t.runMs / 1e3) / (wall * cores),
      "spark.shuffle_write_mb" -> t.shuffleWrite / mb / n,
      "spark.shuffle_read_mb" -> t.shuffleRead / mb / n,
      "spark.spill_mb" -> t.spill / mb / n, "spark.input_mb" -> t.input / mb / n,
      "spark.output_mb" -> t.output / mb / n)
  }
}
