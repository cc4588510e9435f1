package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** One benchmark process: runs one workload for a fixed wall-clock window
  * and prints one result line (`PERFBENCH_RESULT {...}`) that `run.py`
  * turns into the benchmark's output.
  *
  * Arguments: --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> --out <dir> --cores <n> [--repeat]. `--repeat` marks a
  * further process of a run that `run.py` spreads over several JVMs: it
  * times operations but skips the once-per-run output checks. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path, out: Path, cores: Int, repeat: Boolean)

  val Lanes: Seq[String] = Seq("recursive", "citm", "geojson")
  val Queries: Seq[String] = Seq(
    "q_docs_minhash_lsh", "q_emb_near_dup_lsh", "q_docs_dedup_corpus", "q_docs_dup_components",
    "q_ann_ivf_top5", "q_quantiles_sketch", "q_unique_events_user", "q_drift_price_by_status",
    "q_ref_customers_no_events")

  /** Per-layer metrics: every traced run reports all of them; a layer the
    * workload does not exercise reports 0. */
  val PerLayer: Seq[(String, String)] =
    Seq("spec.meta_ms" -> "ms") ++
      Lanes.map(l => s"spec.prepare_ms.$l" -> "ms") ++
      Lanes.map(l => s"spec.parse_us_per_doc.$l" -> "us") ++
      Lanes.map(l => s"spec.stream_us_per_doc.$l" -> "us") ++
      Lanes.map(l => s"spec.compiled_us_per_doc.$l" -> "us") ++
      Lanes.map(l => s"spec.errors_us_per_invalid_doc.$l" -> "us") ++
      Seq("spec.streamable_schemas" -> "count") ++
      Lanes.map(l => s"lane.$l.docs_per_s" -> "1/s") ++
      Seq("compile.plan_ms" -> "ms", "compile.checks" -> "count",
        "run.scan_s" -> "s", "audio.decode_s" -> "s", "run.battery_s" -> "s",
        "audio.kernel_us_per_clip" -> "us", "table.uniq_s" -> "s",
        "audit.unit_s_p50" -> "s", "audit.jobs_per_unit" -> "count", "audit.write_mb" -> "MB") ++
      Queries.flatMap(q => Seq(s"q.$q.s" -> "s", s"q.$q.jobs" -> "count", s"q.$q.shuffle_mb" -> "MB")) ++
      Seq("spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
        "spark.task_cpu_s" -> "s", "spark.task_run_s" -> "s", "spark.sched_delay_s" -> "s",
        "spark.gc_s" -> "s", "spark.core_busy_frac" -> "fraction",
        "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB", "spark.spill_mb" -> "MB",
        "spark.input_mb" -> "MB", "spark.output_mb" -> "MB",
        "self.read_s" -> "s", "self.compile_s" -> "s", "self.battery_s" -> "s",
        "self.uniq_s" -> "s", "self.other_s" -> "s",
        "trace.unaccounted_frac" -> "fraction", "trace.overhead_frac" -> "fraction")

  /** What a workload hands back: timed operation seconds, items per
    * operation, set-up samples, counters and any failed output check. */
  final class Outcome {
    val opSeconds = mutable.ArrayBuffer[Double]()
    var itemsPerOp = 0L
    val setupSeconds = mutable.ArrayBuffer[Double]()
    var attempted = 0L
    var failed = 0L
    val problems = mutable.ArrayBuffer[String]()
    val layer = mutable.LinkedHashMap[String, Double]()

    def check(ok: Boolean, what: => String): Unit = if (!ok) problems += what
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private val started = System.nanoTime()

  /** Progress line on stderr with seconds since the process started. */
  def phase(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%.1fs $what")

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** SplitMix64 finaliser: the benchmark's only source of pseudo-randomness. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4b7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** The session every Spark workload uses: local[cores], AQE on, ANSI off. */
  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", s"${4 * 1024 * 1024}")
      .config("spark.sql.files.openCostInBytes", s"${1024 * 1024}")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Process high-water resident set size in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", Paths.get(need("--work")), Paths.get(need("--out")),
      need("--cores").toInt, argv.contains("--repeat"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    Files.createDirectories(a.out)
    val tracer = new Tracer(a.trace)
    val o = new Outcome
    a.workload match {
      case "clips_suite" => ClipsWorkloads.suite(a, tracer, o)
      case "clips_audit" => ClipsWorkloads.audit(a, tracer, o)
      case "doc_lanes" => DocLanes.run(a, tracer, o)
      case "corpus_dedup" => CorpusDedup.run(a, tracer, o)
      case w => sys.error(s"unknown workload $w")
    }
    val opS = median(o.opSeconds.toSeq)
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("setup_s", median(o.setupSeconds.toSeq), "s"),
        ("op_s", opS, "s"),
        ("items_per_s", o.itemsPerOp / opS, "1/s"),
        ("peak_rss_mb", peakRssMb(), "MB"))
      else PerLayer.map { case (n, u) => (n, o.layer.getOrElse(n, 0.0), u) }
    if (a.trace) {
      val unknown = o.layer.keySet -- PerLayer.map(_._1)
      require(unknown.isEmpty, s"undeclared per-layer metrics: $unknown")
      Files.writeString(a.out.resolve(s"trace-${a.workload}-seed${a.seed}.json"), tracer.toJson)
    }
    val line = Json.obj(Seq(
      "correct" -> (if (o.problems.isEmpty) "true" else "false"),
      "attempted" -> Json.num(o.attempted),
      "failed" -> Json.num(o.failed),
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }),
      "items_per_op" -> Json.num(o.itemsPerOp),
      "setup_samples_s" -> Json.arr(o.setupSeconds.toSeq.map(Json.num)),
      "op_samples_s" -> Json.arr(o.opSeconds.toSeq.map(Json.num)),
      "problems" -> Json.arr(o.problems.toSeq.map(Json.str))))
    println(s"PERFBENCH_RESULT $line")
    SparkSession.getActiveSession.foreach(_.stop())
  }
}
