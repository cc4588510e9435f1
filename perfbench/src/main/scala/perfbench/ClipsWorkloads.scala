package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.{Callable, Executors}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.functions._
import graft.Bench
import graft.audio.{AudioChecks, Clip, ClipsGen, Pcm}
import graft.audio.expressions.pcm_stats
import graft.audit.CheckpointedRun
import graft.table.TableChecks
import Main.{Args, Outcome}

/** The clips table read path (`clips_suite`) and audited write path
  * (`clips_audit`) over a clips parquet fixture generated from the seed. */
object ClipsWorkloads {

  val CorruptionRate = 0.01
  val HotKeyEvery = 200
  val MaxDurMs = 200

  val SuiteClips = 16000L
  val SuiteFiles = 16
  val SuiteWarmups = 6
  val AuditClips = 6000L
  val AuditUnits = 3
  val AuditWarmups = 2

  /** Generator classes, named after `ClipsGen.Corrupt`. */
  val ClassNames: Map[Int, String] = Map(1 -> "null_transcript", 2 -> "bad_clip_id",
    3 -> "bad_sample_rate", 4 -> "bad_duration", 5 -> "truncated_bytes", 6 -> "noisy_audio",
    7 -> "wrong_transcript", 8 -> "unknown_codec")

  /** The keyword and instance path each corruption class targets. */
  val Targets: Map[Int, (String, String)] = Map(
    1 -> ("x-audio-transcript", ""), 2 -> ("pattern", "/clip_id"),
    3 -> ("enum", "/sr_hz"), 4 -> ("minimum", "/dur_ms"),
    5 -> ("x-audio-bytesConsistent", ""), 6 -> ("x-audio-snr", ""),
    7 -> ("x-audio-transcript", ""), 8 -> ("enum", "/codec"))

  /** What the fixture must contain, computed without Spark and without the
    * validator: each row is regenerated clean (corruption rate 0) and
    * compared field by field with the row the fixture holds. */
  final case class Expected(n: Long, corrupted: Seq[(String, Int)], dupKeys: Map[String, Long],
                            sample: Vector[Clip]) {
    def invalidRows: Long = corrupted.size.toLong
    def corruptedIds: Set[String] = corrupted.map(_._1).toSet
  }

  def clip(i: Long, seed: Long, rate: Double): Clip =
    ClipsGen.clipAt(i, seed, rate, HotKeyEvery, MaxDurMs)

  /** Class of a corrupted row, told from which field differs; 0 if none. */
  def classOf(c: Clip, clean: Clip): Int =
    if (c.transcript == null && clean.transcript != null) 1
    else if (c.clip_id != clean.clip_id) 2
    else if (c.sr_hz != clean.sr_hz) 3
    else if (c.dur_ms != clean.dur_ms) 4
    else if (c.codec != clean.codec) 8
    else if (c.transcript != clean.transcript) 7
    else if (c.bytes.length < clean.bytes.length) 5
    else if (!java.util.Arrays.equals(c.bytes, clean.bytes)) 6
    else 0

  def expected(n: Long, seed: Long, threads: Int, sampleSize: Int): Expected = {
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val chunk = (n + threads - 1) / threads
      val tasks = (0 until threads).map { t =>
        pool.submit(new Callable[(Seq[(String, Int)], Map[String, Long])] {
          def call() = {
            val bad = Seq.newBuilder[(String, Int)]
            val ids = scala.collection.mutable.HashMap[String, Long]()
            var i = t * chunk
            while (i < math.min(n, (t + 1) * chunk)) {
              val c = clip(i, seed, CorruptionRate)
              val cls = classOf(c, clip(i, seed, 0.0))
              if (cls != 0) bad += ((c.clip_id, cls))
              ids(c.clip_id) = ids.getOrElse(c.clip_id, 0L) + 1
              i += 1
            }
            (bad.result(), ids.toMap)
          }
        })
      }
      val parts = tasks.map(_.get())
      val counts = parts.flatMap(_._2).groupMapReduce(_._1)(_._2)(_ + _)
      Expected(n, parts.flatMap(_._1), counts.filter(_._2 > 1),
        (0L until math.min(n, sampleSize.toLong)).map(clip(_, seed, CorruptionRate)).toVector)
    } finally pool.shutdownNow()
  }

  def writeFixture(a: Args, path: String, n: Long, files: Int): Unit = {
    val spark = Main.session(a.cores)
    ClipsGen.generate(spark, n, files, CorruptionRate, a.seed, HotKeyEvery, MaxDurMs)
      .write.mode("overwrite").parquet(path)
    spark.stop()
  }

  /** Program set-up for both clips workloads: schema resolved, spec parsed,
    * meta-checked and compiled, and the validated plan built. */
  private def compilePlan(spark: SparkSession, path: String): graft.run.ValidationPlan = {
    val df = spark.read.parquet(path)
    val plan = AudioChecks.fullPlan(df.schema)
    plan.withValidation(df).queryExecution.executedPlan
    plan
  }

  /** The known fault kept as a counted failure: `pcm_stats` inside `agg()`
    * is rejected because the expression declares itself non-deterministic. */
  private def perCodecLoudness(spark: SparkSession, path: String): Map[String, Double] =
    spark.read.parquet(path).groupBy("codec")
      .agg(avg(pcm_stats(col("bytes"), col("codec")).getField("rms_dbfs")).as("rms"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

  /** The same figures with the stats projected first, the form that works. */
  private def perCodecLoudnessProjected(spark: SparkSession, path: String): Map[String, Double] =
    spark.read.parquet(path)
      .select(col("codec"), pcm_stats(col("bytes"), col("codec")).as("st"))
      .groupBy("codec").agg(avg(col("st.rms_dbfs")).as("rms"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

  // ---------------------------------------------------------------- suite

  def suite(a: Args, tr: Tracer, o: Outcome): Unit = {
    val path = a.work.resolve("clips").toString
    writeFixture(a, path, SuiteClips, SuiteFiles)
    Main.phase("fixture written")
    val exp = expected(SuiteClips, a.seed, a.cores, sampleSize = 2000)
    Main.phase("expected outputs computed")
    val (spark, plan) = Common.setupReps(a, o)(compilePlan(_, path))
    Main.phase("set-up done")
    tr.attach(spark)
    o.itemsPerOp = SuiteClips
    (1 to SuiteWarmups).foreach(_ => Bench.validateClips(spark, path))
    Main.phase("warmed up")

    lazy val loudnessReference = perCodecLoudnessProjected(spark, path)
    val untraced = scala.collection.mutable.ArrayBuffer[Double]()
    Common.rounds(a.seconds, minRounds = 3) { k =>
      // traced runs alternate traced and untraced operations, so the
      // tracing overhead is measured in the same process
      val traced = tr.enabled && k % 2 == 0
      val (rows, dt) =
        if (traced) Main.seconds(tr.span("op")(tracedSuiteOp(spark, path, tr)))
        else Main.seconds(Bench.validateClips(spark, path))
      if (tr.enabled && !traced) untraced += dt else o.opSeconds += dt
      o.attempted += 1
      o.check(rows == SuiteClips, s"validateClips returned $rows rows, expected $SuiteClips")
      o.attempted += 1
      try {
        val got = perCodecLoudness(spark, path)
        val want = loudnessReference
        o.check(got.keySet == want.keySet &&
          got.forall { case (c, v) => math.abs(v - want(c)) <= 1e-9 * math.max(1.0, math.abs(v)) },
          s"per-codec loudness $got differs from the projected form $want")
      } catch {
        case e: AnalysisException =>
          o.failed += 1
          if (k == 0) System.err.println(s"[perfbench] known failure: ${e.getMessage.take(160)}")
      }
    }

    Main.phase("measured")
    checkSuiteOutputs(spark, path, plan, exp, o)
    Main.phase("outputs checked")
    if (tr.enabled) {
      suiteLayers(spark, path, tr, exp, untraced.toSeq, a.cores, o)
      CorpusDedup.probe(a, spark, tr, o)
    }
  }

  /** `Bench.validateClips` made of the same public calls in the same
    * order, each inside a span. */
  private def tracedSuiteOp(spark: SparkSession, path: String, tr: Tracer): Long = {
    val df = tr.span("op.read")(spark.read.parquet(path))
    val plan = tr.span("compile.plan")(AudioChecks.fullPlan(df.schema))
    val row = tr.span("run.battery") {
      plan.withValidation(df).agg(
        count(lit(1)).as("rows"),
        sum(when(!col("valid"), 1L).otherwise(0L)).as("invalid"),
        sum(size(col("violations"))).as("violations")).collect()(0)
    }
    tr.span("table.uniq")(TableChecks.uniquenessViolations(df, Seq("clip_id")).count())
    row.getLong(0)
  }

  /** Output checks, once per run and outside the timers. */
  private def checkSuiteOutputs(spark: SparkSession, path: String, plan: graft.run.ValidationPlan,
                                exp: Expected, o: Outcome): Unit = {
    val df = spark.read.parquet(path)
    val invalid = plan.withValidation(df).where(!col("valid"))
      .select(col("clip_id"), col("violations.keyword").as("kw"),
        col("violations.instance_path").as("ip"))
      .collect()
    val gotIds = invalid.map(_.getString(0)).groupMapReduce(identity)(_ => 1)(_ + _)
    val wantIds = exp.corrupted.map(_._1).groupMapReduce(identity)(_ => 1)(_ + _)
    o.check(gotIds == wantIds,
      s"invalid rows ${invalid.length} differ from the ${exp.invalidRows} corrupted rows " +
        s"(${(gotIds.keySet diff wantIds.keySet).size} unexpected, " +
        s"${(wantIds.keySet diff gotIds.keySet).size} missed)")
    val tripped: Map[String, Set[(String, String)]] = invalid.toSeq
      .map(r => r.getString(0) -> r.getSeq[String](1).zip(r.getSeq[String](2)).toSet)
      .groupMapReduce(_._1)(_._2)(_ ++ _)
    exp.corrupted.foreach { case (id, cls) =>
      val target = Targets(cls)
      o.check(tripped.getOrElse(id, Set.empty).contains(target),
        s"${ClassNames(cls)} row $id did not trip ${target._1} at '${target._2}': " +
          s"${tripped.getOrElse(id, Set.empty)}")
    }
    val dups = TableChecks.uniquenessViolations(df, Seq("clip_id")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    o.check(dups == exp.dupKeys, s"duplicate keys $dups, expected ${exp.dupKeys}")
    System.err.println(s"[perfbench] clips_suite: ${invalid.length} invalid of ${exp.n} " +
      s"(${exp.invalidRows} corrupted), duplicate keys $dups")
  }

  private def medianOf(reps: Int)(body: => Any): Double =
    Main.median((1 to reps).map(_ => Main.seconds(body)._2))

  private def suiteLayers(spark: SparkSession, path: String, tr: Tracer, exp: Expected,
                          untraced: Seq[Double], cores: Int, o: Outcome): Unit = {
    val ops = tr.named("op")
    def perOp(name: String): Double = tr.named(name).map(tr.selfSeconds).sum / ops.size
    val opSeconds = ops.map(_.seconds).sum / ops.size
    o.layer ++= Seq(
      "run.battery_s" -> perOp("run.battery"), "table.uniq_s" -> perOp("table.uniq"),
      "self.read_s" -> perOp("op.read"), "self.compile_s" -> perOp("compile.plan"),
      "self.battery_s" -> perOp("run.battery"), "self.uniq_s" -> perOp("table.uniq"),
      "self.other_s" -> perOp("op"),
      "trace.unaccounted_frac" -> perOp("op") / opSeconds,
      "trace.overhead_frac" -> (Main.median(ops.map(_.seconds)) / Main.median(untraced) - 1))
    Common.sparkLayer(tr, ops, cores, o)
    // floors measured beside the operation
    val df = spark.read.parquet(path)
    o.layer("run.scan_s") = medianOf(3)(df.agg(sum(length(col("bytes")))).collect())
    o.layer("audio.decode_s") = medianOf(3)(
      df.select(pcm_stats(col("bytes"), col("codec")).as("st"))
        .agg(sum(col("st.n_samples"))).collect())
    val schema = df.schema
    o.layer("compile.plan_ms") = 1e3 * medianOf(5)(AudioChecks.fullPlan(schema))
    o.layer("compile.checks") = AudioChecks.fullPlan(schema).checks.size.toDouble
    o.layer("audio.kernel_us_per_clip") = 1e6 / exp.sample.size * medianOf(5) {
      var acc = 0.0
      exp.sample.foreach { c =>
        Pcm.decode(c.codec, c.bytes).foreach { d =>
          if (c.sr_hz > 0 && c.dur_ms > 0) acc += Pcm.snrVsReference(c.clip_id, c.sr_hz, c.dur_ms, d)
        }
      }
      acc
    }
  }

  // ---------------------------------------------------------------- audit

  /** The audited write path: one operation is one `CheckpointedRun.run`
    * with a fresh run id over a fixture of `AuditUnits` files. */
  def audit(a: Args, tr: Tracer, o: Outcome): Unit = {
    val path = a.work.resolve("clips").toString
    writeFixture(a, path, AuditClips, AuditUnits)
    val exp = expected(AuditClips, a.seed, a.cores, sampleSize = 0)
    Main.phase("fixture written, expected outputs computed")
    val (spark, plan) = Common.setupReps(a, o)(compilePlan(_, path))
    tr.attach(spark)
    o.itemsPerOp = AuditClips
    val auditDir = a.work.resolve("audit")
    (1 to AuditWarmups).foreach(w => auditRun(spark, path, plan, auditDir, s"warm$w"))
    Main.phase("warmed up")
    val runIds = scala.collection.mutable.ArrayBuffer[String]()
    Common.rounds(a.seconds, minRounds = 3) { k =>
      val (_, dt) = Main.seconds(tr.span("op")(auditRun(spark, path, plan, auditDir, s"r$k")))
      o.opSeconds += dt
      o.attempted += 1
      runIds += s"r$k"
    }
    Main.phase("measured")
    checkAudit(spark, path, plan, auditDir, runIds.toSeq, exp, o)
    if (tr.enabled) auditLayers(spark, auditDir, runIds.toSeq, tr.named("op"), tr, a.cores, o)
  }

  private def auditRun(spark: SparkSession, path: String, plan: graft.run.ValidationPlan,
                       auditDir: Path, runId: String) =
    CheckpointedRun.run(spark, path, plan, auditDir.toString, runId, Seq("clip_id"))

  /** Output checks of audited runs, outside the timers: every run's totals,
    * the commit records and violation rows on disk of the last run, and a
    * second run of a completed run id, which must skip every unit. */
  private def checkAudit(spark: SparkSession, path: String, plan: graft.run.ValidationPlan,
                         auditDir: Path, runIds: Seq[String], exp: Expected, o: Outcome): Unit = {
    def log(id: String) = CheckpointedRun.auditLog(spark, auditDir.toString, id)
      .agg(sum("rows"), sum("invalid_rows"), sum("violations"), count(lit(1))).collect()(0)
    val logs = runIds.map(id => id -> log(id))
    val violations = logs.head._2.getLong(2)
    logs.foreach { case (id, r) =>
      o.check(r.getLong(0) == exp.n && r.getLong(1) == exp.invalidRows &&
        r.getLong(2) == violations && r.getLong(3) == AuditUnits,
        s"commit records of run $id sum to $r; expected ${exp.n} rows, ${exp.invalidRows} invalid, " +
          s"$violations violations, $AuditUnits units")
    }
    val last = runIds.last
    val onDisk = spark.read.parquet(auditDir.resolve(s"violations/$last/*").toString)
    val diskRows = onDisk.count()
    val diskIds = onDisk.select("clip_id").distinct().collect().map(_.getString(0)).toSet
    o.check(diskRows == violations, s"$diskRows violation rows on disk, commit records say $violations")
    o.check(diskIds == exp.corruptedIds,
      s"violation rows name ${diskIds.size} clips, the generator corrupted ${exp.corruptedIds.size}")
    val again = auditRun(spark, path, plan, auditDir, last)
    o.check(again.resumedUnits == AuditUnits && again.rows == exp.n &&
      again.invalidRows == exp.invalidRows && again.violations == violations,
      s"second run of $last: resumed ${again.resumedUnits}/$AuditUnits, totals " +
        s"${again.rows}/${again.invalidRows}/${again.violations}")
    System.err.println(s"[perfbench] audited runs: ${exp.invalidRows} invalid of ${exp.n}, " +
      s"$violations violation rows, $AuditUnits units")
  }

  private def auditLayers(spark: SparkSession, auditDir: Path, runIds: Seq[String], ops: Seq[Span],
                          tr: Tracer, cores: Int, o: Outcome): Unit = {
    val unitSeconds = runIds.flatMap { id =>
      CheckpointedRun.auditLog(spark, auditDir.toString, id).select("started_at", "finished_at")
        .collect().map(r => (r.getLong(1) - r.getLong(0)) / 1e3)
    }
    val bytes = runIds.map(id =>
      dirBytes(auditDir.resolve(s"violations/$id")) + dirBytes(auditDir.resolve(s"commits/$id")))
    Common.sparkLayer(tr, ops, cores, o)
    o.layer ++= Seq(
      "audit.unit_s_p50" -> Main.median(unitSeconds),
      "audit.jobs_per_unit" -> o.layer("spark.jobs") / AuditUnits,
      "audit.write_mb" -> bytes.sum / 1048576.0 / bytes.size)
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
}
