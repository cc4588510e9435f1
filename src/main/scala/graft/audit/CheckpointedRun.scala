package graft.audit

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnBridge
import graft.functions.UnitTally.unit_tally
import graft.run.ValidationPlan
import graft.spec.{JNum, JObj, JStr, JsonValue}

/** Resumable, per-unit checkpointed validation runs (north rule:
  * "resumable from per-partition checkpoints with lineage + metrics
  * committed atomically to an audit table").
  *
  * The unit of work is one input parquet file — a stable identity across
  * runs (unlike `spark_partition_id`). A run validates its pending units
  * in batches of at most `BatchUnits`, one after another, each in one
  * Spark job:
  *  - one scan of the batch's files, each row tagged with its unit from
  *    `_metadata.file_path`;
  *  - the battery evaluated once per row; per-unit rows, invalid rows and
  *    violations observed on that same pass through one `unit_tally`
  *    aggregate;
  *  - the violation rows (keys plus `_graft_unit_id`) written, not
  *    partitioned, to `violations/<runId>/<batchId>/`.
  *
  * A batch commits by one atomic rename of its manifest
  * `commits/<runId>/<batchId>.jsonl`, one commit record per unit; the
  * manifests are the audit log. A run starts by reading every manifest
  * and, once every record matched the plan, by deleting every batch
  * directory that has no manifest, so a crash at any point resumes to
  * exact counts: units already committed are skipped, the rest run again,
  * and a crash loses at most one batch.
  *
  * This emulates an Iceberg audit-table commit protocol with filesystem
  * primitives (no Iceberg catalog is assumed); the commit record
  * carries lineage (input file, plan fingerprint, engine version) and
  * metrics. `started_at` / `finished_at` are the batch's times.
  */
object CheckpointedRun {

  final case class UnitResult(unit: String, rows: Long, invalidRows: Long,
                              violations: Long, skipped: Boolean)
  final case class RunSummary(runId: String, units: Seq[UnitResult]) {
    def rows: Long = units.map(_.rows).sum
    def invalidRows: Long = units.map(_.invalidRows).sum
    def violations: Long = units.map(_.violations).sum
    def resumedUnits: Int = units.count(_.skipped)
  }

  /** Units per batch: bounds the work a crash loses and the per-unit
    * buffer of `unit_tally`. */
  private[graft] val BatchUnits = 256

  /** The columns a batch adds to the scan: the row's unit index and unit
    * id. A table or key list that uses these names is rejected. */
  private val UnitCol = "_graft_unit"
  private val UnitIdCol = "_graft_unit_id"

  private def digest(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .take(16).map(b => f"$b%02x").mkString

  /** Stable, collision-resistant id for a unit: SHA-256 of the input file
    * path. A 32-bit String.hashCode would see birthday collisions well
    * below the north-rule's tens of thousands of parquet files — two units
    * sharing an id means one unit's commit silently skips the other. */
  private def unitId(file: String): String = "u" + digest(file)

  /** Hash of every check: its location and the full rendering of its
    * predicate and message, so a plan that changes only a bound or an
    * enum gets a new fingerprint. */
  def planFingerprint(plan: ValidationPlan): String =
    digest(plan.checks.map(c => Seq(c.keyword, c.schemaPath, c.instancePath,
      ColumnBridge.render(c.predicate), ColumnBridge.render(c.message)).mkString("\u0000"))
      .mkString("|"))

  /** List the table's parquet files (the work units). */
  def listUnits(tablePath: String): Seq[String] = {
    val dir = Paths.get(tablePath)
    if (Files.isDirectory(dir)) list(dir).filter(_.endsWith(".parquet")).map(dir.resolve(_).toString)
    else Seq(tablePath)
  }

  /** Sorted file names in `dir`; none if it does not exist. */
  private def list(dir: Path): Seq[String] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try {
        val names = Seq.newBuilder[String]
        s.forEach(p => names += p.getFileName.toString)
        names.result().sorted
      } finally s.close()
    }

  /** Test seam: called with "manifest-temp" once a manifest's temp file is
    * written and "manifest" once it is renamed; a spec throws from it to
    * crash the run there. */
  @volatile private[graft] var onCommitStep: String => Unit = _ => ()

  /** Validate one table with per-unit commit/resume. `failAfterUnits` is a
    * test hook simulating a crash: at most that many pending units are
    * validated and committed, then the run throws. */
  def run(spark: SparkSession, tablePath: String, plan: ValidationPlan,
          auditDir: String, runId: String, keyCols: Seq[String],
          failAfterUnits: Int = Int.MaxValue): RunSummary = {
    val commits = Paths.get(auditDir, "commits", runId)
    Files.createDirectories(commits)
    val listed = list(commits)
    if (listed.exists(_.endsWith(".json")))
      throw new IllegalStateException(s"run $runId holds per-unit commit records of an " +
        "earlier layout (use a new runId to re-validate)")
    val manifests = listed.filter(_.endsWith(".jsonl"))
    val records = manifests.iterator
      .flatMap(m => Files.readString(commits.resolve(m)).linesIterator).map(record)
      .map(f => f("unit_id") -> f).toMap
    val fp = planFingerprint(plan)
    val units = listUnits(tablePath)
    val resumed = units.flatMap(u => records.get(unitId(u)).map(f => u -> resume(u, f, fp))).toMap
    // only once every commit matched this plan: a mismatch leaves the
    // directory as it was
    dropUncommitted(commits, listed, manifests.toSet, Paths.get(auditDir, "violations", runId))
    val pending = units.filterNot(resumed.contains)
    val todo = pending.take(failAfterUnits)
    val done = todo.grouped(BatchUnits)
      .flatMap(runBatch(spark, plan, fp, auditDir, runId, keyCols, _)).toMap
    if (todo.size < pending.size)
      throw new RuntimeException(s"injected failure before unit ${pending(todo.size)}")
    RunSummary(runId, units.map(u => resumed.getOrElse(u, done(u))))
  }

  /** Delete what batches that never committed left: violation directories
    * without a manifest and temp files. Their units run again. */
  private def dropUncommitted(commits: Path, listed: Seq[String], manifests: Set[String],
                              violations: Path): Unit = {
    listed.filter(_.endsWith(".tmp")).foreach(t => Files.delete(commits.resolve(t)))
    list(violations).filterNot(b => manifests(s"$b.jsonl"))
      .foreach(b => deleteTree(violations.resolve(b)))
  }

  /** A committed unit's metrics. A commit is only trusted if it was made by
    * the SAME plan over the SAME unit: resuming a runId with a different
    * plan or table must fail loudly, not silently reuse stale commits. */
  private def resume(unit: String, f: Map[String, String], fp: String): UnitResult = {
    if (f("plan_fingerprint") != fp)
      throw new IllegalStateException(
        s"resume mismatch for $unit: commit has plan_fingerprint=${f("plan_fingerprint")}, " +
          s"current plan is $fp (use a new runId to re-validate with a different plan)")
    if (f("unit") != unit)
      throw new IllegalStateException(
        s"resume mismatch: commit ${f("unit_id")} records unit '${f("unit")}' but was matched to '$unit'")
    UnitResult(unit, f("rows").toLong, f("invalid_rows").toLong, f("violations").toLong,
      skipped = true)
  }

  /** Validate `batch` in one Spark job, then commit it by its manifest. */
  private def runBatch(spark: SparkSession, plan: ValidationPlan, fp: String, auditDir: String,
                       runId: String, keyCols: Seq[String],
                       batch: Seq[String]): Map[String, UnitResult] = {
    val started = System.currentTimeMillis()
    val batchId = s"b$started-${java.util.UUID.randomUUID().toString.take(8)}"
    val table = spark.read.parquet(batch: _*)
    val clash = (table.columns ++ keyCols).filter(c =>
      Seq(UnitCol, UnitIdCol).exists(_.equalsIgnoreCase(c)))
    require(clash.isEmpty, s"column names reserved by the audited run: ${clash.distinct.mkString(", ")}")
    // rows are tagged with their unit's index by a driver-built map from
    // Spark's file path; a broadcast join with a local table of the units
    // would cost a job of its own to collect that table
    val conf = spark.sparkContext.hadoopConfiguration
    val index = batch.zipWithIndex.map { case (u, i) => sparkPath(u, conf) -> i }.toMap
    val unitOf = udf((path: String) => index(path))
    val scan = table
      .withColumn(UnitCol, unitOf(col("_metadata.file_path")))
      .withColumn(UnitIdCol, element_at(typedlit(batch.map(unitId)), col(UnitCol) + 1))
    // the metrics are observed on the staged (keys, violations) frame of
    // the write itself, so the battery runs once per row
    val tally = Observation()
    val staged = plan.stagedViolations(scan, keyCols ++ Seq(UnitIdCol, UnitCol))
      .observe(tally, unit_tally(col(UnitCol), size(col("violations")), batch.size).as("t"))
    plan.explodeStaged(staged, keyCols :+ UnitIdCol)
      .write.parquet(Paths.get(auditDir, "violations", runId, batchId).toString)
    val t = tally.get("t").asInstanceOf[scala.collection.Seq[Long]]
    val finished = System.currentTimeMillis()
    val results = batch.zipWithIndex.map { case (u, i) =>
      UnitResult(u, t(3 * i), t(3 * i + 1), t(3 * i + 2), skipped = false)
    }
    // single-line records: the audit log is read as JSON-lines
    def num(v: Long) = JNum(BigDecimal(v))
    val records = results.map(r => JsonValue.render(JObj(Vector(
      "run_id" -> JStr(runId), "unit" -> JStr(r.unit), "unit_id" -> JStr(unitId(r.unit)),
      "plan_fingerprint" -> JStr(fp), "engine" -> JStr("graft-0.1.0"), "rows" -> num(r.rows),
      "invalid_rows" -> num(r.invalidRows), "violations" -> num(r.violations),
      "started_at" -> num(started), "finished_at" -> num(finished)))))
    publish(Paths.get(auditDir, "commits", runId, s"$batchId.jsonl"), records.mkString("\n"),
      onCommitStep("manifest-temp"))
    onCommitStep("manifest")
    results.map(r => r.unit -> r).toMap
  }

  /** A unit's path as Spark renders `_metadata.file_path`: qualified, then
    * URI-encoded (`/a b/t%1/f` reads `file:/a%20b/t%251/f`). */
  private def sparkPath(unit: String, conf: org.apache.hadoop.conf.Configuration): String = {
    val p = new HadoopPath(unit)
    new HadoopPath(p.getFileSystem(conf).makeQualified(p).toString).toUri.toString
  }

  /** Atomic publish: `text` written to `<target>.tmp`, then renamed over. */
  private def publish(target: Path, text: String, beforeRename: => Unit = ()): Unit = {
    val tmp = target.resolveSibling(s"${target.getFileName}.tmp")
    Files.writeString(tmp, text)
    beforeRename
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
  }

  private def deleteTree(root: Path): Unit = {
    val s = Files.walk(root)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
    finally s.close()
  }

  /** Read the audit log of a run, the lines of its batch manifests, as a
    * DataFrame (the audit-table view). The directory plus a file filter,
    * not a `*.jsonl` glob: Spark logs a stack trace for every glob path it
    * reads. */
  def auditLog(spark: SparkSession, auditDir: String, runId: String): DataFrame =
    spark.read.option("pathGlobFilter", "*.jsonl").json(s"$auditDir/commits/$runId")

  /** The fields of a one-line commit record: strings as their text,
    * numbers rendered. */
  private def record(line: String): Map[String, String] = JsonValue.parse(line) match {
    case JObj(fs) => fs.map {
      case (k, JStr(s)) => k -> s
      case (k, v)       => k -> JsonValue.render(v)
    }.toMap
    case _ => throw new IllegalStateException(s"commit record is not a JSON object: $line")
  }
}
