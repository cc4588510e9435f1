package graft.audit

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.run.ValidationPlan

/** Resumable, per-unit checkpointed validation runs (north rule:
  * "resumable from per-partition checkpoints with lineage + metrics
  * committed atomically to an audit table").
  *
  * The unit of work is one input parquet file — a stable identity across
  * runs (unlike `spark_partition_id`). Per unit we write: the violation
  * rows (overwrite-idempotent directory) and a commit record (JSON,
  * written to a temp file and atomically renamed). A re-run of the same
  * (runId, table, plan) skips committed units, so a crash mid-run resumes
  * where it stopped and never double-counts. This emulates an Iceberg
  * audit-table commit protocol with filesystem primitives (the sandbox has
  * no Iceberg catalog); the commit record carries lineage (input file,
  * plan fingerprint, engine version) + metrics.
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

  /** Stable, collision-resistant id for a unit: SHA-256 of the input file
    * path. A 32-bit String.hashCode would see birthday collisions well
    * below the north-rule's tens of thousands of parquet files — two units
    * sharing an id means one unit's commit silently skips the other. */
  private def unitId(file: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(file.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    "u" + d.take(16).map(b => f"$b%02x").mkString
  }

  def planFingerprint(plan: ValidationPlan): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256").digest(
      plan.checks.map(c => c.keyword + "\u0000" + c.schemaPath + "\u0000" + c.instancePath)
        .mkString("|").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    d.take(16).map(b => f"$b%02x").mkString
  }

  /** List the table's parquet files (the work units). */
  def listUnits(tablePath: String): Seq[String] = {
    val dir = Paths.get(tablePath)
    if (Files.isDirectory(dir)) {
      val s = Files.list(dir)
      try s.iterator().asScala
        .map(_.toString).filter(_.endsWith(".parquet")).toSeq.sorted
      finally s.close()
    } else Seq(tablePath)
  }
  private implicit class IterOps[A](it: java.util.Iterator[A]) {
    def asScala: Iterator[A] = new Iterator[A] {
      def hasNext = it.hasNext; def next() = it.next()
    }
  }

  private def commitPath(auditDir: String, runId: String, unit: String): Path =
    Paths.get(auditDir, "commits", runId, s"${unitId(unit)}.json")

  private def isCommitted(auditDir: String, runId: String, unit: String): Boolean =
    Files.exists(commitPath(auditDir, runId, unit))

  /** Validate one table with per-unit commit/resume. `failAfterUnits` is a
    * test hook simulating a crash. */
  def run(spark: SparkSession, tablePath: String, plan: ValidationPlan,
          auditDir: String, runId: String, keyCols: Seq[String],
          failAfterUnits: Int = Int.MaxValue): RunSummary = {
    Files.createDirectories(Paths.get(auditDir, "commits", runId))
    val fp = planFingerprint(plan)
    var processed = 0
    val results = listUnits(tablePath).map { unit =>
      if (isCommitted(auditDir, runId, unit)) {
        val p = commitPath(auditDir, runId, unit)
        val rec = ujsonRead(p)
        // a commit is only trusted if it was made by the SAME plan over the
        // SAME unit — resuming a runId with a different plan/table must fail
        // loudly, not silently reuse stale commits
        val recFp = strField(p, "plan_fingerprint")
        val recUnit = strField(p, "unit")
        if (recFp != fp)
          throw new IllegalStateException(
            s"resume mismatch for $unit: commit has plan_fingerprint=$recFp, current plan is $fp " +
              s"(use a new runId to re-validate with a different plan)")
        if (recUnit != unit.replace("\\", "/"))
          throw new IllegalStateException(
            s"resume mismatch: commit ${p.getFileName} records unit '$recUnit' but was matched to '$unit'")
        UnitResult(unit, rec("rows"), rec("invalid_rows"), rec("violations"), skipped = true)
      } else {
        if (processed >= failAfterUnits)
          throw new RuntimeException(s"injected failure before unit $unit")
        processed += 1
        val started = System.currentTimeMillis()
        val df = spark.read.parquet(unit)
        // violations for this unit: idempotent overwrite of the unit's dir.
        // The metrics are observed on the staged (keys, violations) frame
        // of that same write, so the battery runs once per row and the
        // unit costs one query. `sum` over a zero-row unit is NULL.
        val vioDir = s"$auditDir/violations/$runId/${unitId(unit)}"
        val metrics = Observation()
        val nVio = size(col("violations"))
        val staged = plan.stagedViolations(df, keyCols).observe(metrics,
          count(lit(1)).as("rows"),
          coalesce(sum(when(nVio > 0, 1L).otherwise(0L)), lit(0L)).as("invalid"),
          coalesce(sum(nVio), lit(0L)).as("violations"))
        plan.explodeStaged(staged, keyCols).write.mode("overwrite").parquet(vioDir)
        val m = metrics.get
        val rows = m("rows").asInstanceOf[Long]
        val inv = m("invalid").asInstanceOf[Long]
        val vio = m("violations").asInstanceOf[Long]
        // atomic commit: temp file + rename
        // single line: the audit log is read as JSON-lines
        val rec =
          s"""{"run_id":"$runId","unit":"${unit.replace("\\", "/")}","unit_id":"${unitId(unit)}","plan_fingerprint":"$fp","engine":"graft-0.1.0","rows":$rows,"invalid_rows":$inv,"violations":$vio,"started_at":$started,"finished_at":${System.currentTimeMillis()}}"""
        val tmp = Files.createTempFile(Paths.get(auditDir), "commit", ".tmp")
        Files.writeString(tmp, rec)
        Files.move(tmp, commitPath(auditDir, runId, unit),
          StandardCopyOption.ATOMIC_MOVE)
        UnitResult(unit, rows, inv, vio, skipped = false)
      }
    }
    RunSummary(runId, results)
  }

  /** Read the audit log of a run as a DataFrame (the audit-table view). */
  def auditLog(spark: SparkSession, auditDir: String, runId: String): DataFrame =
    spark.read.json(s"$auditDir/commits/$runId/*.json")

  private def ujsonRead(p: Path): Map[String, Long] = {
    // minimal extraction of the numeric fields we need
    val text = Files.readString(p)
    def num(field: String): Long = {
      val m = java.util.regex.Pattern.compile("\"" + field + "\":(\\d+)").matcher(text)
      if (m.find()) m.group(1).toLong else 0L
    }
    Map("rows" -> num("rows"), "invalid_rows" -> num("invalid_rows"),
      "violations" -> num("violations"))
  }

  private def strField(p: Path, field: String): String = {
    val text = Files.readString(p)
    val m = java.util.regex.Pattern.compile("\"" + field + "\":\"([^\"]*)\"").matcher(text)
    if (m.find()) m.group(1) else ""
  }
}
