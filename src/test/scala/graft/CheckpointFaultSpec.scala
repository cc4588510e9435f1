package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark.jobsDuring
import graft.audit.CheckpointedRun
import graft.compile.Check
import graft.run.Validation

/** Crashes injected at each step of an audited batch. Every resume must
  * commit exactly the counts of a direct run, leave exactly its violation
  * rows on disk, and a second resume must skip every unit in 0 jobs. */
class CheckpointFaultSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val keys = Seq("o_orderkey")

  private def ordersTable(files: Int): String = {
    val d = Files.createTempDirectory("graft_table").toString
    spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .repartition(files).write.mode("overwrite").parquet(d)
    d
  }
  lazy val tableDir: String = ordersTable(4)
  lazy val df = spark.read.parquet(tableDir)
  lazy val plan = Validation.compile("""{
    "properties": {"o_totalprice": {"maximum": 200000}, "o_orderstatus": {"enum": ["F", "O"]}},
    "required": ["o_custkey"]}""", df.schema)
  lazy val expected = (df.count(), df.where(!plan.isValidCol).count(),
    plan.violations(df, keys).count())

  private def files(dir: Path): Seq[String] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.toArray.toSeq.map(_.asInstanceOf[Path].getFileName.toString) finally s.close()
    }

  /** The commit records of run `r`: the lines of its batch manifests. */
  private def unitRecords(audit: String): Seq[String] = {
    val commits = Paths.get(audit, "commits", "r")
    files(commits).filter(_.endsWith(".jsonl"))
      .flatMap(m => Files.readString(commits.resolve(m)).linesIterator)
  }

  /** A run that crashes: `step` runs at each commit step (it throws at the
    * step under test); `failAfterUnits`, `p` and `table` are passed to the
    * run. */
  private def crash(audit: String, step: String => Unit = _ => (),
                    failAfterUnits: Int = Int.MaxValue,
                    p: graft.run.ValidationPlan = plan, table: String = tableDir): Throwable = {
    CheckpointedRun.onCommitStep = step
    try intercept[Exception](CheckpointedRun.run(spark, table, p, audit, "r", keys, failAfterUnits))
    finally CheckpointedRun.onCommitStep = _ => ()
  }

  /** Resume, then check the commits and violation rows against a direct run. */
  private def resumeExactly(audit: String): Unit = {
    val (rows, invalid, violations) = expected
    val summary = CheckpointedRun.run(spark, tableDir, plan, audit, "r", keys)
    assert((summary.rows, summary.invalidRows, summary.violations) == expected)
    val log = CheckpointedRun.auditLog(spark, audit, "r")
      .agg(sum("rows"), sum("invalid_rows"), sum("violations"), count(lit(1))).collect()(0)
    assert((log.getLong(0), log.getLong(1), log.getLong(2), log.getLong(3)) ==
      ((rows, invalid, violations, 4L)))
    val onDisk = spark.read.parquet(s"$audit/violations/r/*")
    assert(onDisk.count() == violations)
    assert(onDisk.select("_graft_unit_id").distinct().count() ==
      summary.units.count(_.violations > 0))
    val (again, jobs) = jobsDuring(CheckpointedRun.run(spark, tableDir, plan, audit, "r", keys))
    assert(again.resumedUnits == 4 && jobs == 0, s"resumed ${again.resumedUnits} units in $jobs jobs")
    assert((again.rows, again.invalidRows, again.violations) == expected)
  }

  private def audit(): String = Files.createTempDirectory("graft_audit").toString

  test("crash before the job") {
    val a = audit()
    assert(crash(a, failAfterUnits = 0).getMessage.contains("injected failure"))
    assert(files(Paths.get(a, "violations", "r")).isEmpty && unitRecords(a).isEmpty)
    resumeExactly(a)
  }

  test("crash inside the job: a task throws after some rows are written") {
    val a = audit()
    // a check that throws in the task validating the last order; other
    // tasks write their violation rows first
    val last = df.agg(max("o_orderkey")).collect()(0).getLong(0)
    val boom = udf((k: Long) => if (k == last) throw new IllegalStateException("task crash") else true)
    val crashing = plan.copy(checks = plan.checks :+
      Check("x-crash", "/x-crash", "", 99, boom(col("o_orderkey")), lit("crash")))
    crash(a, p = crashing)
    assert(unitRecords(a).isEmpty)
    // a partial batch directory as a direct-write committer leaves it
    val partial = Paths.get(a, "violations", "r", "b0-partial")
    plan.violations(df, keys).withColumn("_graft_unit_id", lit("u0")).write.parquet(partial.toString)
    resumeExactly(a)
    assert(!Files.exists(partial))
  }

  test("crash after the manifest's temp file is written") {
    val a = audit()
    crash(a, s => if (s == "manifest-temp") throw new RuntimeException("crash"))
    assert(files(Paths.get(a, "commits", "r")).exists(_.endsWith(".jsonl.tmp")))
    assert(files(Paths.get(a, "violations", "r")).size == 1 && unitRecords(a).isEmpty)
    resumeExactly(a)
    assert(files(Paths.get(a, "commits", "r")).forall(_.endsWith(".jsonl")))
  }

  test("crash after the manifest rename") {
    val a = audit()
    crash(a, s => if (s == "manifest") throw new RuntimeException("crash"))
    assert(unitRecords(a).size == 4)
    // the published manifest commits the batch: the resume runs no job
    val (again, jobs) = jobsDuring(CheckpointedRun.run(spark, tableDir, plan, a, "r", keys))
    assert(jobs == 0 && again.resumedUnits == 4)
    resumeExactly(a)
  }

  test("a crash between batches loses only the batch in flight") {
    val n = CheckpointedRun.BatchUnits + 1
    val table = ordersTable(n)
    assert(CheckpointedRun.listUnits(table).size == n)
    val a = audit()
    crash(a, s => if (s == "manifest") throw new RuntimeException("crash"), table = table)
    assert(unitRecords(a).size == CheckpointedRun.BatchUnits)
    val summary = CheckpointedRun.run(spark, table, plan, a, "r", keys)
    assert(summary.resumedUnits == CheckpointedRun.BatchUnits)
    val t = spark.read.parquet(table)
    assert((summary.rows, summary.invalidRows, summary.violations) ==
      ((t.count(), t.where(!plan.isValidCol).count(), plan.violations(t, keys).count())))
    assert(spark.read.parquet(s"$a/violations/r/*").count() == summary.violations)
    assert(unitRecords(a).size == n)
  }
}
