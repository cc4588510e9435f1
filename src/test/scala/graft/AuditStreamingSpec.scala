package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark.jobsDuring
import graft.audit.CheckpointedRun
import graft.run.Validation

class AuditStreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private val orders = "/root/testdata/sf0.001/orders.parquet"

  /** The sf0.001 orders split into `files` parquet files (units). */
  private def ordersTable(files: Int, dir: String = tempDir("graft_table")): String = {
    spark.read.parquet(orders)
      .repartition(files).write.mode("overwrite").parquet(dir)
    dir
  }

  val ordersSpec = """{
    "properties": {"o_totalprice": {"maximum": 200000}},
    "required": ["o_custkey"]
  }"""

  test("checkpointed run: crash mid-run, resume completes without double counting") {
    // a table with several parquet files (units)
    val tableDir = ordersTable(4)
    val df = spark.read.parquet(tableDir)
    val plan = Validation.compile(ordersSpec, df.schema)
    val auditDir = java.nio.file.Files.createTempDirectory("graft_audit").toString

    // full-run ground truth
    val expectInvalid = df.where(!plan.isValidCol).count()
    val expectRows = df.count()

    // crash after 2 units
    val crash = intercept[RuntimeException] {
      CheckpointedRun.run(spark, tableDir, plan, auditDir, "run1",
        Seq("o_orderkey"), failAfterUnits = 2)
    }
    assert(crash.getMessage.contains("injected failure"))
    val committed = CheckpointedRun.auditLog(spark, auditDir, "run1")
    assert(committed.count() == 2)

    // resume: completes, skips the 2 committed units
    val summary = CheckpointedRun.run(spark, tableDir, plan, auditDir, "run1",
      Seq("o_orderkey"))
    assert(summary.resumedUnits == 2)
    assert(summary.rows == expectRows)
    assert(summary.invalidRows == expectInvalid)

    // audit log is the source of truth and matches
    val log = CheckpointedRun.auditLog(spark, auditDir, "run1")
    assert(log.agg(sum("rows")).collect()(0).getLong(0) == expectRows)
    assert(log.agg(sum("invalid_rows")).collect()(0).getLong(0) == expectInvalid)
    assert(log.select("plan_fingerprint").distinct().count() == 1)

    // violations materialized per batch, total matches a direct run
    val vio = spark.read.parquet(s"$auditDir/violations/run1/*")
    assert(vio.count() == plan.violations(df, Seq("o_orderkey")).count())
    assert(log.agg(sum("violations")).collect()(0).getLong(0) == vio.count())

    // idempotence: a third run skips everything
    val again = CheckpointedRun.run(spark, tableDir, plan, auditDir, "run1",
      Seq("o_orderkey"), failAfterUnits = 0)
    assert(again.resumedUnits == again.units.size)
    assert(again.rows == expectRows)

    // resume with a DIFFERENT plan under the same runId must fail loudly
    // (stale commits carry the old plan_fingerprint)
    val otherPlan = Validation.compile(
      """{"properties":{"o_orderkey":{"minimum":100}}}""", df.schema)
    val mismatch = intercept[IllegalStateException] {
      CheckpointedRun.run(spark, tableDir, otherPlan, auditDir, "run1",
        Seq("o_orderkey"), failAfterUnits = 0)
    }
    assert(mismatch.getMessage.contains("plan_fingerprint"))
  }

  test("checkpointed run: a zero-row unit commits zero metrics") {
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val tableDir = java.nio.file.Files.createTempDirectory("graft_table").toString
    orders.limit(0).write.mode("overwrite").parquet(tableDir)
    val emptyUnits = CheckpointedRun.listUnits(tableDir)
    assert(emptyUnits.size == 1)
    orders.write.mode("append").parquet(tableDir)
    val plan = Validation.compile(ordersSpec, orders.schema)
    val auditDir = java.nio.file.Files.createTempDirectory("graft_audit").toString
    val summary = CheckpointedRun.run(spark, tableDir, plan, auditDir, "run0",
      Seq("o_orderkey"))
    val empty = summary.units.find(_.unit == emptyUnits.head).get
    assert((empty.rows, empty.invalidRows, empty.violations) == ((0L, 0L, 0L)))
    assert(summary.rows == orders.count())
    assert(summary.invalidRows == orders.where(!plan.isValidCol).count())
  }

  test("checkpointed run: jobs per batch are a constant, not a number per unit") {
    def jobsFor(files: Int): Int = {
      val tableDir = ordersTable(files)
      val plan = Validation.compile(ordersSpec, spark.read.parquet(tableDir).schema)
      val auditDir = tempDir("graft_audit")
      val (summary, jobs) = jobsDuring(CheckpointedRun.run(spark, tableDir, plan, auditDir,
        "r", Seq("o_orderkey")))
      assert(summary.units.size == files && summary.resumedUnits == 0)
      val (again, none) = jobsDuring(CheckpointedRun.run(spark, tableDir, plan, auditDir,
        "r", Seq("o_orderkey")))
      assert(again.resumedUnits == files && none == 0, s"a completed run resumed with $none jobs")
      jobs
    }
    val (four, sixteen) = (jobsFor(4), jobsFor(16))
    assert(four == sixteen, s"$four jobs for 4 units, $sixteen for 16")
    assert(four <= 2, s"$four jobs for one batch")
  }

  test("plan fingerprint: a changed bound is a new plan; two compiles agree") {
    val schema = spark.read.parquet(orders).schema
    val plan = Validation.compile(ordersSpec, schema)
    val tighter = Validation.compile(ordersSpec.replace("200000", "100000"), schema)
    assert(CheckpointedRun.planFingerprint(plan) != CheckpointedRun.planFingerprint(tighter))
    // two compiles, the second in a fresh session, fingerprint alike; the
    // map spec compiles to lambdas, whose variable names are fresh per compile
    val mapSchema = org.apache.spark.sql.types.StructType.fromDDL("m map<string,int>, a array<double>")
    val mapSpec = """{"properties": {
      "m": {"patternProperties": {"^x": {"maximum": 3}}, "additionalProperties": {"minimum": 0},
            "propertyNames": {"maxLength": 4}},
      "a": {"items": {"minimum": -1}, "contains": {"minimum": 0.5}}}}"""
    def twice(spec: String, s: org.apache.spark.sql.types.StructType) = {
      val first = CheckpointedRun.planFingerprint(Validation.compile(spec, s))
      val fresh = spark.newSession()
      org.apache.spark.sql.SparkSession.setActiveSession(fresh)
      try (first, CheckpointedRun.planFingerprint(Validation.compile(spec, s)))
      finally org.apache.spark.sql.SparkSession.setActiveSession(spark)
    }
    Seq(ordersSpec -> schema, mapSpec -> mapSchema).foreach { case (spec, s) =>
      val (a, b) = twice(spec, s)
      assert(a == b, s"fingerprints $a / $b for one spec")
    }
    assert(twice(mapSpec, mapSchema)._1 !=
      twice(mapSpec.replace("\"minimum\": -1", "\"minimum\": -2"), mapSchema)._1,
      "an items bound inside a custom element predicate must change the fingerprint")

    // resuming a run id with the tightened plan fails loudly instead of
    // reusing the commits the old bound made
    val tableDir = ordersTable(2)
    val auditDir = tempDir("graft_audit")
    CheckpointedRun.run(spark, tableDir, plan, auditDir, "r", Seq("o_orderkey"))
    val violations = spark.read.parquet(s"$auditDir/violations/r/*").count()
    val stale = intercept[IllegalStateException] {
      CheckpointedRun.run(spark, tableDir, tighter, auditDir, "r", Seq("o_orderkey"))
    }
    assert(stale.getMessage.contains("plan_fingerprint"))
    assert(spark.read.parquet(s"$auditDir/violations/r/*").count() == violations)

    // so does a run id holding per-unit `<unitId>.json` records, the
    // layout before batch manifests
    val earlier = java.nio.file.Paths.get(tempDir("graft_audit"))
    java.nio.file.Files.createDirectories(earlier.resolve("commits/r"))
    java.nio.file.Files.writeString(earlier.resolve("commits/r/u0.json"), "{}")
    val layout = intercept[IllegalStateException] {
      CheckpointedRun.run(spark, tableDir, plan, earlier.toString, "r", Seq("o_orderkey"))
    }
    assert(layout.getMessage.contains("earlier layout"))
  }

  test("checkpointed run: units under a path with a space, % and + commit their own counts") {
    val root = tempDir("graft_paths")
    val tableDir = ordersTable(3, s"""$root/sp ace/t%1+x"q""")
    val plan = Validation.compile(ordersSpec, spark.read.parquet(tableDir).schema)
    val auditDir = tempDir("graft_audit")
    val summary = CheckpointedRun.run(spark, tableDir, plan, auditDir, "r", Seq("o_orderkey"))
    assert(summary.units.size == 3)
    summary.units.foreach { u =>
      val file = spark.read.parquet(u.unit)
      val expect = (file.count(), file.where(!plan.isValidCol).count(),
        plan.violations(file, Seq("o_orderkey")).count())
      assert(expect._1 > 0)
      assert((u.rows, u.invalidRows, u.violations) == expect, s"unit ${u.unit}")
    }
    assert(summary.invalidRows > 0)
    // the commit records hold the paths escaped: they read back as JSON
    // and a second run resumes every unit
    val again = CheckpointedRun.run(spark, tableDir, plan, auditDir, "r", Seq("o_orderkey"))
    assert(again.resumedUnits == 3)
    assert(again.units.map(u => (u.rows, u.invalidRows, u.violations)) ==
      summary.units.map(u => (u.rows, u.invalidRows, u.violations)))
    val log = CheckpointedRun.auditLog(spark, auditDir, "r")
    assert(!log.columns.contains("_corrupt_record"), log.columns.mkString(", "))
    assert(log.count() == 3)
    assert(log.select("unit").collect().map(_.getString(0)).toSet == summary.units.map(_.unit).toSet)
  }

  test("checkpointed run: a table's own unit_id column is checked and kept as a key") {
    val tableDir = tempDir("graft_table")
    spark.read.parquet(orders).withColumn("unit_id", col("o_orderkey") % 7)
      .repartition(3).write.mode("overwrite").parquet(tableDir)
    val df = spark.read.parquet(tableDir)
    val plan = Validation.compile(
      """{"properties": {"unit_id": {"maximum": 4}, "o_totalprice": {"maximum": 200000}}}""",
      df.schema)
    val keys = Seq("o_orderkey", "unit_id")
    val auditDir = tempDir("graft_audit")
    val summary = CheckpointedRun.run(spark, tableDir, plan, auditDir, "r", keys)
    val direct = plan.violations(df, keys)
    assert((summary.rows, summary.invalidRows, summary.violations) ==
      ((df.count(), df.where(!plan.isValidCol).count(), direct.count())))
    assert(df.where(col("unit_id") > 4).count() > 0)
    // the violation rows on disk carry the table's unit_id values
    val onDisk = spark.read.parquet(s"$auditDir/violations/r/*")
      .select(direct.columns.map(col).toSeq: _*)
    assert(onDisk.exceptAll(direct).isEmpty && direct.exceptAll(onDisk).isEmpty)

    // the run's own tag columns are reserved: rejected before anything is written
    val tagged = tempDir("graft_table")
    spark.read.parquet(orders).withColumn("_graft_unit", lit(1)).write.mode("overwrite").parquet(tagged)
    val taggedAudit = tempDir("graft_audit")
    val e = intercept[IllegalArgumentException] {
      CheckpointedRun.run(spark, tagged, plan, taggedAudit, "r", Seq("o_orderkey"))
    }
    assert(e.getMessage.contains("_graft_unit"))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(taggedAudit, "violations")))
  }
}
