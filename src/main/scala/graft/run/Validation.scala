package graft.run

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.compile.{Check, CompileOptions, SpecCompiler}
import graft.spec.Spec

/** A compiled, reusable validation plan — the analog of the reference's
  * `Validator` (compiled once, `Send+Sync`, reused across calls;
  * `/root/reference/crates/jsonschema/src/validator.rs:475-513`). The
  * plan is pure `Column` expressions, so Spark serializes it to executors
  * with the physical plan; nothing is interpreted per row outside codegen.
  *
  * The five evaluation modes map to the reference's API verbs:
  *  - `isValid`      ← `Validator::is_valid`   (validator.rs:500-503)
  *  - `firstError`   ← `Validator::validate`   (fail-fast, validator.rs:482)
  *  - `violations`   ← `Validator::iter_errors` (validator.rs:490-494)
  *  - `outputV1`     ← `Validator::evaluate` (flag/list/hierarchical, evaluation.rs:212-560)
  *  - `verdicts`     ← `evaluate().flag()` per partition (evaluation.rs:245)
  */
final case class ValidationPlan(checks: Vector[Check],
                                annotations: Vector[graft.compile.Annot] = Vector.empty) {

  /** Per-annotation active condition: the keyword's own applicability gate
    * AND the enclosing schema object's checks all passing — annotations
    * flow only from VALID subschemas (`evaluation.rs:461-494`). */
  private def annotationActive: Vector[(graft.compile.Annot, Column)] = {
    def parent(p: String) = { val i = p.lastIndexOf('/'); if (i <= 0) "" else p.substring(0, i) }
    // checks indexed by parent path once — O(checks + annotations) at
    // compile time instead of O(checks x annotations) (VERDICT_r02 #5)
    lazy val byParent = checks.groupBy(ch => parent(ch.schemaPath))
    annotations.map { a =>
      val siblings = byParent.getOrElse(parent(a.schemaPath), Vector.empty)
      a -> siblings.map(_.predicate).foldLeft(a.gate)(_ && _)
    }
  }

  /** Active annotations as an array<struct> column (iter_annotations). */
  def annotationsCol: Column = {
    val none = typedlit(Seq.empty[AnnotationRow])
    if (annotations.isEmpty) none
    else concat(annotationActive.map { case (a, active) =>
      when(active, array(struct(
        lit(a.keyword).as("keyword"),
        lit(a.schemaPath).as("schema_path"),
        lit(a.instancePath).as("instance_path"),
        lit(a.valueJson).as("value")))).otherwise(none)
    }: _*)
  }

  /** Annotation rows per input row — `Validator::iter_annotations`.
    * Staged and exploded like `violations()`. */
  def iterAnnotations(df: DataFrame, keyCols: Seq[String]): DataFrame =
    explodeStaged(pinned(df, keyCols, "annotations", annotationsCol), keyCols)

  /** JSON-Schema Output v1 document column (flag/list/hierarchical),
    * shaped to validate against the official output schema
    * (`tests/output_spec_schema.json`): outputUnit = {valid,
    * evaluationPath, schemaLocation, instanceLocation, errors?,
    * annotations?}. Render with to_json (null fields are omitted). */
  def outputV1(format: String): Column = {
    val noMap = lit(null).cast(MapType(StringType, StringType))
    def checkUnit(ch: Check): Column = struct(
      ch.predicate.as("valid"),
      lit(ch.schemaPath).as("evaluationPath"),
      lit(ch.schemaPath).as("schemaLocation"),
      lit(ch.instancePath).as("instanceLocation"),
      when(!ch.predicate, map(lit(ch.keyword), ch.message)).otherwise(noMap).as("errors"),
      noMap.as("annotations"))
    def annUnit(a: graft.compile.Annot): Column = struct(
      lit(true).as("valid"),
      lit(a.schemaPath).as("evaluationPath"),
      lit(a.schemaPath).as("schemaLocation"),
      lit(a.instancePath).as("instanceLocation"),
      noMap.as("errors"),
      map(lit(a.keyword), lit(a.valueJson)).as("annotations"))
    // unit type derived from an annotation-shaped struct so an
    // annotation-only plan (zero checks) still renders
    lazy val unitType = graft.functions.exprs.toExpr(
      annUnit(graft.compile.Annot("k", "", "", "null", lit(true)))).dataType
    def details: Column = {
      val base =
        if (checks.isEmpty) Vector.empty
        else Vector(array(checks.map(checkUnit): _*))
      val anns = annotationActive.map { case (a, active) =>
        when(active, array(annUnit(a))).otherwise(array().cast(ArrayType(unitType)))
      }
      val parts = base ++ anns
      if (parts.isEmpty) typedlit(Seq.empty[String]).cast(ArrayType(StringType)) // degenerate
      else concat(parts: _*)
    }
    format match {
      case "flag" => struct(isValidCol.as("valid"))
      case "list" => struct(isValidCol.as("valid"), details.as("details"))
      case "hierarchical" => struct(
        isValidCol.as("valid"),
        lit("").as("evaluationPath"),
        lit("").as("schemaLocation"),
        lit("").as("instanceLocation"),
        details.as("details"))
      case other => throw new IllegalArgumentException(s"unknown output format: $other")
    }
  }

  /** Null-safe conjunction of all checks, cheap-first (the reference's
    * keyword-priority ordering, `keywords/mod.rs:180-259`) so codegen's
    * `&&` short-circuits on the cheap checks. */
  def isValidCol: Column =
    if (checks.isEmpty) lit(true) else checks.map(_.predicate).reduce(_ && _)

  /** All failed checks as an array<struct> column. The whole array build
    * is guarded by the row verdict: valid rows (the hot path) evaluate the
    * cheap-first predicate conjunction ONCE and short-circuit to an empty
    * array; only invalid rows pay for per-check structs + messages (the
    * reference's LazyLocation idea, `paths.rs` — errors are cold).
    *
    * Built as concat(per-check conditional singletons), NOT
    * filter(array(...)): `filter` is a higher-order function with no
    * codegen, and ONE non-codegen expression evicts the whole Project
    * from WholeStageCodegen — every predicate (including the audio
    * decode) then re-evaluates interpreted, measured 6x per row on the
    * clips suite. Concat stays fused and subexpression elimination
    * evaluates each predicate once. */
  def violationsCol: Column = {
    if (checks.isEmpty) typedlit(Seq.empty[ViolationRow])
    else {
      val none = typedlit(Seq.empty[ViolationRow])
      val entries = checks.map { ch =>
        when(!ch.predicate,
          array(struct(
            lit(ch.keyword).as("keyword"),
            lit(ch.schemaPath).as("schema_path"),
            lit(ch.instancePath).as("instance_path"),
            ch.message.as("message")))
        ).otherwise(none)
      }
      when(isValidCol, none)
        .otherwise(concat(entries: _*))
    }
  }

  /** First failing check (fail-fast `validate`): struct or null. */
  def firstErrorCol: Column = {
    if (checks.isEmpty) lit(null)
    else
      checks.foldRight(lit(null).cast(violationStructType)) { (ch, acc) =>
        when(!ch.predicate,
          struct(
            lit(ch.keyword).as("keyword"),
            lit(ch.schemaPath).as("schema_path"),
            lit(ch.instancePath).as("instance_path"),
            ch.message.as("message"))
        ).otherwise(acc)
      }
  }

  private def violationStructType: DataType = StructType(Seq(
    StructField("keyword", StringType),
    StructField("schema_path", StringType),
    StructField("instance_path", StringType),
    StructField("message", StringType)))

  /** df + `valid` boolean column. */
  def withValid(df: DataFrame): DataFrame = df.withColumn("valid", isValidCol)

  /** df + `valid` + `violations` columns (evaluate-list analog). `valid`
    * derives from the violations array so the check predicates are
    * evaluated exactly once per row (CollapseProject does not re-inline
    * the non-cheap violations expression into `valid` — verified against
    * the generated code in r06). */
  def withValidation(df: DataFrame): DataFrame =
    df.withColumn("violations", violationsCol)
      .withColumn("valid", size(col("violations")) === 0)

  /** Whole-table boolean verdict. Distributed short-circuit: only scans
    * until the first invalid row per partition (take(1) under limit). */
  def isValid(df: DataFrame): Boolean = df.where(!isValidCol).isEmpty

  /** Violation rows: one output row per failed check, carrying the given
    * key columns — our primary output per the north rule. */
  def violations(df: DataFrame, keyCols: Seq[String]): DataFrame =
    explodeStaged(stagedViolations(df, keyCols), keyCols)

  /** The `(keys, violations)` projection that `violations()` explodes.
    * `CheckpointedRun` observes its unit metrics on this frame, so the
    * write and the metrics share one evaluation of the battery. */
  private[graft] def stagedViolations(df: DataFrame, keyCols: Seq[String]): DataFrame =
    pinned(df, keyCols, "violations", violationsCol)

  /** `keyCols` plus one array column, pinned to this projection by an
    * OnceBarrier. No pre-filter on the array's size: `explode` already
    * drops empty arrays, and both an explicit `.where(size > 0)` AND the
    * optimizer's InferFiltersFromGenerate get pushed BELOW the projection
    * with the whole array expression inlined into the filter condition —
    * every row then evaluates the full check battery (regexes, messages)
    * TWICE (guide §4.4's duplication, verified in the r06 plan dumps). The
    * barrier keeps the inferred filter above the projection, on the
    * attribute. */
  private def pinned(df: DataFrame, keyCols: Seq[String], name: String,
                     arr: Column): DataFrame =
    df.select(keyCols.map(col) :+ graft.functions.OnceBarrier.once(arr).as(name): _*)

  /** One row per element of `staged`'s array column (its last column),
    * the element's struct fields flattened next to the keys. */
  private[graft] def explodeStaged(staged: DataFrame, keyCols: Seq[String]): DataFrame =
    staged.select(keyCols.map(col) :+ explode(col(staged.columns.last)).as("_e"): _*)
      .select(keyCols.map(col) :+ col("_e.*"): _*)

  /** Per-partition pass/fail verdict + counts — the analog of
    * `evaluate().flag()` scoped to a partition (`evaluation.rs:245`),
    * the unit of resumability in the audit log. */
  def verdicts(df: DataFrame): DataFrame =
    df.select(spark_partition_id().as("partition_id"), isValidCol.as("valid"))
      .groupBy(col("partition_id"))
      .agg(
        every(col("valid")).as("pass"),
        count(lit(1)).as("rows"),
        sum(when(!col("valid"), 1L).otherwise(0L)).as("invalid_rows"))

  /** Per-check violation counts over the whole table (one aggregation
    * pass, map-side partial aggregation — no shuffle of row data). */
  def checkStats(df: DataFrame): DataFrame = {
    if (checks.isEmpty) return df.sparkSession.emptyDataFrame
    val aggs = checks.zipWithIndex.map { case (ch, i) =>
      sum(when(!ch.predicate, 1L).otherwise(0L)).as(s"c$i")
    }
    // NOTE (r06): spreading few-split scans across cores was measured
    // here and REVERTED — check predicates are ~1µs/row, so the
    // repartition exchange cost more than the single-split scan it
    // parallelized (0.36s → 0.91s on sf0.1 lineitem). Per-row cost must
    // be kernel-heavy (shingling, decode) before Spread.toCores pays.
    val row = df.agg(aggs.head, aggs.tail: _*)
    val pairs = checks.zipWithIndex.map { case (ch, i) =>
      struct(lit(ch.keyword).as("keyword"), lit(ch.schemaPath).as("schema_path"),
        lit(ch.instancePath).as("instance_path"), col(s"c$i").as("violations"))
    }
    row.select(explode(array(pairs: _*)).as("s")).select("s.*")
  }
}

final case class ViolationRow(keyword: String, schema_path: String,
                              instance_path: String, message: String)

final case class AnnotationRow(keyword: String, schema_path: String,
                               instance_path: String, value: String)

/** Compile + run entry points — the one-off verbs
  * (`lib.rs:1250,1281,1313`) and `validator_for` (`lib.rs:1346`). */
object Validation {

  /** `validator_for` analog: compile a spec (JSON text) against a table
    * schema once; reuse the plan across any number of DataFrames. */
  def compile(specJson: String, schema: StructType,
              opts: CompileOptions = CompileOptions()): ValidationPlan = {
    val doc = graft.spec.JsonValue.parse(specJson)
    // build-time meta-schema gate (`compiler.rs:945-966`): a misspelled
    // keyword VALUE (e.g. "minimum": "5") must fail the build, not compile
    if (opts.validateSchema) graft.spec.Meta.check(doc)
    compileSpec(Spec.parse(doc), schema, opts)
  }

  def compileSpec(spec: Spec, schema: StructType,
                  opts: CompileOptions = CompileOptions()): ValidationPlan = {
    // vocabulary gate (`vocabularies.rs` analog): unknown REQUIRED
    // vocabularies refuse the build across every compilation tier
    graft.spec.Vocabularies.check(spec)
    val (checks, annots) = SpecCompiler.compileRootFull(spec, schema, opts)
    ValidationPlan(checks, annots)
  }

  /** One-off `is_valid` analog. */
  def isValid(df: DataFrame, specJson: String): Boolean =
    compile(specJson, df.schema).isValid(df)

  /** One-off evaluate-list analog. */
  def run(df: DataFrame, specJson: String): DataFrame =
    compile(specJson, df.schema).withValidation(df)

  /** `validator_map_for` analog (`lib.rs:1388`, `compiler.rs:1134-1213`):
    * one standalone sub-plan per REACHABLE subschema, keyed by its JSON
    * pointer — like the reference, which keys every compiled subschema.
    *
    * Contract per entry: a struct-typed target compiles like a table root
    * (apply to `df.select("path.to.it.*")`); any other target compiles
    * against a single column named `value` (apply to
    * `df.select(col(...).as("value"))`). Subschemas with no determinable
    * instance type in THIS table schema (e.g. unreferenced $defs, pattern-
    * property targets) are omitted — the reference can key them because
    * its instances are dynamic; ours are typed by the table. */
  def validatorMap(specJson: String, schema: StructType,
                   opts: CompileOptions = CompileOptions()): Map[String, ValidationPlan] = {
    val spec = Spec.parseJson(specJson)
    val out = scala.collection.mutable.LinkedHashMap[String, ValidationPlan]()

    def planFor(s: Spec, dt: DataType): ValidationPlan = dt match {
      case st: StructType => ValidationPlan(SpecCompiler.compileRoot(s, st, opts))
      case other => ValidationPlan(SpecCompiler.compileColumn(s, "value", other, opts))
    }

    def walk(s: Spec, ptr: String, dt: DataType): Unit = {
      if (out.contains(ptr)) return
      out(ptr) = planFor(s, dt)
      s match {
        case o: Spec.Obj =>
          dt match {
            case st: StructType =>
              o.properties.foreach { case (n, sub) =>
                st.fields.find(_.name == n).foreach(f =>
                  walk(sub, s"$ptr/properties/$n", f.dataType))
              }
              o.dependentSchemas.foreach { case (k, sub) =>
                walk(sub, s"$ptr/dependentSchemas/$k", dt)
              }
            case ArrayType(et, _) =>
              o.items.foreach(walk(_, s"$ptr/items", et))
              o.prefixItems.zipWithIndex.foreach { case (sub, i) =>
                walk(sub, s"$ptr/prefixItems/$i", et)
              }
              o.contains.foreach(walk(_, s"$ptr/contains", et))
            case _ => ()
          }
          // in-place applicators keep the parent's instance type
          o.allOf.zipWithIndex.foreach { case (b, i) => walk(b, s"$ptr/allOf/$i", dt) }
          o.anyOf.zipWithIndex.foreach { case (b, i) => walk(b, s"$ptr/anyOf/$i", dt) }
          o.oneOf.zipWithIndex.foreach { case (b, i) => walk(b, s"$ptr/oneOf/$i", dt) }
          o.not.foreach(walk(_, s"$ptr/not", dt))
          o.ifSpec.foreach(walk(_, s"$ptr/if", dt))
          o.thenSpec.foreach(walk(_, s"$ptr/then", dt))
          o.elseSpec.foreach(walk(_, s"$ptr/else", dt))
        case _ => ()
      }
    }

    walk(spec, "", schema)
    out.toMap
  }
}
