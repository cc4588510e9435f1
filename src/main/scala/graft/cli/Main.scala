package graft.cli

import org.apache.spark.sql.SparkSession
import graft.run.Validation
import graft.spec._

/** CLI driver — the analog of `jsonschema-cli`
  * (`/root/reference/crates/jsonschema-cli/src/main.rs:34-239`) with its
  * subcommand surface. On a cluster the table verbs are launched via
  * spark-submit; here they run in local mode. Exit codes: 0 ok/valid,
  * 1 violations found, 2 malformed spec / usage.
  *
  * Usage:
  *   graft.cli.Main <table.parquet> <spec.json> [outDir] [keyCol]   (validate, default)
  *   graft.cli.Main validate <table.parquet> <spec.json> [outDir] [keyCol]
  *   graft.cli.Main evaluate <table.parquet> <spec.json> <flag|list|hierarchical> [n]
  *   graft.cli.Main check <spec.json> <instance.json> [instance2.json ...]
  *   graft.cli.Main dereference  <spec.json>
  *   graft.cli.Main bundle       <spec.json> <uri=doc.json> [uri=doc.json ...]
  *   graft.cli.Main meta         <spec.json>
  */
object Main {

  private def readFile(p: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8")

  private def sparkSession(): SparkSession =
    graft.Sessions.create(graft.Sessions.defaultCores, sys.env.get("SPARK_MASTER"))

  def main(args: Array[String]): Unit = {
    val specVerbs = Set("dereference", "bundle", "meta", "check")
    val tableVerbs = Set("validate", "evaluate")
    try {
      args.headOption match {
        case Some(v) if specVerbs.contains(v) => specVerb(v, args.drop(1))
        case Some(v) if tableVerbs.contains(v) => tableVerb(v, args.drop(1))
        case Some(_) if args.length >= 2 => tableVerb("validate", args)
        case _ =>
          System.err.println("usage: graft.cli.Main [verb] <args...> (see scaladoc)")
          sys.exit(2)
      }
    } catch {
      case e: SpecError =>
        System.err.println(s"invalid spec: ${e.getMessage}")
        sys.exit(2)
    }
  }

  /** Pure spec-document verbs — no Spark session needed. */
  private def specVerb(verb: String, args: Array[String]): Unit = {
    if (args.isEmpty) { System.err.println(s"usage: $verb <spec.json> ..."); sys.exit(2) }
    val doc = JsonValue.parse(readFile(args(0)))
    verb match {
      case "meta" =>
        // authority = the official 2020-12 meta-schema (reference
        // compiler parity); the stricter dialect form is advisory
        val official = Meta.isValidOfficial(doc)
        val dialect = Meta.isValid(doc)
        println(if (official) "valid" else "invalid")
        if (official != dialect)
          System.err.println(s"note: dialect meta-schema says ${if (dialect) "valid" else "invalid"}")
        sys.exit(if (official) 0 else 1)
      case "check" =>
        // the analog of `jsonschema-cli validate <schema> -i <instance>...`
        // (reference main.rs:176-213, output main.rs:645-657); single JSON
        // documents take the prepared compiled validator, not Spark.
        // `--output list` emits one Output-v1-style JSON record per file.
        if (args.length < 2) { System.err.println("usage: check <spec.json> [--output list] <instance.json>..."); sys.exit(2) }
        val listMode = args.contains("--output") &&
          args.lift(args.indexOf("--output") + 1).contains("list")
        val assertFormats = args.contains("--assert-formats")
        val files = {
          var a = args.drop(1).filterNot(_ == "--assert-formats")
          if (listMode) { val i = a.indexOf("--output"); a = a.patch(i, Nil, 2) }
          a
        }
        def record(f: String, ok: Boolean, errs: Vector[Interp.VError]): String = {
          val errJson = JArr(errs.map(e => JObj(Vector(
            "instanceLocation" -> JStr(e.instancePath),
            "keywordLocation" -> JStr(e.schemaPath.stripPrefix("#")),
            "error" -> JStr(e.message)))))
          JsonValue.render(JObj(Vector(
            "instance" -> JStr(f), "valid" -> JBool(ok),
          ) ++ (if (ok) Vector() else Vector("errors" -> (errJson: JsonValue)))))
        }
        val prepared = Interp.prepare(Spec.parse(doc), assertFormats)
        var anyInvalid = false
        files.foreach { f =>
          val text = readFile(f)
          // fused streaming fast path: a VALID verdict needs no tree (a
          // streaming pass implies the document parses); invalid or
          // malformed documents fall through to parse + error enumeration
          if (!listMode && (try prepared.isValidText(text) catch { case _: Exception => false })) {
            println(s"$f - VALID")
          } else {
          val inst =
            try Some(JsonValue.parse(text))
            catch { case e: Exception => println(s"$f - INVALID. Errors:\n1. malformed JSON: ${e.getMessage}"); anyInvalid = true; None }
          inst.foreach { iv =>
            // one error enumeration gives the verdict and the errors together
            val errs = Interp.errors(prepared, iv, limit = 20)
            val ok = errs.isEmpty
            if (!ok) anyInvalid = true
            if (listMode) println(record(f, ok, errs))
            else if (ok) println(s"$f - VALID")
            else {
              println(s"$f - INVALID. Errors:")
              errs.zipWithIndex.foreach { case (e, i) =>
                val at = if (e.instancePath.isEmpty) "" else s" (at ${e.instancePath})"
                println(s"${i + 1}. ${e.message}$at [${e.schemaPath}]")
              }
            }
          }
          }
        }
        sys.exit(if (anyInvalid) 1 else 0)
      case "dereference" =>
        println(JsonValue.render(Spec.toJson(Bundler.dereference(Spec.parse(doc)))))
      case "bundle" =>
        val external = args.drop(1).map { kv =>
          val i = kv.indexOf('=')
          require(i > 0, s"expected uri=path, got $kv")
          kv.substring(0, i) -> Spec.parse(JsonValue.parse(readFile(kv.substring(i + 1))))
        }.toMap
        println(JsonValue.render(Spec.toJson(Bundler.bundle(Spec.parse(doc), external))))
    }
  }

  private def tableVerb(verb: String, args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println(s"usage: $verb <table.parquet> <spec.json> ...")
      sys.exit(2)
    }
    val masked = args.contains("--masked")
    val argv = args.filterNot(_ == "--masked")
    val spark = sparkSession()
    try {
      val df = spark.read.parquet(argv(0))
      val plan = Validation.compile(readFile(argv(1)), df.schema,
        graft.compile.CompileOptions(maskedErrors = masked))
      verb match {
        case "evaluate" =>
          val fmt = argv.lift(2).getOrElse("list")
          val n = argv.lift(3).map(_.toInt).getOrElse(10)
          df.select(org.apache.spark.sql.functions.to_json(plan.outputV1(fmt)).as("output"))
            .show(n, truncate = false)
          spark.stop(); sys.exit(0)
        case _ => // validate
          val outDir = argv.lift(2)
          val keyCol = argv.lift(3).getOrElse(df.columns.head)
          val verdicts = plan.verdicts(df).orderBy("partition_id")
          println("== per-partition verdicts ==")
          verdicts.show(100, truncate = false)
          val violations = plan.violations(df, Seq(keyCol))
          println("== violations (sample) ==")
          violations.show(20, truncate = false)
          val stats = plan.checkStats(df)
          println("== per-check violation counts ==")
          stats.show(100, truncate = false)
          outDir.foreach { d =>
            violations.write.mode("overwrite").parquet(s"$d/violations")
            verdicts.write.mode("overwrite").parquet(s"$d/verdicts")
          }
          val allValid = plan.isValid(df)
          println(s"valid: $allValid")
          spark.stop()
          sys.exit(if (allValid) 0 else 1)
      }
    } catch {
      case e: SpecError =>
        System.err.println(s"invalid spec: ${e.getMessage}")
        spark.stop(); sys.exit(2)
    }
  }
}
