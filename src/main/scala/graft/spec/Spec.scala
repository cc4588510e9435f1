package graft.spec

/** Declarative constraint spec — the analog of a compiled-from-JSON schema.
  *
  * Keyword set mirrors the reference registry
  * (`/root/reference/crates/jsonschema/src/keywords/mod.rs:62-105`,
  * BuiltinKeyword enum) collapsed to one dialect (2020-12 semantics).
  * A `Spec` is either a boolean schema (`keywords/boolean.rs:1-49`) or a
  * bag of keywords.
  */
sealed trait Spec
object Spec {
  /** Boolean schema `true` — accepts everything. */
  case object Accept extends Spec
  /** Boolean schema `false` — rejects everything (FalseValidator). */
  case object Reject extends Spec

  final case class Obj(
      // §2.1 scalar keywords
      types: Option[Set[JsonType]] = None,
      const: Option[JsonValue] = None,
      enumVals: Option[Vector[JsonValue]] = None,
      minimum: Option[BigDecimal] = None,
      maximum: Option[BigDecimal] = None,
      exclusiveMinimum: Option[BigDecimal] = None,
      exclusiveMaximum: Option[BigDecimal] = None,
      multipleOf: Option[BigDecimal] = None,
      minLength: Option[Long] = None,
      maxLength: Option[Long] = None,
      pattern: Option[String] = None,
      format: Option[String] = None,
      contentEncoding: Option[String] = None,
      contentMediaType: Option[String] = None,
      // §2.2 object applicators
      properties: Vector[(String, Spec)] = Vector.empty,
      patternProperties: Vector[(String, Spec)] = Vector.empty,
      additionalProperties: Option[Spec] = None,
      propertyNames: Option[Spec] = None,
      required: Vector[String] = Vector.empty,
      minProperties: Option[Long] = None,
      maxProperties: Option[Long] = None,
      dependentRequired: Vector[(String, Vector[String])] = Vector.empty,
      dependentSchemas: Vector[(String, Spec)] = Vector.empty,
      // §2.2 array applicators
      items: Option[Spec] = None,
      prefixItems: Vector[Spec] = Vector.empty,
      minItems: Option[Long] = None,
      maxItems: Option[Long] = None,
      uniqueItems: Boolean = false,
      contains: Option[Spec] = None,
      minContains: Option[Long] = None,
      maxContains: Option[Long] = None,
      // §2.3 combinators
      allOf: Vector[Spec] = Vector.empty,
      anyOf: Vector[Spec] = Vector.empty,
      oneOf: Vector[Spec] = Vector.empty,
      not: Option[Spec] = None,
      ifSpec: Option[Spec] = None,
      thenSpec: Option[Spec] = None,
      elseSpec: Option[Spec] = None,
      unevaluatedProperties: Option[Spec] = None,
      unevaluatedItems: Option[Spec] = None,
      ref: Option[String] = None,
      defs: Map[String, Spec] = Map.empty,
      /** true when the source document spelled the defs map with the
        * draft-7 keyword `definitions` — emission keeps that spelling so
        * `#/definitions/x` pointers stay aligned with their map
        * (reference: `definitions spelling stays aligned with its
        * reference pointer`, canonical-suite references.json). */
      legacyDefs: Boolean = false,
      // §2.1 contentSchema (`keywords/content.rs:432-494`)
      contentSchema: Option[Spec] = None,
      // §2.3 identifiers & dynamic references (`keywords/ref_.rs:17-325`,
      // referencing crate anchors/resources)
      id: Option[String] = None,
      anchor: Option[String] = None,
      dynamicAnchor: Option[String] = None,
      recursiveAnchor: Boolean = false,
      dynamicRef: Option[String] = None,
      recursiveRef: Option[String] = None,
      /** `$vocabulary` (meta-schema dialect declaration): uri -> required.
        * Gated at build time by [[Vocabularies.check]]. */
      vocabulary: Option[Vector[(String, Boolean)]] = None,
      /** unknown keywords, captured for the custom-keyword registry
        * (`options.rs:438`, `keywords/custom.rs`) and future meta checks;
        * annotation-only unless a CustomKeyword is registered. */
      others: Vector[(String, JsonValue)] = Vector.empty,
  ) extends Spec {
    /** Memo for the interpreter's additionalProperties hot path (rebuilt
      * per node visit otherwise). Not part of structural equality. */
    @transient lazy val propertyNameSet: Set[String] = properties.map(_._1).toSet
  }

  /** All direct subschemas of an Obj (applicators + combinators + defs). */
  def subschemas(o: Obj): Vector[Spec] =
    o.properties.map(_._2) ++ o.patternProperties.map(_._2) ++
      o.additionalProperties ++ o.propertyNames ++
      o.dependentSchemas.map(_._2) ++ o.items ++ o.prefixItems ++
      o.contains ++ o.allOf ++ o.anyOf ++ o.oneOf ++ o.not ++
      o.unevaluatedProperties ++ o.unevaluatedItems ++
      o.ifSpec ++ o.thenSpec ++ o.elseSpec ++ o.defs.values

  /** Parse a JSON schema document into a Spec.
    * Mirrors compile dispatch (`compiler.rs:1042-1126`); unknown keywords
    * are ignored (annotation-only), matching the reference's behavior for
    * non-assertion keywords.
    */
  def parse(v: JsonValue): Spec = {
    // `$recursiveRef`/`$recursiveAnchor` are 2019-09 keywords; under an
    // explicitly-declared 2020-12 dialect they are unknown (annotation
    // only) — `$recursiveRef under 2020-12 asserts nothing`
    // (canonical-suite dynamic_references.json; reference draft gating at
    // keywords/mod.rs:261-541). Undeclared documents keep them active
    // (our single engine dialect accepts the superset).
    val declared: Option[Boolean] = v match {
      case o: JObj => o.get("$schema").collect { case JStr(u) => u.contains("2020-12") }
      case _ => None
    }
    declared match {
      case Some(d) =>
        val prev = recursiveInertTL.get()
        recursiveInertTL.set(d)
        try parseInner(v) finally recursiveInertTL.set(prev)
      case None => parseInner(v) // inherit the enclosing document's dialect
    }
  }

  private val recursiveInertTL = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }

  private def parseInner(v: JsonValue): Spec = v match {
    case JBool(true)  => Accept
    case JBool(false) => Reject
    case o: JObj      => parseObj(o)
    case other => throw new SpecError(s"schema must be an object or boolean, got ${other.jsonType.name}")
  }

  def parseJson(text: String): Spec = parse(JsonValue.parse(text))

  private def num(v: JsonValue, kw: String): BigDecimal = v match {
    case JNum(n) => n
    case other   => throw new SpecError(s"$kw expects a number, got ${other.jsonType.name}")
  }
  private def nonNegInt(v: JsonValue, kw: String): Long = v match {
    case n: JNum if n.isIntegral && n.value >= 0 =>
      // counter bounds past i64 (the reference stores u64; its corpus uses
      // 2^64-1 as "the counter ceiling") clamp to Long.MaxValue —
      // verdict-identical, since no real instance has that many
      // members/chars, and BigDecimal.toLong would silently WRAP
      if (n.value > Long.MaxValue) Long.MaxValue else n.value.toLong
    case other => throw new SpecError(s"$kw expects a non-negative integer, got ${JsonValue.render(other)}")
  }
  private def str(v: JsonValue, kw: String): String = v match {
    case JStr(s) => s
    case other   => throw new SpecError(s"$kw expects a string, got ${other.jsonType.name}")
  }
  /** Regexes are vetted at build time like the reference (InvalidPattern
    * from the compile, not first use — `pattern.rs`/`regex.rs`); the
    * translated form is still compiled lazily per executor. */
  private def vetPattern(p: String): String = {
    try java.util.regex.Pattern.compile(EcmaRegex.translate(p))
    catch { case e: Exception =>
      throw new SpecError(s"invalid regex ${JsonValue.render(JStr(p))}: ${e.getMessage}")
    }
    p
  }
  private def arr(v: JsonValue, kw: String): Vector[JsonValue] = v match {
    case JArr(xs) => xs
    case other    => throw new SpecError(s"$kw expects an array, got ${other.jsonType.name}")
  }
  private def strArr(v: JsonValue, kw: String): Vector[String] = arr(v, kw).map(str(_, kw))
  private def specArr(v: JsonValue, kw: String): Vector[Spec] = arr(v, kw).map(parse)

  private def parseObj(o: JObj): Spec = {
    var s = Obj()
    o.fields.foreach { case (k, v) =>
      k match {
        case "type" => v match {
          case JStr(t) => s = s.copy(types = Some(Set(jsonType(t))))
          case JArr(ts) => s = s.copy(types = Some(ts.map(t => jsonType(str(t, "type"))).toSet))
          case other => throw new SpecError(s"type expects string or array, got ${other.jsonType.name}")
        }
        case "const" => s = s.copy(const = Some(v))
        case "enum" => s = s.copy(enumVals = Some(arr(v, "enum")))
        case "minimum" => s = s.copy(minimum = Some(num(v, k)))
        case "maximum" => s = s.copy(maximum = Some(num(v, k)))
        case "exclusiveMinimum" => s = s.copy(exclusiveMinimum = Some(num(v, k)))
        case "exclusiveMaximum" => s = s.copy(exclusiveMaximum = Some(num(v, k)))
        case "multipleOf" =>
          val n = num(v, k)
          if (n <= 0) throw new SpecError("multipleOf must be > 0")
          s = s.copy(multipleOf = Some(n))
        case "minLength" => s = s.copy(minLength = Some(nonNegInt(v, k)))
        case "maxLength" => s = s.copy(maxLength = Some(nonNegInt(v, k)))
        case "pattern" => s = s.copy(pattern = Some(vetPattern(str(v, k))))
        case "format" => s = s.copy(format = Some(str(v, k)))
        case "contentEncoding" => s = s.copy(contentEncoding = Some(str(v, k)))
        case "contentMediaType" => s = s.copy(contentMediaType = Some(str(v, k)))
        case "properties" => v match {
          case po: JObj => s = s.copy(properties = po.fields.map { case (p, ps) => p -> parse(ps) })
          case _ => throw new SpecError("properties expects an object")
        }
        case "patternProperties" => v match {
          case po: JObj => s = s.copy(patternProperties =
            po.fields.map { case (p, ps) => vetPattern(p) -> parse(ps) })
          case _ => throw new SpecError("patternProperties expects an object")
        }
        case "additionalProperties" => s = s.copy(additionalProperties = Some(parse(v)))
        case "propertyNames" => s = s.copy(propertyNames = Some(parse(v)))
        case "required" => s = s.copy(required = strArr(v, k))
        case "minProperties" => s = s.copy(minProperties = Some(nonNegInt(v, k)))
        case "maxProperties" => s = s.copy(maxProperties = Some(nonNegInt(v, k)))
        case "dependentRequired" => v match {
          case po: JObj => s = s.copy(dependentRequired = po.fields.map { case (p, d) => p -> strArr(d, k) })
          case _ => throw new SpecError("dependentRequired expects an object")
        }
        case "dependentSchemas" => v match {
          case po: JObj => s = s.copy(dependentSchemas = po.fields.map { case (p, d) => p -> parse(d) })
          case _ => throw new SpecError("dependentSchemas expects an object")
        }
        case "items" => v match {
          // drafts <= 7 array form: items:[s1,s2] == prefixItems (legacy
          // dialect collapse, SURVEY §2.2)
          case JArr(_) => s = s.copy(prefixItems = specArr(v, k))
          case _ => s = s.copy(items = Some(parse(v)))
        }
        case "additionalItems" =>
          // legacy: elements beyond the tuple prefix — 2020-12 `items`
          if (s.items.isEmpty) s = s.copy(items = Some(parse(v)))
        case "dependencies" => v match {
          // legacy split: array value -> dependentRequired, schema value ->
          // dependentSchemas (`keywords/dependencies.rs:15`)
          case po: JObj =>
            po.fields.foreach {
              case (p, JArr(deps)) =>
                s = s.copy(dependentRequired = s.dependentRequired :+ (p -> deps.map(str(_, k))))
              case (p, d) =>
                s = s.copy(dependentSchemas = s.dependentSchemas :+ (p -> parse(d)))
            }
          case _ => throw new SpecError("dependencies expects an object")
        }
        case "prefixItems" => s = s.copy(prefixItems = specArr(v, k))
        case "unevaluatedProperties" => s = s.copy(unevaluatedProperties = Some(parse(v)))
        case "unevaluatedItems" => s = s.copy(unevaluatedItems = Some(parse(v)))
        case "minItems" => s = s.copy(minItems = Some(nonNegInt(v, k)))
        case "maxItems" => s = s.copy(maxItems = Some(nonNegInt(v, k)))
        case "uniqueItems" => v match {
          case JBool(b) => s = s.copy(uniqueItems = b)
          case _ => throw new SpecError("uniqueItems expects a boolean")
        }
        case "contains" => s = s.copy(contains = Some(parse(v)))
        case "minContains" => s = s.copy(minContains = Some(nonNegInt(v, k)))
        case "maxContains" => s = s.copy(maxContains = Some(nonNegInt(v, k)))
        case "allOf" => s = s.copy(allOf = specArr(v, k))
        case "anyOf" => s = s.copy(anyOf = specArr(v, k))
        case "oneOf" => s = s.copy(oneOf = specArr(v, k))
        case "not" => s = s.copy(not = Some(parse(v)))
        case "if" => s = s.copy(ifSpec = Some(parse(v)))
        case "then" => s = s.copy(thenSpec = Some(parse(v)))
        case "else" => s = s.copy(elseSpec = Some(parse(v)))
        case "$ref" => s = s.copy(ref = Some(str(v, k)))
        case "contentSchema" => s = s.copy(contentSchema = Some(parse(v)))
        case "$id" => s = s.copy(id = Some(str(v, k)))
        case "$anchor" => s = s.copy(anchor = Some(str(v, k)))
        case "$dynamicAnchor" => s = s.copy(dynamicAnchor = Some(str(v, k)))
        case "$recursiveAnchor" =>
          if (recursiveInertTL.get()) () // inert under declared 2020-12
          else v match {
            case JBool(b) => s = s.copy(recursiveAnchor = b)
            case _ => throw new SpecError("$recursiveAnchor expects a boolean")
          }
        case "$dynamicRef" => s = s.copy(dynamicRef = Some(str(v, k)))
        case "$recursiveRef" =>
          if (recursiveInertTL.get()) () // inert under declared 2020-12
          else s = s.copy(recursiveRef = Some(str(v, k)))
        case "$defs" | "definitions" => v match {
          case po: JObj => s = s.copy(
            defs = s.defs ++ po.fields.map { case (p, d) => p -> parse(d) },
            legacyDefs = s.legacyDefs || k == "definitions")
          case _ => throw new SpecError("$defs expects an object")
        }
        case "$vocabulary" => v match {
          case vo: JObj => s = s.copy(vocabulary = Some(vo.fields.map {
            case (uri, JBool(b)) => uri -> b
            case _ => throw new SpecError("$vocabulary values must be booleans")
          }))
          case _ => throw new SpecError("$vocabulary expects an object")
        }
        // annotation/bookkeeping keywords that are NOT custom-keyword slots
        case "$schema" | "$comment" | "title" | "description" |
             "default" | "examples" | "deprecated" | "readOnly" | "writeOnly" => ()
        case other => // unknown keyword: annotation-only, kept for the registry
          s = s.copy(others = s.others :+ (other -> v))
      }
    }
    s
  }

  private def jsonType(name: String): JsonType =
    JsonType.fromName(name).getOrElse(throw new SpecError(s"unknown type: $name"))

  /** Render a Spec back to its JSON document form (inverse of [[parse]]) —
    * the output surface for the `dereference`/`bundle` verbs
    * (the reference returns serde_json::Value from those). */
  def toJson(s: Spec): JsonValue = s match {
    case Accept => JBool(true)
    case Reject => JBool(false)
    case o: Obj =>
      val fields = Vector.newBuilder[(String, JsonValue)]
      def num(n: BigDecimal): JsonValue = JNum(n)
      def int(n: Long): JsonValue = JNum(BigDecimal(n))
      o.id.foreach(v => fields += ("$id" -> JStr(v)))
      o.anchor.foreach(v => fields += ("$anchor" -> JStr(v)))
      o.dynamicAnchor.foreach(v => fields += ("$dynamicAnchor" -> JStr(v)))
      if (o.recursiveAnchor) fields += ("$recursiveAnchor" -> JBool(true))
      o.ref.foreach(v => fields += ("$ref" -> JStr(v)))
      o.dynamicRef.foreach(v => fields += ("$dynamicRef" -> JStr(v)))
      o.recursiveRef.foreach(v => fields += ("$recursiveRef" -> JStr(v)))
      o.vocabulary.foreach(vs =>
        fields += ("$vocabulary" -> JObj(vs.map { case (u, b) => u -> JBool(b) })))
      o.types.foreach { ts =>
        val names = JsonType.all.filter(ts.contains).map(t => JStr(t.name): JsonValue).toVector
        fields += ("type" -> (if (names.length == 1) names.head else JArr(names)))
      }
      o.const.foreach(v => fields += ("const" -> v))
      o.enumVals.foreach(vs => fields += ("enum" -> JArr(vs)))
      o.minimum.foreach(v => fields += ("minimum" -> num(v)))
      o.maximum.foreach(v => fields += ("maximum" -> num(v)))
      o.exclusiveMinimum.foreach(v => fields += ("exclusiveMinimum" -> num(v)))
      o.exclusiveMaximum.foreach(v => fields += ("exclusiveMaximum" -> num(v)))
      o.multipleOf.foreach(v => fields += ("multipleOf" -> num(v)))
      o.minLength.foreach(v => fields += ("minLength" -> int(v)))
      o.maxLength.foreach(v => fields += ("maxLength" -> int(v)))
      o.pattern.foreach(v => fields += ("pattern" -> JStr(v)))
      o.format.foreach(v => fields += ("format" -> JStr(v)))
      o.contentEncoding.foreach(v => fields += ("contentEncoding" -> JStr(v)))
      o.contentMediaType.foreach(v => fields += ("contentMediaType" -> JStr(v)))
      o.contentSchema.foreach(v => fields += ("contentSchema" -> toJson(v)))
      if (o.properties.nonEmpty)
        fields += ("properties" -> JObj(o.properties.map { case (k, v) => k -> toJson(v) }))
      if (o.patternProperties.nonEmpty)
        fields += ("patternProperties" -> JObj(o.patternProperties.map { case (k, v) => k -> toJson(v) }))
      o.additionalProperties.foreach(v => fields += ("additionalProperties" -> toJson(v)))
      o.propertyNames.foreach(v => fields += ("propertyNames" -> toJson(v)))
      if (o.required.nonEmpty)
        fields += ("required" -> JArr(o.required.map(JStr(_))))
      o.minProperties.foreach(v => fields += ("minProperties" -> int(v)))
      o.maxProperties.foreach(v => fields += ("maxProperties" -> int(v)))
      if (o.dependentRequired.nonEmpty)
        fields += ("dependentRequired" -> JObj(o.dependentRequired.map {
          case (k, deps) => k -> JArr(deps.map(JStr(_)))
        }))
      if (o.dependentSchemas.nonEmpty)
        fields += ("dependentSchemas" -> JObj(o.dependentSchemas.map { case (k, v) => k -> toJson(v) }))
      o.items.foreach(v => fields += ("items" -> toJson(v)))
      if (o.prefixItems.nonEmpty)
        fields += ("prefixItems" -> JArr(o.prefixItems.map(toJson)))
      o.minItems.foreach(v => fields += ("minItems" -> int(v)))
      o.maxItems.foreach(v => fields += ("maxItems" -> int(v)))
      if (o.uniqueItems) fields += ("uniqueItems" -> JBool(true))
      o.contains.foreach(v => fields += ("contains" -> toJson(v)))
      o.minContains.foreach(v => fields += ("minContains" -> int(v)))
      o.maxContains.foreach(v => fields += ("maxContains" -> int(v)))
      if (o.allOf.nonEmpty) fields += ("allOf" -> JArr(o.allOf.map(toJson)))
      if (o.anyOf.nonEmpty) fields += ("anyOf" -> JArr(o.anyOf.map(toJson)))
      if (o.oneOf.nonEmpty) fields += ("oneOf" -> JArr(o.oneOf.map(toJson)))
      o.not.foreach(v => fields += ("not" -> toJson(v)))
      o.ifSpec.foreach(v => fields += ("if" -> toJson(v)))
      o.thenSpec.foreach(v => fields += ("then" -> toJson(v)))
      o.elseSpec.foreach(v => fields += ("else" -> toJson(v)))
      o.unevaluatedProperties.foreach(v => fields += ("unevaluatedProperties" -> toJson(v)))
      o.unevaluatedItems.foreach(v => fields += ("unevaluatedItems" -> toJson(v)))
      if (o.defs.nonEmpty)
        fields += ((if (o.legacyDefs) "definitions" else "$defs") ->
          JObj(o.defs.toVector.sortBy(_._1).map { case (k, v) => k -> toJson(v) }))
      o.others.foreach { case (k, v) => fields += (k -> v) }
      JObj(fields.result())
  }
}

/** Spec meta-validation failure — the analog of the reference's
  * meta-schema check rejecting a malformed schema
  * (`compiler.rs:945-966`). */
final class SpecError(msg: String) extends RuntimeException(msg)
