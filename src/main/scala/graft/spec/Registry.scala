package graft.spec

import scala.collection.mutable

/** Schema-resource registry — the in-memory analog of the reference's
  * `jsonschema-referencing` crate (`/root/reference/crates/
  * jsonschema-referencing/src/{registry,resolver}.rs`): a schema document
  * is split into RESOURCES at `$id` boundaries; each resource indexes its
  * `$anchor`/`$dynamicAnchor` names; `$ref`/`$dynamicRef` URI-references
  * resolve against the current resource's base URI. Remote retrieval is a
  * declared non-goal (zero-egress) — every resource must live inside the
  * one supplied document, exactly what the reference's `bundle` verb
  * produces.
  *
  * Dynamic resolution (`keywords/ref_.rs:17-325`): `$dynamicRef "#x"`
  * first resolves like `$ref`; if the target carries `$dynamicAnchor x`,
  * the OUTERMOST resource in the dynamic scope (the chain of resources
  * entered during evaluation) that defines `$dynamicAnchor x` wins.
  * `$recursiveRef "#"` (2019-09) is the same game keyed on
  * `$recursiveAnchor: true`.
  */
final class Registry private (
    val root: Spec,
    val resources: Map[String, Registry.Resource],
    byObj: java.util.IdentityHashMap[Spec.Obj, Registry.Resource],
    val rootResource: Registry.Resource,
) extends Serializable {

  /** The resource that OWNS this subschema node (identity-based). Nodes
    * with their own `$id` map to their own resource. */
  def resourceOf(o: Spec.Obj): Registry.Resource = {
    val r = byObj.get(o)
    if (r != null) r else rootResource
  }

  /** Static `$ref` resolution: URI-reference `ref` against base resource
    * `base`. Returns the target spec and the resource it lives in (the new
    * base for nested refs). */
  def resolve(ref: String, base: Registry.Resource): Option[(Spec, Registry.Resource)] = {
    val hit = base.refCache.get(ref)
    if (hit != null) return hit
    val res = resolveUncached(ref, base)
    base.refCache.putIfAbsent(ref, res)
    res
  }

  private def resolveUncached(ref: String, base: Registry.Resource): Option[(Spec, Registry.Resource)] = {
    val (uriPart, frag) = Registry.splitFragment(ref)
    val targetRes: Option[Registry.Resource] =
      if (uriPart.isEmpty) Some(base)
      else {
        val abs = Registry.resolveUri(base.uri, uriPart)
        resources.get(abs).orElse(resources.get(uriPart))
      }
    targetRes.flatMap { res =>
      if (frag.isEmpty) Some((res.spec, res))
      else if (frag.startsWith("/"))
        Registry.pointer(res.spec, frag).map(s => (s, resourceHolding(s, res)))
      else res.anchors.get(frag).map(s => (s, res))
    }
  }

  /** `$dynamicRef` resolution given the dynamic scope (outermost-first
    * chain of resources entered). */
  def resolveDynamic(ref: String, base: Registry.Resource,
                     scope: List[Registry.Resource]): Option[(Spec, Registry.Resource)] = {
    val (_, frag) = Registry.splitFragment(ref)
    resolve(ref, base) match {
      case Some((s, r)) if frag.nonEmpty && !frag.startsWith("/") && r.dynamicAnchors.contains(frag) =>
        // bookended: initial target IS a $dynamicAnchor → outermost wins
        (scope :+ r).collectFirst {
          case sr if sr.dynamicAnchors.contains(frag) => (sr.dynamicAnchors(frag), sr)
        }.orElse(Some((s, r)))
      case other => other // plain-$ref behavior (no dynamic anchor at target)
    }
  }

  /** `$recursiveRef "#"` (2019-09): outermost scope resource with
    * `$recursiveAnchor: true`, else the current resource root. */
  def resolveRecursive(base: Registry.Resource,
                       scope: List[Registry.Resource]): (Spec, Registry.Resource) =
    if (Registry.hasRecursiveAnchor(base.spec))
      (scope :+ base).collectFirst {
        case sr if Registry.hasRecursiveAnchor(sr.spec) => (sr.spec, sr)
      }.getOrElse((base.spec, base))
    else (base.spec, base)

  /** If a pointer target carries its own `$id`, it is its own resource. */
  private def resourceHolding(s: Spec, fallback: Registry.Resource): Registry.Resource =
    s match {
      case o: Spec.Obj =>
        val r = byObj.get(o)
        if (r != null && (r.spec eq s)) r else fallback
      case _ => fallback
    }
}

object Registry {

  final case class Resource(
      uri: String,
      spec: Spec,
      anchors: Map[String, Spec],
      dynamicAnchors: Map[String, Spec],
  ) {
    /** Per-resource `$ref` resolution memo — the interpreter resolves refs
      * per NODE VISIT per row, and pointer navigation (string split + tree
      * walk) showed up as ~15% of the recursive benchmark. Transient:
      * rebuilt lazily after deserialization; CHM reads are lock-free. */
    @transient lazy val refCache =
      new java.util.concurrent.ConcurrentHashMap[String, Option[(Spec, Resource)]]()
  }

  def hasRecursiveAnchor(s: Spec): Boolean = s match {
    case o: Spec.Obj => o.recursiveAnchor
    case _           => false
  }

  /** Build the registry: walk the document, cutting a new resource at each
    * `$id`; index `$anchor`/`$dynamicAnchor` per resource (a
    * `$dynamicAnchor` also registers as a plain anchor, per spec). */
  def build(root: Spec, baseUri: String = ""): Registry = {
    val resources = mutable.LinkedHashMap[String, Resource]()
    val byObj = new java.util.IdentityHashMap[Spec.Obj, Resource]()

    def walk(spec: Spec, resUri: String,
             anchors: mutable.Map[String, Spec],
             dynAnchors: mutable.Map[String, Spec],
             members: mutable.Buffer[Spec.Obj]): Unit = spec match {
      case o: Spec.Obj =>
        val isNewResource = o.id.exists(i => resolveUri(resUri, i) != resUri)
        if (isNewResource) {
          registerResource(o, resolveUri(resUri, o.id.get))
        } else {
          members += o
          o.anchor.foreach(a => if (!anchors.contains(a)) anchors(a) = o)
          o.dynamicAnchor.foreach { a =>
            if (!dynAnchors.contains(a)) dynAnchors(a) = o
            if (!anchors.contains(a)) anchors(a) = o
          }
          Spec.subschemas(o).foreach(walk(_, resUri, anchors, dynAnchors, members))
          o.contentSchema.foreach(walk(_, resUri, anchors, dynAnchors, members))
        }
      case _ => ()
    }

    def registerResource(spec: Spec, uri: String): Resource = {
      val anchors = mutable.LinkedHashMap[String, Spec]()
      val dynAnchors = mutable.LinkedHashMap[String, Spec]()
      val members = mutable.Buffer[Spec.Obj]()
      spec match {
        case o: Spec.Obj =>
          members += o
          o.anchor.foreach(a => anchors(a) = o)
          o.dynamicAnchor.foreach { a => dynAnchors(a) = o; anchors(a) = o }
          Spec.subschemas(o).foreach(walk(_, uri, anchors, dynAnchors, members))
          o.contentSchema.foreach(walk(_, uri, anchors, dynAnchors, members))
        case _ => ()
      }
      val res = Resource(uri, spec, anchors.toMap, dynAnchors.toMap)
      resources(uri) = res
      members.foreach(byObj.put(_, res))
      res
    }

    val rootUri = root match {
      case o: Spec.Obj => o.id.map(resolveUri(baseUri, _)).getOrElse(baseUri)
      case _           => baseUri
    }
    val rootRes = registerResource(root, rootUri)
    new Registry(root, resources.toMap, byObj, rootRes)
  }

  /** RFC 3986 resolution, tolerant of empty/relative bases. */
  def resolveUri(base: String, ref: String): String =
    try {
      val r = new java.net.URI(ref)
      if (r.isAbsolute) stripEmptyFragment(r.toString)
      else if (base.isEmpty) stripEmptyFragment(ref)
      else stripEmptyFragment(new java.net.URI(base).resolve(r).toString)
    } catch { case _: Exception => ref }

  private def stripEmptyFragment(u: String): String =
    if (u.endsWith("#")) u.dropRight(1) else u

  /** ref → (uri-part, decoded fragment). */
  def splitFragment(ref: String): (String, String) = {
    val i = ref.indexOf('#')
    if (i < 0) (ref, "")
    else (ref.substring(0, i), pctDecode(ref.substring(i + 1)))
  }

  private def pctDecode(s: String): String =
    if (!s.contains('%')) s
    else try java.net.URLDecoder.decode(s, "UTF-8") catch { case _: Exception => s }

  /** JSON-pointer navigation over schema positions. Pointer escapes per
    * RFC 6901 (~1 → /, ~0 → ~). Returns None for non-schema or missing
    * positions. */
  def pointer(spec: Spec, ptr: String): Option[Spec] = {
    val segs = ptr.split("/", -1).toList.drop(1)
      .map(_.replace("~1", "/").replace("~0", "~"))
    nav(spec, segs)
  }

  private def intSeg(s: String): Option[Int] =
    try Some(s.toInt) catch { case _: NumberFormatException => None }

  private def nav(spec: Spec, segs: List[String]): Option[Spec] = segs match {
    case Nil => Some(spec)
    case seg :: rest => spec match {
      case o: Spec.Obj => seg match {
        case "$defs" | "definitions" => rest match {
          case name :: r2 => o.defs.get(name).flatMap(nav(_, r2))
          case Nil => None
        }
        case "properties" => rest match {
          case name :: r2 => o.properties.find(_._1 == name).map(_._2).flatMap(nav(_, r2))
          case Nil => None
        }
        case "patternProperties" => rest match {
          case name :: r2 => o.patternProperties.find(_._1 == name).map(_._2).flatMap(nav(_, r2))
          case Nil => None
        }
        case "dependentSchemas" => rest match {
          case name :: r2 => o.dependentSchemas.find(_._1 == name).map(_._2).flatMap(nav(_, r2))
          case Nil => None
        }
        case "items" => rest match {
          // legacy array-form items parsed into prefixItems
          case idx :: r2 if intSeg(idx).isDefined && o.prefixItems.nonEmpty =>
            o.prefixItems.lift(intSeg(idx).get).flatMap(nav(_, r2))
          case _ => o.items.flatMap(nav(_, rest))
        }
        case "prefixItems" => rest match {
          case idx :: r2 => intSeg(idx).flatMap(o.prefixItems.lift).flatMap(nav(_, r2))
          case Nil => None
        }
        case "allOf" | "anyOf" | "oneOf" => rest match {
          case idx :: r2 =>
            val branch = seg match {
              case "allOf" => o.allOf; case "anyOf" => o.anyOf; case _ => o.oneOf
            }
            intSeg(idx).flatMap(branch.lift).flatMap(nav(_, r2))
          case Nil => None
        }
        case "not" => o.not.flatMap(nav(_, rest))
        case "if" => o.ifSpec.flatMap(nav(_, rest))
        case "then" => o.thenSpec.flatMap(nav(_, rest))
        case "else" => o.elseSpec.flatMap(nav(_, rest))
        case "additionalProperties" => o.additionalProperties.flatMap(nav(_, rest))
        case "propertyNames" => o.propertyNames.flatMap(nav(_, rest))
        case "contains" => o.contains.flatMap(nav(_, rest))
        case "unevaluatedProperties" => o.unevaluatedProperties.flatMap(nav(_, rest))
        case "unevaluatedItems" => o.unevaluatedItems.flatMap(nav(_, rest))
        case "contentSchema" => o.contentSchema.flatMap(nav(_, rest))
        case _ => None
      }
      case _ => None
    }
  }
}
