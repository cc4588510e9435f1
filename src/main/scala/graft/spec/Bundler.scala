package graft.spec

/** Ref inlining — the analog of `bundle` / `dereference`
  * (`/root/reference/crates/jsonschema/src/lib.rs:1425,1453`;
  * `bundler.rs`, `dereferencer.rs`): rewrite a spec so every local `$ref`
  * is replaced by its target, producing a self-contained document.
  * Cyclic refs are left in place (a fully-inlined form doesn't exist),
  * matching the dereferencer's cycle behavior.
  */
object Bundler {

  /** `bundle` (`bundler.rs` analog): produce a SELF-CONTAINED compound
    * document by embedding every externally-referenced resource into
    * `$defs`, keyed `bundled<n>`, with its `$id` set to the absolute URI —
    * the 2020-12 compound-document form; the embedded `$id` makes the
    * original `$ref` URIs resolve against the in-document registry.
    * `external` plays the reference's retriever/registry role (zero-egress
    * sandbox: the user supplies the documents; a missing one fails loudly
    * like a retriever error). Transitive: bundled documents may themselves
    * reference further external resources. */
  def bundle(spec: Spec, external: Map[String, Spec]): Spec = spec match {
    case root: Spec.Obj =>
      var current = root
      var counter = 0
      var missing = unresolvableUris(current)
      while (missing.nonEmpty) {
        missing.foreach { uri =>
          val doc = external.getOrElse(uri,
            throw new SpecError(s"bundle: no resource supplied for $uri"))
          val embedded = doc match {
            case o: Spec.Obj => o.copy(id = Some(uri))
            // a boolean schema cannot carry $id — wrap equivalently
            case Spec.Accept => Spec.Obj(id = Some(uri))
            case Spec.Reject => Spec.Obj(id = Some(uri), allOf = Vector(Spec.Reject))
          }
          counter += 1
          current = current.copy(defs = current.defs + (s"bundled$counter" -> embedded))
        }
        missing = unresolvableUris(current)
      }
      current
    case other => other
  }

  /** Absolute target URIs of refs that do NOT resolve inside the document. */
  def unresolvableUris(root: Spec.Obj): Set[String] = {
    val reg = Registry.build(root)
    val out = scala.collection.mutable.LinkedHashSet[String]()
    def walk(s: Spec): Unit = s match {
      case o: Spec.Obj =>
        val base = reg.resourceOf(o)
        (o.ref.toSeq ++ o.dynamicRef).foreach { r =>
          val (uriPart, _) = Registry.splitFragment(r)
          if (uriPart.nonEmpty && reg.resolve(r, base).isEmpty)
            out += Registry.resolveUri(base.uri, uriPart)
        }
        (Spec.subschemas(o) ++ o.contentSchema).foreach(walk)
      case _ => ()
    }
    walk(root)
    out.toSet
  }

  def dereference(spec: Spec): Spec = spec match {
    case o: Spec.Obj =>
      val d = deref(o, o, Set.empty)
      d match {
        // fully inlined (no refs survive) ⇒ the $defs are dead weight
        case dobj: Spec.Obj if !hasRefs(dobj.copy(defs = Map.empty)) =>
          dobj.copy(defs = Map.empty)
        case other => other
      }
    case other => other
  }

  private def hasRefs(s: Spec): Boolean = s match {
    case o: Spec.Obj =>
      o.ref.nonEmpty ||
        (o.properties.map(_._2) ++ o.patternProperties.map(_._2) ++
          o.additionalProperties ++ o.propertyNames ++
          o.dependentSchemas.map(_._2) ++ o.items ++ o.prefixItems ++
          o.contains ++ o.allOf ++ o.anyOf ++ o.oneOf ++ o.not ++
          o.ifSpec ++ o.thenSpec ++ o.elseSpec ++
          o.unevaluatedProperties ++ o.unevaluatedItems ++ o.defs.values)
          .exists(hasRefs)
    case _ => false
  }

  private def resolve(r: String, root: Spec.Obj): Option[Spec] =
    if (r == "#") Some(root)
    else if (r.startsWith("#/$defs/")) root.defs.get(r.stripPrefix("#/$defs/"))
    else if (r.startsWith("#/definitions/")) root.defs.get(r.stripPrefix("#/definitions/"))
    else None

  private def deref(s: Spec, root: Spec.Obj, seen: Set[String]): Spec = s match {
    case o: Spec.Obj =>
      val next = o.copy(
        properties = o.properties.map { case (k, v) => k -> deref(v, root, seen) },
        patternProperties = o.patternProperties.map { case (k, v) => k -> deref(v, root, seen) },
        additionalProperties = o.additionalProperties.map(deref(_, root, seen)),
        propertyNames = o.propertyNames.map(deref(_, root, seen)),
        dependentSchemas = o.dependentSchemas.map { case (k, v) => k -> deref(v, root, seen) },
        items = o.items.map(deref(_, root, seen)),
        prefixItems = o.prefixItems.map(deref(_, root, seen)),
        contains = o.contains.map(deref(_, root, seen)),
        allOf = o.allOf.map(deref(_, root, seen)),
        anyOf = o.anyOf.map(deref(_, root, seen)),
        oneOf = o.oneOf.map(deref(_, root, seen)),
        not = o.not.map(deref(_, root, seen)),
        ifSpec = o.ifSpec.map(deref(_, root, seen)),
        thenSpec = o.thenSpec.map(deref(_, root, seen)),
        elseSpec = o.elseSpec.map(deref(_, root, seen)),
        unevaluatedProperties = o.unevaluatedProperties.map(deref(_, root, seen)),
        unevaluatedItems = o.unevaluatedItems.map(deref(_, root, seen)),
      )
      next.ref match {
        case Some(r) if !seen.contains(r) =>
          resolve(r, root) match {
            case Some(target) =>
              val inlined = deref(target, root, seen + r)
              // merge: ref'd constraints become an allOf member alongside
              // the sibling keywords (2020-12 sibling semantics)
              inlined match {
                case Spec.Accept => next.copy(ref = None, defs = Map.empty)
                case Spec.Reject => next.copy(ref = None, defs = Map.empty,
                  allOf = next.allOf :+ Spec.Reject)
                case io: Spec.Obj =>
                  next.copy(ref = None, defs = Map.empty,
                    allOf = next.allOf :+ io.copy(defs = Map.empty))
              }
            case None => next // unresolvable: keep as-is
          }
        case _ => if (seen.isEmpty) next else next.copy(defs = Map.empty)
      }
    case other => other
  }
}
