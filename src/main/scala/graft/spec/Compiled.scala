package graft.spec

import java.util.regex.Pattern
import Interp.{Loc, Sink, VError}

/** Closure-compiled validator — the analog of the reference's codegen'd
  * `is_valid` (`crates/benchmark-suite/README.md` "Codegen" column, 2.4-12x
  * over the dynamic walker there). `prepare`-time compilation turns a Spec
  * into nested closures: keyword dispatch, Option unwrapping, regex
  * compilation and $ref resolution all happen ONCE, leaving a plain
  * closure call per instance node at run time. Used per-row by the
  * contentSchema kernel, so this is the hot path for dynamic-JSON columns
  * at table scale.
  *
  * Semantics mirror the `Interp` tree-walk exactly (it stays the
  * executable specification; differential tests drive both). Everything
  * compiles — including the annotation-flow keywords (branch-validity-
  * gated evaluated-set collectors) and the dynamic-scope refs:
  *
  *  - The dynamic SCOPE (chain of `$id` resources entered) threads through
  *    every closure as a runtime argument; resource-crossing appends are
  *    decided statically per edge (each edge's parent/child resources are
  *    known at compile time), so non-crossing edges pay nothing.
  *  - `$dynamicRef`/`$recursiveRef` compile to a dispatch over the FINITE
  *    candidate set (static target + every resource carrying the anchor),
  *    each candidate precompiled; `resolveDynamic` picks at run time.
  *
  * Cycle handling: static same-value ref chains are cut at compile time
  * (the tree-walk accepts on a (schema-node, instance-node) revisit, and
  * such revisits only happen along same-instance edges). Chains through a
  * DYNAMIC dispatch cannot be cut statically, so each dispatch site keeps
  * a per-thread (target, instance) stack and accepts on revisit — the
  * same rule, enforced at exactly the points static analysis cannot see.
  *
  * Error mode (`compileErrors`, what `Interp.errors` runs): a second
  * closure tree from the same `Builder`, built on the first `errors` call
  * of a `Prepared`. Its steps emit what the tree-walk `ErrorWalk` emits —
  * its keyword order (`properties` in schema order), its messages and
  * masking (`Interp.Sink`), locations rendered only on emit — and every
  * step answers whether the walk goes on, so it stops once `limit` errors
  * are out. Every trial (`anyOf`, `oneOf`, `not`, `if`, `contains`,
  * `propertyNames`, `unevaluated*`) runs the verdict closures, tag
  * dispatch and cycle guards included. Error steps carry their own chain
  * of the nodes entered at the current value, marking the ones entered
  * through a reference: a reference to such a node is the tree-walk's
  * cut, decided at build time.
  */
object Compiled {

  type C = JsonValue => Boolean
  /** Internal closure: (instance, dynamic scope) → verdict. A node's
    * closure assumes the scope already contains its own resource. */
  private type D = (JsonValue, List[Registry.Resource]) => Boolean
  private val TrueD: D = (_, _) => true
  private val FalseD: D = (_, _) => false

  private object Bail extends RuntimeException { override def fillInStackTrace(): Throwable = this }

  /** Tagged-union count: how many branches validate a value, up to a cap. */
  private trait Count { def apply(v: JsonValue, sc: List[Registry.Resource]): Int }

  /** Error-mode step: walks one instance node under one schema node,
    * writes its keyword errors to `out` at instance location `ip` and
    * schema location `sp`, and answers whether the walk goes on (the
    * sink is not yet full). */
  private trait E {
    def apply(v: JsonValue, sc: List[Registry.Resource], ip: Loc, sp: Loc, out: Sink): Boolean
  }
  private val GoOn: E = (_, _, _, _, _) => true
  private val RejectE: E = (v, _, ip, sp, out) => out.fail(ip, sp, out.falseSchema(v))

  private def allE(steps: Vector[E]): E = steps.length match {
    case 0 => GoOn
    case 1 => steps(0)
    case _ =>
      val a = steps.toArray
      (v, sc, ip, sp, out) => {
        var i = 0; var go = true
        while (go && i < a.length) { go = a(i)(v, sc, ip, sp, out); i += 1 }
        go
      }
  }

  /** None ⇒ use the tree-walk (compile budget exceeded). */
  def compile(registry: Registry, entry: Spec): Option[C] =
    compile(registry, entry, assertFormats = false)

  def compile(registry: Registry, entry: Spec, assertFormats: Boolean): Option[C] =
    try {
      Vocabularies.check(entry) // same build-time gate as the other tiers
      val d = new Builder(registry, assertFormats).descend(entry)
      val scope0 = scopeAt(registry, entry)
      Some(v => d(v, scope0))
    } catch { case Bail => None }

  /** Error enumeration: instance, error budget (at least 1), masked → the
    * errors the tree-walk `Interp.errorsInterp` lists. */
  private[graft] type Errors = (JsonValue, Int, Boolean) => Vector[VError]

  /** The error mode: a second closure tree from the same `Builder`, whose
    * steps emit what `Interp`'s tree-walk emits, in its order and with its
    * messages, stopping once the budget's errors are out. Its trials run
    * verdict closures of this build. None ⇒ the tree-walk enumerates:
    * over the compile budget, or a schema error (an unresolvable `$ref`,
    * a bad pattern) that the tree-walk raises only if it reaches it. */
  private[graft] def compileErrors(registry: Registry, entry: Spec,
                                   assertFormats: Boolean): Option[Errors] =
    try {
      val e = new Builder(registry, assertFormats).errDescend(entry)
      val scope0 = scopeAt(registry, entry)
      Some { (v, limit, masked) =>
        val out = new Sink(limit, masked)
        e(v, scope0, Interp.instanceRoot, Interp.schemaRoot, out)
        out.result()
      }
    } catch { case Bail | _: SpecError => None }

  /** The dynamic scope at `entry`: its own resource. */
  private def scopeAt(registry: Registry, entry: Spec): List[Registry.Resource] = entry match {
    case o: Spec.Obj => List(registry.resourceOf(o))
    case _           => List(registry.rootResource)
  }

  /** Sub-compilation facade for the streaming validator (Streaming.scala):
    * compile tree-side twins of specific nodes with the correct same-value
    * cycle-cut chain, sharing one Builder (and its memo + budget) per
    * streaming compile. Signatures spell out D because D is private. */
  private[spec] final class Sub(registry: Registry, assertFormats: Boolean) {
    private val b = new Builder(registry, assertFormats)
    /** Check set of `s` in same-value chain `sp` (Builder.same). */
    def sameAt(s: Spec, sp: List[Spec.Obj]): (JsonValue, List[Registry.Resource]) => Boolean =
      b.same(s, sp)
    /** Entry compilation of a structural child (Builder.descend). */
    def entryAt(s: Spec): (JsonValue, List[Registry.Resource]) => Boolean =
      b.descend(s)
  }

  /** Budget-exceeded marker test (Bail is private). */
  private[spec] def isBail(t: Throwable): Boolean = t.asInstanceOf[AnyRef] eq Bail

  /** Per-thread stack of (schema-node, instance) pairs for the dynamic
    * dispatch sites' cycle rule. */
  private val dynStack = new ThreadLocal[java.util.ArrayDeque[(AnyRef, AnyRef)]] {
    override def initialValue() = new java.util.ArrayDeque[(AnyRef, AnyRef)]()
  }

  private final class Builder(registry: Registry, assertFormats: Boolean = false) {
    private val memo = new java.util.IdentityHashMap[Spec.Obj, D]()
    private var budget = 20000

    /** Edge wrapper: extend the runtime scope when this edge crosses into
      * a different resource (statically known per edge). */
    private def edge(parentRes: Registry.Resource, target: Spec, d: D): D = target match {
      case o: Spec.Obj =>
        val r = registry.resourceOf(o)
        if (r eq parentRes) d else (v, sc) => d(v, sc :+ r)
      case _ => d
    }

    def descend(s: Spec): D = s match {
      case Spec.Accept => TrueD
      case Spec.Reject => FalseD
      case o: Spec.Obj =>
        val hit = memo.get(o)
        if (hit != null) hit
        else {
          // forward cell: recursive refs back to this node resolve through
          // one indirection while the body is still being built
          var body: D = null
          memo.put(o, (v, sc) => body(v, sc))
          body = build(o, o :: Nil)
          body
        }
    }

    /** Compile for a SAME-VALUE position (ref/combinator edge): `sp` is
      * the chain of schema nodes already entered at this instance value.
      * `private[spec]` so the streaming validator's Sub facade can compile
      * materialization twins with the SAME cycle-cut chain. */
    private[spec] def same(s: Spec, sp: List[Spec.Obj]): D = s match {
      case Spec.Accept => TrueD
      case Spec.Reject => FalseD
      case o: Spec.Obj =>
        // back-edge (target already on this compile chain): the reference
        // wraps such targets in Pending nodes that check/push a runtime
        // (node, instance-identity) stack and accept on REVISIT
        // (validator.rs:62-115, node.rs:198-264) — one unrolling of the
        // body runs before the cut, which non-monotone contexts (oneOf
        // counting, not) can observe. A static `true` here would cut one
        // level too early and diverge from the tree walker.
        if (sp.exists(_ eq o)) cycleGuardD(o)
        else build(o, o :: sp)
    }

    /** Runtime-guarded body for a compile-time ref back-edge target. */
    private def cycleGuardD(o: Spec.Obj): D = {
      val body = descend(o) // memoized; forward cell breaks compile recursion
      (v, sc) => {
        val stack = dynStack.get()
        val it = stack.iterator()
        var cycle = false
        while (!cycle && it.hasNext) {
          val p = it.next()
          cycle = (p._1 eq o.asInstanceOf[AnyRef]) && (p._2 eq v.asInstanceOf[AnyRef])
        }
        if (cycle) true
        else {
          stack.push((o, v))
          try body(v, sc) finally stack.pop()
        }
      }
    }

    /** Dynamic dispatch: resolve the target from the RUNTIME scope, run
      * its precompiled closure, with the (target, instance) cycle rule. */
    private def dynamicDispatch(baseRes: Registry.Resource,
                                resolveAt: List[Registry.Resource] => Option[(Spec, Registry.Resource)],
                                candidates: Seq[(Spec, Registry.Resource)]): D = {
      val compiledBy = new java.util.IdentityHashMap[AnyRef, D]()
      candidates.foreach { case (t, res) =>
        val key: AnyRef = t
        if (!compiledBy.containsKey(key)) {
          val body = t match {
            case Spec.Accept => TrueD
            case Spec.Reject => FalseD
            case o: Spec.Obj => descend(o)
          }
          val wrapped: D =
            if (res eq baseRes) body else (v, sc) => body(v, sc :+ res)
          compiledBy.put(key, wrapped)
        }
      }
      (v, sc) => resolveAt(sc) match {
        case Some((t, _)) =>
          val d = compiledBy.get(t: AnyRef)
          if (d == null)
            throw new SpecError("dynamic target missing from the precompiled candidate set")
          val stack = dynStack.get()
          val it = stack.iterator()
          var cycle = false
          while (!cycle && it.hasNext) {
            val p = it.next()
            cycle = (p._1 eq t.asInstanceOf[AnyRef]) && (p._2 eq v.asInstanceOf[AnyRef])
          }
          if (cycle) true
          else {
            stack.push((t, v))
            try d(v, sc) finally stack.pop()
          }
        case None => throw new SpecError("unresolvable dynamic reference")
      }
    }

    /** All (target, resource) pairs a dynamic resolution from `o` can
      * yield: the static target plus every anchor-bearing resource
      * (None ⇒ $recursiveRef). */
    private def dynamicCandidates(o: Spec.Obj, dynRef: Option[String]): Seq[(Spec, Registry.Resource)] = {
      val baseRes = registry.resourceOf(o)
      dynRef match {
        case Some(r) =>
          val frag = Registry.splitFragment(r)._2
          val static = registry.resolve(r, baseRes)
          if (static.isEmpty) throw new SpecError(s"unresolvable $$dynamicRef: $r")
          static.toSeq ++ registry.resources.values.toSeq
            .filter(_.dynamicAnchors.contains(frag))
            .map(res => (res.dynamicAnchors(frag), res))
        case None =>
          (baseRes.spec, baseRes) +: registry.resources.values.toSeq
            .filter(res => Registry.hasRecursiveAnchor(res.spec))
            .map(res => (res.spec, res))
      }
    }

    private def dynamicRefD(o: Spec.Obj, r: String): D = {
      val baseRes = registry.resourceOf(o)
      dynamicDispatch(baseRes, sc => registry.resolveDynamic(r, baseRes, sc),
        dynamicCandidates(o, Some(r)))
    }

    private def recursiveRefD(o: Spec.Obj): D = {
      val baseRes = registry.resourceOf(o)
      dynamicDispatch(baseRes, sc => Some(registry.resolveRecursive(baseRes, sc)),
        dynamicCandidates(o, None))
    }

    /** Compiled evaluated-properties collector — mirrors
      * `Interp.evaluatedProps` (annotation flow: contributions only from
      * branches that VALIDATE, branch validity via the compiled `same`
      * closures, collector recursion guarded by the compile-time visited
      * chain exactly like the runtime fixpoint guard). */
    private type EvC = (JObj, List[Registry.Resource]) => Set[String]
    private def evCollector(o: Spec.Obj, includeSelf: Boolean,
                            visited: List[Spec.Obj], sp: List[Spec.Obj]): EvC = {
      if (visited.exists(_ eq o)) return (_, _) => Set.empty
      val vis = o :: visited
      val oRes = registry.resourceOf(o)
      val static: JObj => Set[String] = {
        val all = o.additionalProperties.nonEmpty ||
          (includeSelf && o.unevaluatedProperties.nonEmpty)
        val propNames = o.propertyNameSet
        val pats = o.patternProperties.map(p => Pattern.compile(EcmaRegex.translate(p._1)))
        ob => {
          val keys = ob.fields.map(_._1).toSet
          if (all) keys
          else propNames.filter(keys.contains) ++
            (if (pats.isEmpty) Set.empty[String]
             else keys.filter(k => pats.exists(_.matcher(k).find())))
        }
      }
      // (validity, collector) per in-place branch; scope-extended per edge
      def branch(b: Spec): Option[(D, EvC)] = b match {
        case bo: Spec.Obj =>
          val bRes = registry.resourceOf(bo)
          val vC = edge(oRes, bo, same(bo, sp))
          val cC0 = evCollector(bo, includeSelf = true, vis, sp)
          val cC: EvC =
            if (bRes eq oRes) cC0 else (ob, sc) => cC0(ob, sc :+ bRes)
          Some((vC, cC))
        case _ => None // Accept evaluates nothing; Reject never validates
      }
      val plain = (o.allOf ++ o.anyOf ++ o.oneOf).flatMap(branch) ++
        o.ref.toVector.flatMap { r =>
          registry.resolve(r, oRes).flatMap(t => branch(t._1))
        }
      // dynamic-scope branches: candidates PRECOMPILED at build time (the
      // closure is shared across executor threads — no lazy compilation
      // through the Builder at run time), dispatch looks up by identity
      val dynBranches: Vector[(JObj, List[Registry.Resource]) => Set[String]] =
        (o.dynamicRef.toVector.map { r =>
          (dynamicCandidates(o, Some(r)),
            (sc: List[Registry.Resource]) => registry.resolveDynamic(r, oRes, sc))
        } ++ o.recursiveRef.toVector.map { _ =>
          (dynamicCandidates(o, None),
            (sc: List[Registry.Resource]) => Some(registry.resolveRecursive(oRes, sc)))
        }).map { case (candidates, resolveAt) =>
          val table = new java.util.IdentityHashMap[AnyRef, (D, EvC)]()
          candidates.foreach { case (t, res) =>
            t match {
              case bo: Spec.Obj if !table.containsKey(bo: AnyRef) =>
                val vC0 = descend(bo)
                val vC: D = if (res eq oRes) vC0 else (v2, s2) => vC0(v2, s2 :+ res)
                val cC0 = evCollector(bo, includeSelf = true, vis, sp)
                val cC: EvC = if (res eq oRes) cC0 else (o2, s2) => cC0(o2, s2 :+ res)
                table.put(bo, (vC, cC))
              case _ => () // boolean targets evaluate nothing
            }
          }
          (ob: JObj, sc: List[Registry.Resource]) => resolveAt(sc) match {
            case Some((bo: Spec.Obj, _)) =>
              val pair = table.get(bo: AnyRef)
              if (pair != null && pair._1(ob, sc)) pair._2(ob, sc) else Set.empty[String]
            case _ => Set.empty[String]
          }
        }
      val ite = o.ifSpec.map { i =>
        (edge(oRes, i, same(i, sp)), branch(i),
          o.thenSpec.flatMap(branch), o.elseSpec.flatMap(branch))
      }
      val deps = o.dependentSchemas.flatMap { case (k, sub) =>
        branch(sub).map(bc => (k, bc))
      }
      (ob, sc) => {
        var out = static(ob)
        plain.foreach { case (v, c) => if (v(ob, sc)) out ++= c(ob, sc) }
        dynBranches.foreach(f => out ++= f(ob, sc))
        ite.foreach { case (ci, iBr, tBr, eBr) =>
          if (ci(ob, sc)) {
            iBr.foreach { case (v, c) => if (v(ob, sc)) out ++= c(ob, sc) }
            tBr.foreach { case (v, c) => if (v(ob, sc)) out ++= c(ob, sc) }
          } else eBr.foreach { case (v, c) => if (v(ob, sc)) out ++= c(ob, sc) }
        }
        deps.foreach { case (k, (v, c)) =>
          if (ob.toMap.contains(k) && v(ob, sc)) out ++= c(ob, sc)
        }
        out
      }
    }

    /** Compiled item-coverage collector — mirrors `Interp.itemCov`:
      * (allCovered, prefixLen, compiled contains checks). */
    private type CovC = (JsonValue, List[Registry.Resource]) => (Boolean, Int, Vector[D])
    private def itemCovCollector(o: Spec.Obj, includeSelf: Boolean,
                                 visited: List[Spec.Obj], sp: List[Spec.Obj]): CovC = {
      if (visited.exists(_ eq o)) return (_, _) => (false, 0, Vector.empty)
      val vis = o :: visited
      val oRes = registry.resourceOf(o)
      val selfAll = o.items.nonEmpty || (includeSelf && o.unevaluatedItems.nonEmpty)
      val selfPrefix = o.prefixItems.length
      val selfContains = o.contains.toVector.map(c => edge(oRes, c, descend(c)))
      def branch(b: Spec): Option[(D, CovC)] = b match {
        case bo: Spec.Obj =>
          val bRes = registry.resourceOf(bo)
          val vC = edge(oRes, bo, same(bo, sp))
          val cC0 = itemCovCollector(bo, includeSelf = true, vis, sp)
          val cC: CovC =
            if (bRes eq oRes) cC0 else (v2, sc) => cC0(v2, sc :+ bRes)
          Some((vC, cC))
        case _ => None
      }
      val plain = (o.allOf ++ o.anyOf ++ o.oneOf).flatMap(branch) ++
        o.ref.toVector.flatMap { r =>
          registry.resolve(r, oRes).flatMap(t => branch(t._1))
        }
      val dynBranches: Vector[CovC] =
        (o.dynamicRef.toVector.map { r =>
          (dynamicCandidates(o, Some(r)),
            (sc: List[Registry.Resource]) => registry.resolveDynamic(r, oRes, sc))
        } ++ o.recursiveRef.toVector.map { _ =>
          (dynamicCandidates(o, None),
            (sc: List[Registry.Resource]) => Some(registry.resolveRecursive(oRes, sc)))
        }).map { case (candidates, resolveAt) =>
          val table = new java.util.IdentityHashMap[AnyRef, (D, CovC)]()
          candidates.foreach { case (t, res) =>
            t match {
              case bo: Spec.Obj if !table.containsKey(bo: AnyRef) =>
                val vC0 = descend(bo)
                val vC: D = if (res eq oRes) vC0 else (v2, s2) => vC0(v2, s2 :+ res)
                val cC0 = itemCovCollector(bo, includeSelf = true, vis, sp)
                val cC: CovC = if (res eq oRes) cC0 else (v2, s2) => cC0(v2, s2 :+ res)
                table.put(bo, (vC, cC))
              case _ => ()
            }
          }
          (v: JsonValue, sc: List[Registry.Resource]) => resolveAt(sc) match {
            case Some((bo: Spec.Obj, _)) =>
              val pair = table.get(bo: AnyRef)
              if (pair != null && pair._1(v, sc)) pair._2(v, sc)
              else (false, 0, Vector.empty[D])
            case _ => (false, 0, Vector.empty[D])
          }
        }
      val ite = o.ifSpec.map { i =>
        (edge(oRes, i, same(i, sp)), branch(i),
          o.thenSpec.flatMap(branch), o.elseSpec.flatMap(branch))
      }
      val deps = o.dependentSchemas.flatMap { case (k, sub) => branch(sub).map(bc => (k, bc)) }
      (v, sc) => {
        var all = selfAll; var prefix = selfPrefix; var contains = selfContains
        def add(pair: (D, CovC)): Unit = {
          val (vc, cc) = pair
          if (vc(v, sc)) {
            val (a2, p2, c2) = cc(v, sc)
            all ||= a2; prefix = math.max(prefix, p2); contains ++= c2
          }
        }
        plain.foreach(add)
        dynBranches.foreach { f =>
          val (a2, p2, c2) = f(v, sc)
          all ||= a2; prefix = math.max(prefix, p2); contains ++= c2
        }
        ite.foreach { case (ci, iBr, tBr, eBr) =>
          if (ci(v, sc)) { iBr.foreach(add); tBr.foreach(add) } else eBr.foreach(add)
        }
        deps.foreach { case (k, bc) =>
          v match {
            case ob: JObj if ob.toMap.contains(k) => add(bc)
            case _ => ()
          }
        }
        (all, prefix, contains)
      }
    }

    private def build(o: Spec.Obj, sp: List[Spec.Obj]): D = {
      budget -= 1
      if (budget < 0) throw Bail
      val oRes = registry.resourceOf(o)
      def enterD(target: Spec, d: D): D = edge(oRes, target, d)
      val cs = Vector.newBuilder[D]

      o.ref.foreach { r =>
        registry.resolve(r, oRes) match {
          case Some((target, tRes)) =>
            val body = same(target, sp)
            cs += (if (tRes eq oRes) body else (v, sc) => body(v, sc :+ tRes))
          case None => throw new SpecError(s"unresolvable $$ref: $r")
        }
      }
      o.dynamicRef.foreach { r => cs += dynamicRefD(o, r) }
      o.recursiveRef.foreach { _ => cs += recursiveRefD(o) }

      o.types.foreach(ts => cs += ((v, _) => Interp.admits(ts, v)))
      o.const.foreach {
        // string consts (tag discriminators) compare raw — no deep-equal
        // dispatch per row
        case JStr(s) => cs += ((v, _) => v match {
          case JStr(x) => x == s
          case _ => false
        })
        case c => cs += ((v, _) => JsonValue.equal(c, v))
      }
      o.enumVals.foreach { es =>
        if (es.nonEmpty && es.forall(_.isInstanceOf[JStr])) {
          val set = es.iterator.map(_.asInstanceOf[JStr].value).toSet
          cs += ((v, _) => v match {
            case JStr(x) => set.contains(x)
            case _ => false
          })
        } else cs += ((v, _) => es.exists(JsonValue.equal(_, v)))
      }

      if (o.minimum.nonEmpty || o.maximum.nonEmpty || o.exclusiveMinimum.nonEmpty ||
          o.exclusiveMaximum.nonEmpty || o.multipleOf.nonEmpty) {
        val mi = o.minimum; val ma = o.maximum
        val emi = o.exclusiveMinimum; val ema = o.exclusiveMaximum
        val mo = o.multipleOf
        val zero = BigDecimal(0)
        cs += { (v, _) => v match {
          case JNum(n) =>
            mi.forall(n >= _) && ma.forall(n <= _) &&
            emi.forall(n > _) && ema.forall(n < _) &&
            mo.forall(m => (n remainder m).compareTo(zero) == 0)
          case _ => true
        } }
      }

      val fmtPred: Option[String => Boolean] =
        if (assertFormats) o.format.flatMap(graft.compile.Formats.scalaPredicate)
        else None
      if (o.minLength.nonEmpty || o.maxLength.nonEmpty || o.pattern.nonEmpty ||
          fmtPred.nonEmpty) {
        val minL = o.minLength; val maxL = o.maxLength
        val pat: Option[Pattern] = o.pattern.map(p => Pattern.compile(EcmaRegex.translate(p)))
        cs += { (v, _) => v match {
          case JStr(s) =>
            (minL.isEmpty && maxL.isEmpty || {
              val n = s.codePointCount(0, s.length)
              minL.forall(n >= _) && maxL.forall(n <= _)
            }) && pat.forall(_.matcher(s).find()) && fmtPred.forall(_(s))
          case _ => true
        } }
      }

      // ---- object keywords ------------------------------------------------
      val objChecks = Vector.newBuilder[(JObj, List[Registry.Resource]) => Boolean]
      if (o.required.nonEmpty) {
        val req = o.required.toArray
        objChecks += { (ob, _) =>
          var i = 0; var ok = true
          while (ok && i < req.length) { ok = ob.has(req(i)); i += 1 }
          ok
        }
      }
      o.minProperties.foreach(n => objChecks += ((ob, _) => ob.fields.length >= n))
      o.maxProperties.foreach(n => objChecks += ((ob, _) => ob.fields.length <= n))
      // properties + additionalProperties fuse into ONE instance-major walk
      // when patternProperties is absent: `properties` only constrains
      // PRESENT fields, so walking the instance's fields against a
      // compile-time hash map is O(instance) instead of O(schema-props ×
      // instance) linear scans with an Option per lookup — and the
      // additionalProperties check is exactly "the fields that miss the
      // map", so a second walk with a second lookup per field is free to
      // merge (tag-union object schemas pay this on every row)
      val fuseAp = o.properties.nonEmpty && o.additionalProperties.nonEmpty &&
        o.patternProperties.isEmpty
      if (o.properties.nonEmpty) {
        val propMap = new java.util.HashMap[String, D](o.properties.length * 2)
        o.properties.foreach { case (k, sub) => propMap.put(k, enterD(sub, descend(sub))) }
        val apC: D = if (fuseAp) {
          val ap = o.additionalProperties.get
          enterD(ap, descend(ap))
        } else null
        objChecks += { (ob, sc) =>
          val fs = ob.fields
          var i = 0; var ok = true
          while (ok && i < fs.length) {
            val c = propMap.get(fs(i)._1)
            if (c != null) ok = c(fs(i)._2, sc)
            else if (apC != null) ok = apC(fs(i)._2, sc)
            i += 1
          }
          ok
        }
      }
      if (o.patternProperties.nonEmpty) {
        val pats: Vector[(Pattern, D)] = o.patternProperties.map { case (p, sub) =>
          (Pattern.compile(EcmaRegex.translate(p)), enterD(sub, descend(sub)))
        }
        objChecks += ((ob, sc) => pats.forall { case (re, c) =>
          ob.fields.forall { case (k, value) => !re.matcher(k).find() || c(value, sc) }
        })
      }
      if (!fuseAp) o.additionalProperties.foreach { ap =>
        val c = enterD(ap, descend(ap))
        val names = o.propertyNameSet
        val pats = o.patternProperties.map(p => Pattern.compile(EcmaRegex.translate(p._1)))
        if (pats.isEmpty)
          objChecks += { (ob, sc) =>
            val fs = ob.fields
            var i = 0; var ok = true
            while (ok && i < fs.length) {
              val kv = fs(i)
              if (!names.contains(kv._1)) ok = c(kv._2, sc)
              i += 1
            }
            ok
          }
        else
          objChecks += ((ob, sc) => ob.fields.forall { case (k, value) =>
            names.contains(k) || pats.exists(_.matcher(k).find()) || c(value, sc)
          })
      }
      o.propertyNames.foreach { pn =>
        val c = enterD(pn, descend(pn))
        objChecks += ((ob, sc) => ob.fields.forall { case (k, _) => c(JStr(k), sc) })
      }
      if (o.dependentRequired.nonEmpty) {
        val dr = o.dependentRequired
        objChecks += ((ob, _) => dr.forall { case (k, deps) =>
          !ob.has(k) || deps.forall(ob.has)
        })
      }
      val objOnly = objChecks.result().toArray
      // dependentSchemas validates the WHOLE value (same-value edge)
      val depSchemas: Vector[(String, D)] =
        o.dependentSchemas.map { case (k, sub) => (k, enterD(sub, same(sub, sp))) }
      if (objOnly.nonEmpty || depSchemas.nonEmpty) cs += { (v, sc) => v match {
        case ob: JObj =>
          var i = 0; var ok = true
          while (ok && i < objOnly.length) { ok = objOnly(i)(ob, sc); i += 1 }
          ok && depSchemas.forall { case (k, c) => !ob.has(k) || c(ob, sc) }
        case _ => true
      } }

      // ---- array keywords -------------------------------------------------
      val arrChecks = Vector.newBuilder[(Vector[JsonValue], List[Registry.Resource]) => Boolean]
      o.minItems.foreach(n => arrChecks += ((a, _) => a.length >= n))
      o.maxItems.foreach(n => arrChecks += ((a, _) => a.length <= n))
      if (o.uniqueItems) arrChecks += ((a, _) => Interp.allUnique(a))
      if (o.prefixItems.nonEmpty) {
        val pre = o.prefixItems.map(s => enterD(s, descend(s)))
        arrChecks += ((a, sc) => {
          var i = 0; var ok = true
          while (ok && i < pre.length && i < a.length) { ok = pre(i)(a(i), sc); i += 1 }
          ok
        })
      }
      o.items.foreach { sub =>
        val c = enterD(sub, descend(sub))
        val skip = o.prefixItems.length
        arrChecks += ((a, sc) => {
          var i = skip; var ok = true
          while (ok && i < a.length) { ok = c(a(i), sc); i += 1 }
          ok
        })
      }
      o.contains.foreach { sub =>
        val c = enterD(sub, descend(sub))
        val lo = o.minContains.getOrElse(1L)
        val hi = o.maxContains
        arrChecks += ((a, sc) => {
          val n = a.count(c(_, sc))
          n >= lo && hi.forall(n <= _)
        })
      }
      val arrOnly = arrChecks.result().toArray
      if (arrOnly.nonEmpty) cs += { (v, sc) => v match {
        case JArr(a) =>
          var i = 0; var ok = true
          while (ok && i < arrOnly.length) { ok = arrOnly(i)(a, sc); i += 1 }
          ok
        case _ => true
      } }

      // ---- annotation-flow keywords ---------------------------------------
      o.unevaluatedProperties.foreach { u =>
        val uc = enterD(u, descend(u))
        val ev = evCollector(o, includeSelf = false, Nil, sp)
        cs += { (v, sc) => v match {
          case ob: JObj =>
            val e = ev(ob, sc)
            ob.fields.forall { case (k, pv) => e.contains(k) || uc(pv, sc) }
          case _ => true
        } }
      }
      o.unevaluatedItems.foreach { u =>
        val uc = enterD(u, descend(u))
        val cov = itemCovCollector(o, includeSelf = false, Nil, sp)
        cs += { (v, sc) => v match {
          case jv @ JArr(a) =>
            val (allCov, prefix, contains) = cov(jv, sc)
            allCov || a.zipWithIndex.forall { case (x, i) =>
              i < prefix || contains.exists(p => p(x, sc)) || uc(x, sc)
            }
          case _ => true
        } }
      }

      // ---- combinators (same-value edges) ---------------------------------
      o.allOf.foreach(m => cs += enterD(m, same(m, sp)))
      if (o.anyOf.nonEmpty) {
        val m = matching(o, o.anyOf, sp, cap = 1)
        cs += ((v, sc) => m(v, sc) == 1)
      }
      if (o.oneOf.nonEmpty) {
        val m = matching(o, o.oneOf, sp, cap = 2)
        cs += ((v, sc) => m(v, sc) == 1)
      }
      o.not.foreach { n => val c = enterD(n, same(n, sp)); cs += ((v, sc) => !c(v, sc)) }
      o.ifSpec.foreach { i =>
        val ci = enterD(i, same(i, sp))
        val ct = o.thenSpec.map(t => enterD(t, same(t, sp))).getOrElse(TrueD)
        val ce = o.elseSpec.map(e => enterD(e, same(e, sp))).getOrElse(TrueD)
        cs += ((v, sc) => if (ci(v, sc)) ct(v, sc) else ce(v, sc))
      }

      val all = cs.result().toArray
      all.length match {
        case 0 => TrueD
        case 1 => all(0)
        case _ => (v, sc) => {
          var i = 0; var ok = true
          while (ok && i < all.length) { ok = all(i)(v, sc); i += 1 }
          ok
        }
      }
    }


    // ---- tagged unions (anyOf / oneOf) ------------------------------------

    /** The branches of `branches` (an `anyOf` or `oneOf` of `o`) that
      * validate a value, counted up to `cap`, each through its verdict
      * closure at same-value chain `sp`.
      *
      * Tagged-union dispatch (the reference's oneOf specialization): when
      * branches are pairwise excluded by construction — disjoint declared
      * `type`s, or a shared required property whose `const` differs per
      * branch — at most ONE branch can ever validate, so the count is
      * whether the selected branch validates and the trial loop over all
      * branches collapses to a single dispatch. This is what makes the
      * recursive structured-content schema (a deep tag union) linear in
      * the instance instead of branches×instance. */
    def matching(o: Spec.Obj, branches: Vector[Spec], sp: List[Spec.Obj], cap: Int): Count = {
      val oRes = registry.resourceOf(o)
      val bs = branches.map(m => edge(oRes, m, same(m, sp))).toArray
      def count(v: JsonValue, sc: List[Registry.Resource]): Int = {
        var n = 0; var i = 0
        while (n < cap && i < bs.length) { if (bs(i)(v, sc)) n += 1; i += 1 }
        n
      }
      typeDispatch(branches).map[Count] { table => (v, sc) =>
        val i = table(typeTag(v, table))
        if (i >= 0 && bs(i)(v, sc)) 1 else 0
      }.orElse(constDispatch(branches).map[Count] { case (key, m) =>
        // tag consts are almost always strings: dispatch on the RAW
        // string (no per-row JsonValue.render StringBuilder); non-string
        // tag values go through the rendered table
        val strTable = new java.util.HashMap[String, Int]()
        m.foreach { case (r, i) =>
          if (r.length >= 2 && r.charAt(0) == '"' && !r.contains('\\'))
            strTable.put(r.substring(1, r.length - 1), i)
        }
        def one(i: Int, v: JsonValue, sc: List[Registry.Resource]) = if (bs(i)(v, sc)) 1 else 0
        (v, sc) => v match {
          case ob: JObj => ob.getOrNull(key) match {
            case null => 0
            case JStr(s) =>
              val i = strTable.getOrDefault(s, -1)
              if (i >= 0) one(i, v, sc)
              else m.get(JsonValue.render(JStr(s))).fold(0)(one(_, v, sc))
            case cv => m.get(JsonValue.render(cv)).fold(0)(one(_, v, sc))
          }
          // every branch requires the key, but `required` holds vacuously
          // on non-objects: no dispatch there
          case _ => count(v, sc)
        }
      }).getOrElse(count)
    }

    /** The type atom of `v` (null, boolean, integer, number, string,
      * array, object). A number asks for integrality only where `table`
      * sends integers and other numbers to different branches. */
    private def typeTag(v: JsonValue, table: Array[Int]): Int = v match {
      case JNull => 0; case _: JBool => 1
      case n: JNum => if (table(2) == table(3) || n.isIntegral) 2 else 3
      case _: JStr => 4; case _: JArr => 5; case _: JObj => 6
    }

    /** Branch index per type atom (7 atoms), or None if types overlap /
      * are undeclared anywhere. Integer claims atom 2; number claims 2+3. */
    private def typeDispatch(branches: Vector[Spec]): Option[Array[Int]] = {
      val table = Array.fill(7)(-1)
      var ok = true
      branches.zipWithIndex.foreach { case (b, i) =>
        b match {
          case bo: Spec.Obj if bo.types.nonEmpty =>
            bo.types.get.foreach { t =>
              val atoms = t match {
                case JsonType.Null => Seq(0); case JsonType.Boolean => Seq(1)
                case JsonType.Integer => Seq(2); case JsonType.Number => Seq(2, 3)
                case JsonType.String => Seq(4); case JsonType.Array => Seq(5)
                case JsonType.Object => Seq(6)
              }
              atoms.foreach { a =>
                if (table(a) != -1) ok = false else table(a) = i
              }
            }
          case _ => ok = false
        }
      }
      if (ok) Some(table) else None
    }

    /** (key, const-value → branch index) when every branch requires the
      * same key pinned to a distinct const. */
    private def constDispatch(branches: Vector[Spec]): Option[(String, Map[String, Int])] = {
      // per branch: keys the branch REQUIRES pinned to a finite value
      // set (const or enum)
      val perBranch: Vector[Map[String, Vector[JsonValue]]] = branches.map {
        case bo: Spec.Obj =>
          val m = bo.properties.collect {
            case (k, ps: Spec.Obj) if bo.required.contains(k) &&
                (ps.const.nonEmpty || ps.enumVals.nonEmpty) =>
              k -> ps.const.map(Vector(_)).getOrElse(ps.enumVals.get)
          }.toMap
          if (m.isEmpty) return None
          m
        case _ => return None
      }
      // any key every branch pins, with PAIRWISE-DISJOINT value sets
      val shared = perBranch.map(_.keySet).reduce(_ intersect _)
      shared.iterator.flatMap { key =>
        val entries = perBranch.zipWithIndex.flatMap { case (m, i) =>
          m(key).map(c => JsonValue.render(c) -> i)
        }
        val table = entries.toMap
        if (table.size == entries.length) Some((key, table)) else None
      }.nextOption()
    }

    // ---- error mode --------------------------------------------------------

    private val errMemo = new java.util.IdentityHashMap[Spec.Obj, E]()

    /** Error steps of a structural child, entered at a new instance value:
      * built once per node, the chain reset to the node itself. */
    def errDescend(s: Spec): E = s match {
      case Spec.Accept => GoOn
      case Spec.Reject => RejectE
      case o: Spec.Obj =>
        val hit = errMemo.get(o)
        if (hit != null) hit
        else {
          // forward cell, as in `descend`
          var body: E = null
          errMemo.put(o, (v, sc, ip, sp, out) => body(v, sc, ip, sp, out))
          body = errBuild(o, (o, false) :: Nil)
          errMemo.put(o, body)
          body
        }
    }

    /** Error steps of `s` entered at the same instance value from chain
      * `ch` (the nodes entered at this value, each with whether it was
      * entered through a reference). The tree-walk answers "go on" at a
      * reference whose target was already entered through a reference at
      * this value, and walks it otherwise; the chain decides that here at
      * build time. A target entered through a reference is pushed on the
      * cycle guards' run-time stack, as the tree-walk pushes it, so the
      * verdict closures of trials inside it cut where the tree-walk's
      * trials cut. */
    private def errSame(s: Spec, ch: List[(Spec.Obj, Boolean)], viaRef: Boolean): E = s match {
      case Spec.Accept => GoOn
      case Spec.Reject => RejectE
      case o: Spec.Obj =>
        if (viaRef && ch.exists(e => e._2 && (e._1 eq o))) GoOn
        else {
          val body = errBuild(o, (o, viaRef) :: ch)
          if (!viaRef) body
          else (v, sc, ip, sp, out) => {
            val stack = dynStack.get()
            stack.push((o, v))
            try body(v, sc, ip, sp, out) finally stack.pop()
          }
        }
    }

    /** `$dynamicRef` (`dynRef`) or `$recursiveRef` (None) of `o` in error
      * mode: the target is resolved from the run-time scope among the
      * precompiled candidates, as in `dynamicDispatch`. */
    private def errDynamic(o: Spec.Obj, ch: List[(Spec.Obj, Boolean)], dynRef: Option[String]): E = {
      val oRes = registry.resourceOf(o)
      val (keyword, resolveAt) = dynRef match {
        case Some(r) => ("$dynamicRef", (sc: List[Registry.Resource]) => registry.resolveDynamic(r, oRes, sc))
        case None => ("$recursiveRef", (sc: List[Registry.Resource]) => Some(registry.resolveRecursive(oRes, sc)))
      }
      val table = new java.util.IdentityHashMap[AnyRef, E]()
      dynamicCandidates(o, dynRef).foreach { case (t, res) =>
        if (!table.containsKey(t)) {
          val body = errSame(t, ch, viaRef = true)
          table.put(t, if (res eq oRes) body else (v, sc, ip, sp, out) => body(v, sc :+ res, ip, sp, out))
        }
      }
      (v, sc, ip, sp, out) => resolveAt(sc) match {
        case Some((t, _)) =>
          val e = table.get(t)
          if (e == null) throw new SpecError("dynamic target missing from the precompiled candidate set")
          e(v, sc, ip, sp / keyword, out)
        case None => throw new SpecError(s"unresolvable $$dynamicRef: ${dynRef.get}")
      }
    }

    /** The error steps of `o` at chain `ch`, in `ErrorWalk.node`'s keyword
      * order with its messages: references, `type`, `const`, `enum`, the
      * keywords of the value's type, then `allOf`, `anyOf`, `oneOf`, `not`
      * and `if`. Structural children are walked by their own error steps;
      * every trial takes its verdict from a verdict closure of the same
      * chain (`same`, `descend`, `matching`, the `unevaluated*`
      * collectors). */
    private def errBuild(o: Spec.Obj, ch: List[(Spec.Obj, Boolean)]): E = {
      budget -= 1
      if (budget < 0) throw Bail
      val sp = ch.map(_._1)
      val oRes = registry.resourceOf(o)
      def scoped(target: Spec, e: E): E = target match {
        case t: Spec.Obj =>
          val r = registry.resourceOf(t)
          if (r eq oRes) e else (v, sc, ip, spl, out) => e(v, sc :+ r, ip, spl, out)
        case _ => e
      }
      def childE(x: Spec): E = scoped(x, errDescend(x))
      def sameE(x: Spec): E = scoped(x, errSame(x, ch, viaRef = false))
      def childD(x: Spec): D = edge(oRes, x, descend(x))
      def trialD(x: Spec): D = edge(oRes, x, same(x, sp))
      def pattern(p: String): Pattern = Pattern.compile(EcmaRegex.translate(p))
      val steps = Vector.newBuilder[E]

      o.ref.foreach { r =>
        registry.resolve(r, oRes) match {
          case Some((target, tRes)) =>
            val body = errSame(target, ch, viaRef = true)
            steps += (if (tRes eq oRes) (v, sc, ip, spl, out) => body(v, sc, ip, spl / "$ref", out)
                      else (v, sc, ip, spl, out) => body(v, sc :+ tRes, ip, spl / "$ref", out))
          case None => throw new SpecError(s"unresolvable $$ref: $r")
        }
      }
      o.dynamicRef.foreach(r => steps += errDynamic(o, ch, Some(r)))
      o.recursiveRef.foreach(_ => steps += errDynamic(o, ch, None))
      o.types.foreach { ts =>
        steps += ((v, _, ip, spl, out) => Interp.admits(ts, v) || out.fail(ip, spl / "type", out.wrongType(ts, v)))
      }
      o.const.foreach { c =>
        steps += ((v, _, ip, spl, out) => JsonValue.equal(c, v) || out.fail(ip, spl / "const", out.notConst(c)))
      }
      o.enumVals.foreach { es =>
        steps += ((v, _, ip, spl, out) =>
          es.exists(JsonValue.equal(_, v)) || out.fail(ip, spl / "enum", out.notInEnum(es, v)))
      }

      // ---- keywords of one value type -------------------------------------
      val num: E =
        if (o.minimum.isEmpty && o.maximum.isEmpty && o.exclusiveMinimum.isEmpty &&
            o.exclusiveMaximum.isEmpty && o.multipleOf.isEmpty) GoOn
        else {
          val mi = o.minimum.orNull; val ma = o.maximum.orNull
          val emi = o.exclusiveMinimum.orNull; val ema = o.exclusiveMaximum.orNull
          val mo = o.multipleOf.orNull
          (v, _, ip, spl, out) => {
            val n = v.asInstanceOf[JNum].value
            (mi == null || n >= mi || out.fail(ip, spl / "minimum", out.belowMinimum(n, mi))) &&
            (ma == null || n <= ma || out.fail(ip, spl / "maximum", out.aboveMaximum(n, ma))) &&
            (emi == null || n > emi || out.fail(ip, spl / "exclusiveMinimum", out.atOrBelowMinimum(n, emi))) &&
            (ema == null || n < ema || out.fail(ip, spl / "exclusiveMaximum", out.atOrAboveMaximum(n, ema))) &&
            (mo == null || (n remainder mo).signum == 0 || out.fail(ip, spl / "multipleOf", out.notMultipleOf(n, mo)))
          }
        }

      val fmt: Option[(String, String => Boolean)] =
        if (!assertFormats) None
        else o.format.flatMap(f => graft.compile.Formats.scalaPredicate(f).map(f -> _))
      val str: E =
        if (o.minLength.isEmpty && o.maxLength.isEmpty && o.pattern.isEmpty && fmt.isEmpty) GoOn
        else {
          val minL = o.minLength; val maxL = o.maxLength
          val pat = o.pattern.map(p => (p, pattern(p)))
          (v, _, ip, spl, out) => {
            val s = v.asInstanceOf[JStr].value
            def n = s.codePointCount(0, s.length)
            minL.forall(m => n >= m || out.fail(ip, spl / "minLength", out.tooShort(v, m))) &&
            maxL.forall(m => n <= m || out.fail(ip, spl / "maxLength", out.tooLong(v, m))) &&
            pat.forall { case (p, re) => re.matcher(s).find() || out.fail(ip, spl / "pattern", out.noMatch(v, p)) } &&
            fmt.forall { case (f, pred) => pred(s) || out.fail(ip, spl / "format", out.notFormat(v, f)) }
          }
        }

      val objSteps = Vector.newBuilder[E]
      def fields(v: JsonValue) = v.asInstanceOf[JObj].fields
      if (o.required.nonEmpty) {
        val req = o.required
        objSteps += ((v, _, ip, spl, out) => {
          val ob = v.asInstanceOf[JObj]
          req.forall(r => ob.has(r) || out.fail(ip, spl / "required", out.missing(r)))
        })
      }
      o.minProperties.foreach(m => objSteps += ((v, _, ip, spl, out) =>
        fields(v).length >= m || out.fail(ip, spl / "minProperties", out.fewProps(v, m))))
      o.maxProperties.foreach(m => objSteps += ((v, _, ip, spl, out) =>
        fields(v).length <= m || out.fail(ip, spl / "maxProperties", out.manyProps(v, m))))
      if (o.properties.nonEmpty) {
        // schema order, as the tree-walk reports (the verdict closure walks
        // the instance's fields instead)
        val props = o.properties.map { case (k, sub) => (k, childE(sub)) }
        objSteps += ((v, sc, ip, spl, out) => {
          val ob = v.asInstanceOf[JObj]
          val spp = spl / "properties"
          props.forall { case (k, e) =>
            ob.get(k) match {
              case Some(x) => e(x, sc, ip / k, spp / k, out)
              case None => true
            }
          }
        })
      }
      val patterns = o.patternProperties.map { case (p, sub) => (p, pattern(p), sub) }
      if (patterns.nonEmpty) {
        val pats = patterns.map { case (p, re, sub) => (p, re, childE(sub)) }
        objSteps += ((v, sc, ip, spl, out) => {
          val fs = fields(v)
          val spp = spl / "patternProperties"
          pats.forall { case (p, re, e) =>
            fs.forall { case (k, x) => !re.matcher(k).find() || e(x, sc, ip / k, spp / p, out) }
          }
        })
      }
      o.additionalProperties.foreach { ap =>
        val names = o.propertyNameSet
        val res = patterns.map(_._2)
        def extra(k: String) = !names.contains(k) && !res.exists(_.matcher(k).find())
        if (ap == Spec.Reject)
          objSteps += ((v, _, ip, spl, out) => {
            val fs = fields(v)
            fs.forall { case (k, _) => !extra(k) } || out.fail(ip, spl / "additionalProperties",
              out.unexpected(fs.collect { case (k, _) if extra(k) => k }))
          })
        else {
          val e = childE(ap)
          objSteps += ((v, sc, ip, spl, out) => {
            val spa = spl / "additionalProperties"
            fields(v).forall { case (k, x) => !extra(k) || e(x, sc, ip / k, spa, out) }
          })
        }
      }
      o.propertyNames.foreach { pn =>
        val c = childD(pn)
        objSteps += ((v, sc, ip, spl, out) => fields(v).forall { case (k, _) =>
          c(JStr(k), sc) || out.fail(ip, spl / "propertyNames", out.badName(k))
        })
      }
      if (o.dependentRequired.nonEmpty) {
        val dr = o.dependentRequired
        objSteps += ((v, _, ip, spl, out) => {
          val ob = v.asInstanceOf[JObj]
          dr.forall { case (k, deps) =>
            !ob.has(k) || deps.forall(d => ob.has(d) ||
              out.fail(ip, spl / "dependentRequired", out.missingDependent(d, k)))
          }
        })
      }
      if (o.dependentSchemas.nonEmpty) {
        val deps = o.dependentSchemas.map { case (k, sub) => (k, sameE(sub)) }
        objSteps += ((v, sc, ip, spl, out) => {
          val ob = v.asInstanceOf[JObj]
          deps.forall { case (k, e) => !ob.has(k) || e(ob, sc, ip, spl / "dependentSchemas" / k, out) }
        })
      }
      o.unevaluatedProperties.foreach { u =>
        val uc = childD(u)
        val ev = evCollector(o, includeSelf = false, Nil, sp)
        objSteps += ((v, sc, ip, spl, out) => {
          val ob = v.asInstanceOf[JObj]
          val seen = ev(ob, sc)
          ob.fields.forall { case (k, x) =>
            seen.contains(k) || uc(x, sc) ||
              out.fail(ip / k, spl / "unevaluatedProperties", out.unevaluatedProperty(k))
          }
        })
      }

      val arrSteps = Vector.newBuilder[E]
      def items(v: JsonValue) = v.asInstanceOf[JArr].items
      o.minItems.foreach(m => arrSteps += ((v, _, ip, spl, out) =>
        items(v).length >= m || out.fail(ip, spl / "minItems", out.fewItems(v, m))))
      o.maxItems.foreach(m => arrSteps += ((v, _, ip, spl, out) =>
        items(v).length <= m || out.fail(ip, spl / "maxItems", out.manyItems(v, m))))
      if (o.uniqueItems) arrSteps += ((v, _, ip, spl, out) =>
        Interp.allUnique(items(v)) || out.fail(ip, spl / "uniqueItems", out.notUnique(v)))
      if (o.prefixItems.nonEmpty) {
        val pre = o.prefixItems.map(childE).toArray
        arrSteps += ((v, sc, ip, spl, out) => {
          val a = items(v)
          val spp = spl / "prefixItems"
          var i = 0; var go = true
          while (go && i < pre.length && i < a.length) { go = pre(i)(a(i), sc, ip / i, spp / i, out); i += 1 }
          go
        })
      }
      o.items.foreach { sub =>
        val e = childE(sub)
        val skip = o.prefixItems.length
        arrSteps += ((v, sc, ip, spl, out) => {
          val a = items(v)
          val spi = spl / "items"
          var i = skip; var go = true
          while (go && i < a.length) { go = e(a(i), sc, ip / i, spi, out); i += 1 }
          go
        })
      }
      o.contains.foreach { sub =>
        val c = childD(sub)
        val minC = o.minContains
        val maxC = o.maxContains
        arrSteps += ((v, sc, ip, spl, out) => {
          val cn = items(v).count(c(_, sc))
          (cn >= minC.getOrElse(1L) || out.fail(ip, spl / "contains", out.fewContained(v, cn, minC))) &&
          maxC.forall(hi => cn <= hi || out.fail(ip, spl / "maxContains", out.manyContained(cn, hi)))
        })
      }
      o.unevaluatedItems.foreach { u =>
        val uc = childD(u)
        val cov = itemCovCollector(o, includeSelf = false, Nil, sp)
        arrSteps += ((v, sc, ip, spl, out) => {
          val a = items(v)
          val (allCov, covered, cont) = cov(v, sc)
          allCov || {
            var i = 0; var go = true
            while (go && i < a.length) {
              val x = a(i)
              go = i < covered || cont.exists(p => p(x, sc)) || uc(x, sc) ||
                out.fail(ip / i, spl / "unevaluatedItems", out.unevaluatedItem(i))
              i += 1
            }
            go
          }
        })
      }

      val obj = allE(objSteps.result())
      val arr = allE(arrSteps.result())
      if ((num ne GoOn) || (str ne GoOn) || (obj ne GoOn) || (arr ne GoOn))
        steps += ((v, sc, ip, spl, out) => v match {
          case _: JNum => num(v, sc, ip, spl, out)
          case _: JStr => str(v, sc, ip, spl, out)
          case _: JObj => obj(v, sc, ip, spl, out)
          case _: JArr => arr(v, sc, ip, spl, out)
          case _ => true
        })

      // ---- combinators (same-value edges) ---------------------------------
      if (o.allOf.nonEmpty) {
        val all = o.allOf.map(sameE).toArray
        steps += ((v, sc, ip, spl, out) => {
          val spa = spl / "allOf"
          var i = 0; var go = true
          while (go && i < all.length) { go = all(i)(v, sc, ip, spa / i, out); i += 1 }
          go
        })
      }
      if (o.anyOf.nonEmpty) {
        val m = matching(o, o.anyOf, sp, cap = 1)
        steps += ((v, sc, ip, spl, out) =>
          m(v, sc) == 1 || out.fail(ip, spl / "anyOf", out.noneOf("anyOf", v)))
      }
      if (o.oneOf.nonEmpty) {
        val m = matching(o, o.oneOf, sp, cap = 2)
        steps += ((v, sc, ip, spl, out) => {
          val n = m(v, sc)
          n == 1 || out.fail(ip, spl / "oneOf", if (n == 0) out.noneOf("oneOf", v) else out.manyOneOf(v))
        })
      }
      o.not.foreach { nt =>
        val c = trialD(nt)
        steps += ((v, sc, ip, spl, out) => !c(v, sc) || out.fail(ip, spl / "not", out.notAllowed(nt, v)))
      }
      o.ifSpec.foreach { i =>
        val ci = trialD(i)
        val et = o.thenSpec.map(sameE).getOrElse(GoOn)
        val ee = o.elseSpec.map(sameE).getOrElse(GoOn)
        steps += ((v, sc, ip, spl, out) =>
          if (ci(v, sc)) et(v, sc, ip, spl / "then", out) else ee(v, sc, ip, spl / "else", out))
      }
      allE(steps.result())
    }
  }
}
