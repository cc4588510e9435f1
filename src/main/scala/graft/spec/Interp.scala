package graft.spec

/** Naive single-instance interpreter of a Spec over a JsonValue.
  *
  * Reference-faithful semantics (one instance, one verdict) — the direct
  * analog of `Validator::is_valid`
  * (`/root/reference/crates/jsonschema/src/validator.rs:500-503`). Used
  * for: (a) static evaluation inside the compiler (e.g. `propertyNames`
  * over a fixed relational schema's column names), (b) the ScalaCheck
  * property-test oracle (engine verdict over a 1-row Dataset must equal
  * this interpreter's verdict).
  */
object Interp {

  def isValid(spec: Spec, v: JsonValue): Boolean = prepare(spec).isValid(v)

  /** Registry built once, reusable across instances — the analog of a
    * compiled `Validator` for the interpreter (used per-row by the
    * contentSchema kernel, so the build must not repeat per row). `entry`
    * may be a subschema of `root` (contentSchema: its $refs resolve against
    * the whole document). */
  final case class Prepared(root: Spec, registry: Registry, entry: Spec,
                            assertFormats: Boolean = false)
      extends Serializable {
    /** Closure-compiled fast path (Compiled.scala); None ⇒ compile budget
      * exceeded and verdicts come from the tree-walk. Transient:
      * recompiled lazily per executor. */
    @transient private lazy val fast: Option[JsonValue => Boolean] =
      Compiled.compile(registry, entry, assertFormats)

    def isValid(v: JsonValue): Boolean = fast match {
      case Some(f) => f(v)
      case None    => isValidInterp(v)
    }

    /** Fused streaming parse+validate (Streaming.scala): verdict straight
      * off the source text, materializing subtrees only where the schema
      * forces trial evaluation. None ⇒ compile budget exceeded. Transient:
      * recompiled lazily per executor. */
    @transient private lazy val streamFast: Option[String => Boolean] =
      Streaming.compile(registry, entry, assertFormats)

    /** Validate a JSON document from text. Identical verdicts to
      * `isValid(JsonValue.parse(text))` on documents that parse; on
      * malformed documents either throws (like parse) or returns false
      * (when a failing constraint short-circuits before the malformed
      * region — the verdict a caller catching parse errors gets anyway). */
    def isValidText(text: String): Boolean = streamFast match {
      case Some(f) => f(text)
      case None    => isValid(JsonValue.parse(text))
    }

    /** Tree-walk verdict — the executable specification; the compiled path
      * is differentially tested against it (CompiledSpec). */
    def isValidInterp(v: JsonValue): Boolean = valid(entry, v, rootCtx, Nil)

    /** The tree-walk's context at `entry`. */
    private[Interp] def rootCtx: RootCtx = {
      val res = entry match {
        case o: Spec.Obj => registry.resourceOf(o)
        case _           => registry.rootResource
      }
      RootCtx(registry, res, List(res), assertFormats)
    }
  }

  def prepare(spec: Spec): Prepared = prepare(spec, assertFormats = false)

  /** `assertFormats = true` is the analog of the reference's
    * `validate_formats(true)` option (`options.rs`): `format` becomes an
    * assertion in single-document validation too (the table engine asserts
    * by default; the 2020-12 default for this dialect is annotation). */
  def prepare(spec: Spec, assertFormats: Boolean): Prepared = {
    Vocabularies.check(spec) // refuse dialects requiring unknown vocabularies
    val reg = Registry.build(spec)
    Prepared(spec, reg, spec, assertFormats)
  }

  /** Prepare a validator rooted at `entry`, a subschema of `root`. */
  def prepareAt(root: Spec, entry: Spec): Prepared =
    Prepared(root, Registry.build(root), entry)

  private final case class RootCtx(registry: Registry, res: Registry.Resource,
                                   scope: List[Registry.Resource],
                                   assertFormats: Boolean = false)

  /** Resolve against the CURRENT base; returns target + the ctx rebased to
    * the target's resource. Unresolvable → SpecError (never silent-accept). */
  private def resolveRef(ref: String, ctx: RootCtx): (Spec, RootCtx) =
    ctx.registry.resolve(ref, ctx.res) match {
      case Some((s, r)) => (s, rebase(ctx, r))
      case None => throw new SpecError(s"unresolvable $$ref: $ref")
    }

  private def rebase(ctx: RootCtx, r: Registry.Resource): RootCtx =
    if (r eq ctx.res) ctx
    else ctx.copy(res = r, scope = ctx.scope :+ r)

  /** Entering a subschema: if it lives in a different resource (crossed an
    * `$id` boundary), rebase and extend the dynamic scope. */
  private def entered(s: Spec, ctx: RootCtx): RootCtx = s match {
    case o: Spec.Obj => rebase(ctx, ctx.registry.resourceOf(o))
    case _ => ctx
  }

  private def codePoints(s: String): Int = s.codePointCount(0, s.length)

  /** Compiled-regex cache: `Pattern.compile` costs tens of µs and the
    * interpreter runs per ROW inside the contentSchema kernel — compiling
    * `pattern`/`patternProperties` regexes per evaluation dominated the
    * recursive-schema benchmark (~657 µs/doc before, most of it here).
    * Keys come from schema text, so the population is bounded by the
    * schemas in use; a size cap guards pathological schema churn.
    * ConcurrentHashMap: lock-free reads across executor threads. */
  private val patternCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.regex.Pattern]()
  private def compiled(p: String): java.util.regex.Pattern = {
    val hit = patternCache.get(p)
    if (hit != null) hit
    else {
      val c = java.util.regex.Pattern.compile(EcmaRegex.translate(p))
      if (patternCache.size < 10000) patternCache.putIfAbsent(p, c)
      c
    }
  }

  private def valid(spec: Spec, v: JsonValue, ctx: RootCtx, stack: List[(Spec, JsonValue)]): Boolean =
    spec match {
      case Spec.Accept => true
      case Spec.Reject => false
      case s: Spec.Obj =>
        val st = stack
        val c2 = entered(spec, ctx)
        // cycle detection only needs SAME-INSTANCE recursion steps (a
        // cycle can't span a descent into a finite instance tree), so the
        // stack resets on descent — keeps the per-node scan O(ref-chain),
        // not O(nesting depth x branch trials)
        def ok(sub: Spec, value: JsonValue): Boolean =
          valid(sub, value, c2, if (value eq v) st else Nil)
        // structure-free REF cycle ⇒ accept. The reference guards only
        // ref-TARGET (Pending) nodes (validator.rs:62-115, node.rs:198-264;
        // pure-cycle ≡ true at ref_.rs:1008), so a node first reached
        // structurally (incl. the document root) gets ONE free unrolling
        // before a ref back to it trips the guard — check + push at ref
        // arrival, never at structural entry.
        def refValid(rs: Spec, rctx: RootCtx): Boolean =
          if (st.exists { case (sp, in) => (sp eq rs) && (in eq v) }) true
          else valid(rs, v, rctx, (rs, v) :: st)

        s.ref.forall { r =>
          val (rs, rctx) = resolveRef(r, c2)
          refValid(rs, rctx)
        } &&
        s.dynamicRef.forall { r =>
          val (rs, rctx) = c2.registry.resolveDynamic(r, c2.res, c2.scope) match {
            case Some((sp, res)) => (sp, rebase(c2, res))
            case None => throw new SpecError(s"unresolvable $$dynamicRef: $r")
          }
          refValid(rs, rctx)
        } &&
        s.recursiveRef.forall { _ =>
          val (rs, res) = c2.registry.resolveRecursive(c2.res, c2.scope)
          refValid(rs, rebase(c2, res))
        } &&
        s.types.forall(ts => typeMatches(ts, v)) &&
        s.const.forall(c => JsonValue.equal(c, v)) &&
        s.enumVals.forall(_.exists(JsonValue.equal(_, v))) &&
        numCheck(v) { n =>
          s.minimum.forall(n >= _) && s.maximum.forall(n <= _) &&
          s.exclusiveMinimum.forall(n > _) && s.exclusiveMaximum.forall(n < _) &&
          s.multipleOf.forall(m => (n remainder m).compareTo(BigDecimal(0)) == 0)
        } &&
        strCheck(v) { str =>
          s.minLength.forall(codePoints(str) >= _) &&
          s.maxLength.forall(codePoints(str) <= _) &&
          s.pattern.forall(p => compiled(p).matcher(str).find()) &&
          (!ctx.assertFormats || s.format.forall(f =>
            graft.compile.Formats.scalaPredicate(f).forall(_(str))))
        } &&
        objCheck(v) { o =>
          s.required.forall(o.has) &&
          s.minProperties.forall(o.fields.length >= _) &&
          s.maxProperties.forall(o.fields.length <= _) &&
          s.properties.forall { case (name, sub) => o.get(name).forall(ok(sub, _)) } &&
          s.patternProperties.forall { case (pat, sub) =>
            val re = compiled(pat)
            o.fields.forall { case (k, value) => !re.matcher(k).find() || ok(sub, value) }
          } &&
          s.additionalProperties.forall { ap =>
            val propNames = s.propertyNameSet
            val pats = s.patternProperties.map(p => compiled(p._1))
            o.fields.forall { case (k, value) =>
              propNames.contains(k) || pats.exists(_.matcher(k).find()) || ok(ap, value)
            }
          } &&
          s.propertyNames.forall(pn => o.fields.forall { case (k, _) => ok(pn, JStr(k)) }) &&
          s.dependentRequired.forall { case (key, deps) =>
            !o.toMap.contains(key) || deps.forall(o.toMap.contains)
          } &&
          s.dependentSchemas.forall { case (key, sub) =>
            !o.toMap.contains(key) || ok(sub, v)
          } &&
          s.unevaluatedProperties.forall { u =>
            val ev = evaluatedProps(s, o, c2, st, includeSelfUneval = false)
            o.fields.forall { case (k, value) => ev.contains(k) || ok(u, value) }
          }
        } &&
        arrCheck(v) { a =>
          s.minItems.forall(a.length >= _) &&
          s.maxItems.forall(a.length <= _) &&
          (!s.uniqueItems || allUnique(a)) &&
          s.prefixItems.zipWithIndex.forall { case (sub, i) =>
            i >= a.length || ok(sub, a(i))
          } &&
          s.items.forall { sub =>
            a.drop(s.prefixItems.length).forall(ok(sub, _))
          } &&
          (s.contains match {
            case None => true
            case Some(c) =>
              val n = a.count(ok(c, _))
              n >= s.minContains.getOrElse(1L) && s.maxContains.forall(n <= _)
          }) &&
          s.unevaluatedItems.forall { u =>
            val (allCov, prefix, contains) = itemCov(s, v, c2, st, includeSelfUneval = false)
            allCov || a.zipWithIndex.forall { case (x, i) =>
              i < prefix || contains.exists(p => ok(p, x)) || ok(u, x)
            }
          }
        } &&
        s.allOf.forall(ok(_, v)) &&
        (s.anyOf.isEmpty || s.anyOf.exists(ok(_, v))) &&
        (s.oneOf.isEmpty || {
          // short-circuit: stop at the second match
          var n = 0
          val it = s.oneOf.iterator
          while (n < 2 && it.hasNext) if (ok(it.next(), v)) n += 1
          n == 1
        }) &&
        s.not.forall(!ok(_, v)) &&
        (s.ifSpec match {
          case None => true
          case Some(i) =>
            if (ok(i, v)) s.thenSpec.forall(ok(_, v))
            else s.elseSpec.forall(ok(_, v))
        })
    }

  /** Properties of `o` evaluated by `s` (annotation flow: contributions
    * only from valid in-place subschemas). */
  private def evaluatedProps(s: Spec.Obj, o: JObj, ctx: RootCtx,
                             stack: List[(Spec, JsonValue)],
                             includeSelfUneval: Boolean,
                             visited: List[Spec.Obj] = Nil): Set[String] = {
    if (visited.exists(_ eq s)) return Set.empty // recursive-ref fixpoint
    val vis = s :: visited
    val keys = o.fields.map(_._1).toSet
    var out = Set.empty[String]
    if (s.additionalProperties.nonEmpty || (includeSelfUneval && s.unevaluatedProperties.nonEmpty))
      out ++= keys
    out ++= s.properties.map(_._1).filter(keys.contains)
    s.patternProperties.foreach { case (p, _) =>
      val re = compiled(p)
      out ++= keys.filter(k => re.matcher(k).find())
    }
    def branchIn(b: Spec, bctx: RootCtx): Unit = b match {
      case bo: Spec.Obj if valid(b, o, bctx, stack) =>
        out ++= evaluatedProps(bo, o, entered(bo, bctx), stack,
          includeSelfUneval = true, vis)
      case Spec.Accept => () // accepts but evaluates nothing
      case _ => ()
    }
    def branch(b: Spec): Unit = branchIn(b, ctx)
    s.allOf.foreach(branch); s.anyOf.foreach(branch); s.oneOf.foreach(branch)
    s.ref.foreach { r => val (rs, rctx) = resolveRef(r, ctx); branchIn(rs, rctx) }
    s.dynamicRef.foreach { r =>
      ctx.registry.resolveDynamic(r, ctx.res, ctx.scope).foreach { case (rs, res) =>
        branchIn(rs, rebase(ctx, res))
      }
    }
    s.recursiveRef.foreach { _ =>
      val (rs, res) = ctx.registry.resolveRecursive(ctx.res, ctx.scope)
      branchIn(rs, rebase(ctx, res))
    }
    s.ifSpec.foreach { i =>
      if (valid(i, o, ctx, stack)) { branch(i); s.thenSpec.foreach(branch) }
      else s.elseSpec.foreach(branch)
    }
    s.dependentSchemas.foreach { case (k, sub) =>
      if (o.toMap.contains(k)) branch(sub)
    }
    out
  }

  /** (allCovered, prefixLen, containsSpecs) for unevaluatedItems. */
  private def itemCov(s: Spec.Obj, v: JsonValue, ctx: RootCtx,
                      stack: List[(Spec, JsonValue)],
                      includeSelfUneval: Boolean,
                      visited: List[Spec.Obj] = Nil): (Boolean, Int, Vector[Spec]) = {
    if (visited.exists(_ eq s)) return (false, 0, Vector.empty) // recursive-ref fixpoint
    val vis = s :: visited
    var all = s.items.nonEmpty || (includeSelfUneval && s.unevaluatedItems.nonEmpty)
    var prefix = s.prefixItems.length
    var contains = s.contains.toVector
    def branchIn(b: Spec, bctx: RootCtx): Unit = b match {
      case bo: Spec.Obj if valid(b, v, bctx, stack) =>
        val (a2, p2, c2) = itemCov(bo, v, entered(bo, bctx), stack,
          includeSelfUneval = true, vis)
        all ||= a2; prefix = math.max(prefix, p2); contains ++= c2
      case _ => ()
    }
    def branch(b: Spec): Unit = branchIn(b, ctx)
    s.allOf.foreach(branch); s.anyOf.foreach(branch); s.oneOf.foreach(branch)
    s.ref.foreach { r => val (rs, rctx) = resolveRef(r, ctx); branchIn(rs, rctx) }
    s.dynamicRef.foreach { r =>
      ctx.registry.resolveDynamic(r, ctx.res, ctx.scope).foreach { case (rs, res) =>
        branchIn(rs, rebase(ctx, res))
      }
    }
    s.recursiveRef.foreach { _ =>
      val (rs, res) = ctx.registry.resolveRecursive(ctx.res, ctx.scope)
      branchIn(rs, rebase(ctx, res))
    }
    s.ifSpec.foreach { i =>
      if (valid(i, v, ctx, stack)) { branch(i); s.thenSpec.foreach(branch) }
      else s.elseSpec.foreach(branch)
    }
    s.dependentSchemas.foreach { case (k, sub) =>
      v match {
        case o: JObj if o.toMap.contains(k) => branch(sub)
        case _ => ()
      }
    }
    (all, prefix, contains)
  }

  // ---- error enumeration (iter_errors analog for single documents) -----

  /** One keyword-level failure: where in the instance, where in the
    * schema, what went wrong — the single-document analog of the engine's
    * violation rows (`ValidationError` in the reference,
    * `crates/jsonschema/src/error.rs`). */
  final case class VError(instancePath: String, schemaPath: String, message: String)

  /** An instance or schema location as a chain of segments linked to the
    * parent, array indices kept as ints: descending costs one small
    * object, and the path text is built only for an emitted error (the
    * reference keeps its `Location` lazy the same way, `paths.rs`). */
  private final class Loc(parent: Loc, key: String, index: Int) {
    def /(k: String): Loc = new Loc(this, k, -1)
    def /(i: Int): Loc = new Loc(this, null, i)
    private def appendTo(sb: java.lang.StringBuilder): Unit = {
      if (parent ne null) { parent.appendTo(sb); sb.append('/') }
      if (key ne null) sb.append(key) else sb.append(index)
    }
    override def toString: String = {
      val sb = new java.lang.StringBuilder
      appendTo(sb)
      sb.toString
    }
  }

  /** Collect keyword-level errors for an invalid instance (display-grade:
    * combinator failures are summarized at the combinator keyword, with
    * recursion into allOf members and the active if-branch). Returns
    * empty iff the instance is valid. Capped at `limit` errors.
    *
    * One traversal, the analog of the reference's `iter_errors`
    * (`validator.rs:490-494`): each node yields its own keyword errors and
    * walks its structural children (`$ref`, `properties`,
    * `patternProperties`, `additionalProperties`, `prefixItems`, `items`,
    * `allOf`, `dependentSchemas`, `then`/`else`) directly. The walk's
    * verdict at every node is the tree-walk `valid`'s, which stays the
    * verdict authority; keywords that report at themselves (`anyOf`,
    * `oneOf`, `not`, `if`, `contains`, `propertyNames`, `unevaluated*`,
    * `$dynamicRef`, `$recursiveRef`) ask `valid` of their subschemas. The
    * cost is one tree-walk plus the paths and messages of the errors it
    * emits; the walk stops once `limit` errors are out. */
  def errors(p: Prepared, v: JsonValue, limit: Int = 100): Vector[VError] =
    errors(p, v, limit, masked = false)

  /** `masked = true` is the analog of the reference's
    * `ValidationError::masked` (`error.rs`): messages carry NO instance
    * data (values and offending property names are redacted) so errors
    * can be logged/shipped without leaking row contents; paths remain. */
  def errors(p: Prepared, v: JsonValue, limit: Int, masked: Boolean): Vector[VError] = {
    val w = new ErrorWalk(limit, masked)
    val verdict = w.walk(p.entry, v, new Loc(null, "", -1), new Loc(null, "#", -1), p.rootCtx, Nil)
    val r = w.result()
    // an invalid instance must surface at least one error even when the
    // failure lives behind a summarized construct
    if (!verdict && r.isEmpty) Vector(VError("", "#", "instance is invalid")) else r
  }

  /** One `errors` call: the errors out so far, at most `limit`. */
  private final class ErrorWalk(limit: Int, masked: Boolean) {
    private val out = Vector.newBuilder[VError]
    private var n = 0
    def result(): Vector[VError] = out.result()

    private def shv(x: => String): String = if (masked) "value" else x
    private def shk(k: String): String = if (masked) "<redacted>" else s"'$k'"
    private def shown(x: JsonValue): String = shv(JsonValue.render(x))

    /** Emit one error while under the cap; answers the failed verdict. */
    private def fail(ip: Loc, sp: Loc, msg: => String): Boolean = {
      if (n < limit) { out += VError(ip.toString, sp.toString, msg); n += 1 }
      false
    }

    // `limit` errors are out: the instance is invalid and nothing more
    // can be emitted, so every walk still open may answer false at once
    private def full: Boolean = n > 0 && n >= limit

    /** All of `xs` hold under `f`, every one of them evaluated (each may
      * emit errors). */
    private def every[A](xs: Vector[A])(f: A => Boolean): Boolean = {
      var ok = true
      val it = xs.iterator
      while (it.hasNext) ok &= f(it.next())
      ok
    }

    /** Verdict of `spec` on `value`, equal to `valid`'s, emitting the
      * errors of the failing keywords on the way. */
    def walk(spec: Spec, value: JsonValue, ip: Loc, sp: Loc,
             ctx: RootCtx, stack: List[(Spec, JsonValue)]): Boolean = spec match {
      case Spec.Accept => true
      case Spec.Reject => fail(ip, sp, s"False schema does not allow ${shown(value)}")
      case s: Spec.Obj => !full && node(s, value, ip, sp, entered(spec, ctx), stack)
    }

    private def node(s: Spec.Obj, value: JsonValue, ip: Loc, sp: Loc,
                     c2: RootCtx, st: List[(Spec, JsonValue)]): Boolean = {
      def okV(x: Spec, value2: JsonValue) =
        valid(x, value2, c2, if (value2 eq value) st else Nil)
      // ref-arrival cycle guard (mirrors valid()): a repeat of the same
      // ref target at the same instance is vacuously valid
      def refOk(rs: Spec)(f: List[(Spec, JsonValue)] => Boolean) =
        st.exists { case (x, in) => (x eq rs) && (in eq value) } || f((rs, value) :: st)

      var ok = s.ref.forall { r =>
        val (rs, rctx) = resolveRef(r, c2)
        refOk(rs)(walk(rs, value, ip, sp / "$ref", rctx, _))
      }
      ok &= s.dynamicRef.forall { r =>
        c2.registry.resolveDynamic(r, c2.res, c2.scope) match {
          case Some((rs, res)) => refOk(rs)(valid(rs, value, rebase(c2, res), _))
          case None => throw new SpecError(s"unresolvable $$dynamicRef: $r")
        }
      }
      ok &= s.recursiveRef.forall { _ =>
        val (rs, res) = c2.registry.resolveRecursive(c2.res, c2.scope)
        refOk(rs)(valid(rs, value, rebase(c2, res), _))
      }
      ok &= s.types.forall { ts =>
        typeMatches(ts, value) || fail(ip, sp / "type", {
          val names = JsonType.all.filter(ts.contains).map(t => "\"" + t.name + "\"")
          val noun = if (names.length == 1) "type" else "types"
          s"${shown(value)} is not of $noun ${names.mkString(", ")}"
        })
      }
      ok &= s.const.forall(c => JsonValue.equal(c, value) ||
        fail(ip, sp / "const", s"${JsonValue.render(c)} was expected"))
      ok &= s.enumVals.forall { es =>
        es.exists(JsonValue.equal(_, value)) || fail(ip, sp / "enum", {
          val r = es.map(JsonValue.render)
          val listed = r.length match {
            case 1 => r(0)
            case 2 => s"${r(0)} or ${r(1)}"
            case 3 => s"${r(0)}, ${r(1)} or ${r(2)}"
            case k => s"${r(0)}, ${r(1)} or ${k - 2} other candidates"
          }
          s"${shown(value)} is not one of $listed"
        })
      }
      ok &= (value match {
        case JNum(num) => number(s, num, ip, sp)
        case JStr(str) => string(s, value, str, ip, sp, c2.assertFormats)
        case o: JObj   => obj(s, o, ip, sp, c2, st)
        case JArr(a)   => arr(s, value, a, ip, sp, c2, st)
        case _         => true
      })
      if (s.allOf.nonEmpty) {
        val spa = sp / "allOf"
        var i = 0
        while (i < s.allOf.length) { ok &= walk(s.allOf(i), value, ip, spa / i, c2, st); i += 1 }
      }
      ok &= s.anyOf.isEmpty || s.anyOf.exists(okV(_, value)) || fail(ip, sp / "anyOf",
        s"${shown(value)} is not valid under any of the schemas listed in the 'anyOf' keyword")
      if (s.oneOf.nonEmpty) {
        // stop at the second match, as valid() does
        var cnt = 0
        val it = s.oneOf.iterator
        while (cnt < 2 && it.hasNext) if (okV(it.next(), value)) cnt += 1
        if (cnt == 0) ok = fail(ip, sp / "oneOf",
          s"${shown(value)} is not valid under any of the schemas listed in the 'oneOf' keyword")
        else if (cnt > 1) ok = fail(ip, sp / "oneOf",
          s"${shown(value)} is valid under more than one of the schemas listed in the 'oneOf' keyword")
      }
      ok &= s.not.forall(nt => !okV(nt, value) || fail(ip, sp / "not",
        s"${JsonValue.render(Spec.toJson(nt))} is not allowed for ${shown(value)}"))
      ok &= s.ifSpec.forall { i =>
        if (okV(i, value)) s.thenSpec.forall(walk(_, value, ip, sp / "then", c2, st))
        else s.elseSpec.forall(walk(_, value, ip, sp / "else", c2, st))
      }
      ok
    }

    private def number(s: Spec.Obj, num: BigDecimal, ip: Loc, sp: Loc): Boolean =
      s.minimum.forall(m => num >= m || fail(ip, sp / "minimum",
        s"${shv(num.toString)} is less than the minimum of $m")) &
      s.maximum.forall(m => num <= m || fail(ip, sp / "maximum",
        s"${shv(num.toString)} is greater than the maximum of $m")) &
      s.exclusiveMinimum.forall(m => num > m || fail(ip, sp / "exclusiveMinimum",
        s"${shv(num.toString)} is less than or equal to the minimum of $m")) &
      s.exclusiveMaximum.forall(m => num < m || fail(ip, sp / "exclusiveMaximum",
        s"${shv(num.toString)} is greater than or equal to the maximum of $m")) &
      s.multipleOf.forall(m => (num remainder m).signum == 0 || fail(ip, sp / "multipleOf",
        s"${shv(num.toString)} is not a multiple of $m"))

    private def string(s: Spec.Obj, value: JsonValue, str: String, ip: Loc, sp: Loc,
                       assertFormats: Boolean): Boolean = {
      lazy val cp = codePoints(str)
      def chars(m: Long) = if (m == 1L) "character" else "characters"
      s.minLength.forall(m => cp >= m || fail(ip, sp / "minLength",
        s"${shown(value)} is shorter than $m ${chars(m)}")) &
      s.maxLength.forall(m => cp <= m || fail(ip, sp / "maxLength",
        s"${shown(value)} is longer than $m ${chars(m)}")) &
      s.pattern.forall(pt => compiled(pt).matcher(str).find() || fail(ip, sp / "pattern",
        s"${shown(value)} does not match ${JsonValue.render(JStr(pt))}")) &
      (!assertFormats || s.format.forall(f =>
        graft.compile.Formats.scalaPredicate(f).forall(pred => pred(str) || fail(ip, sp / "format",
          s"${shown(value)} is not a ${JsonValue.render(JStr(f))}"))))
    }

    private def obj(s: Spec.Obj, o: JObj, ip: Loc, sp: Loc,
                    c2: RootCtx, st: List[(Spec, JsonValue)]): Boolean = {
      def okV(x: Spec, value2: JsonValue) = valid(x, value2, c2, Nil)
      def props(m: Long) = if (m == 1L) "property" else "properties"
      var ok = every(s.required)(r => o.has(r) ||
        fail(ip, sp / "required", "\"" + r + "\" is a required property"))
      ok &= s.minProperties.forall(m => o.fields.length >= m || fail(ip, sp / "minProperties",
        s"${shown(o)} has less than $m ${props(m)}"))
      ok &= s.maxProperties.forall(m => o.fields.length <= m || fail(ip, sp / "maxProperties",
        s"${shown(o)} has more than $m ${props(m)}"))
      if (s.properties.nonEmpty) {
        val spp = sp / "properties"
        ok &= every(s.properties) { case (k, psub) =>
          o.get(k).forall(walk(psub, _, ip / k, spp / k, c2, Nil))
        }
      }
      if (s.patternProperties.nonEmpty) {
        val spp = sp / "patternProperties"
        ok &= every(s.patternProperties) { case (pat, psub) =>
          val re = compiled(pat)
          every(o.fields) { case (k, pv) => !re.matcher(k).find() || walk(psub, pv, ip / k, spp / pat, c2, Nil) }
        }
      }
      ok &= s.additionalProperties.forall { ap =>
        val names = s.propertyNameSet
        val pats = s.patternProperties.map(pp => compiled(pp._1))
        def extra(k: String) = !names.contains(k) && !pats.exists(_.matcher(k).find())
        if (ap == Spec.Reject) {
          val listed = o.fields.collect { case (k, _) if extra(k) => k }
          // one aggregated error, the reference's template
          // (`keywords/mod.rs` unexpected-property message)
          listed.isEmpty || fail(ip, sp / "additionalProperties", {
            val verb = if (listed.length == 1) "was" else "were"
            s"Additional properties are not allowed (${listed.map(shk).mkString(", ")} $verb unexpected)"
          })
        } else {
          val spa = sp / "additionalProperties"
          every(o.fields) { case (k, pv) => !extra(k) || walk(ap, pv, ip / k, spa, c2, Nil) }
        }
      }
      ok &= s.propertyNames.forall(pn => every(o.fields) { case (k, _) =>
        okV(pn, JStr(k)) || fail(ip, sp / "propertyNames", s"property name ${shk(k)} is invalid")
      })
      ok &= every(s.dependentRequired) { case (k, deps) =>
        !o.has(k) || every(deps)(d => o.has(d) ||
          fail(ip, sp / "dependentRequired", s"'$d' is required when '$k' is present"))
      }
      ok &= every(s.dependentSchemas) { case (k, dsub) =>
        !o.has(k) || walk(dsub, o, ip, sp / "dependentSchemas" / k, c2, st)
      }
      ok &= s.unevaluatedProperties.forall { u =>
        val ev = evaluatedProps(s, o, c2, st, includeSelfUneval = false)
        every(o.fields) { case (k, pv) =>
          ev.contains(k) || okV(u, pv) || fail(ip / k, sp / "unevaluatedProperties",
            s"unevaluated property ${shk(k)} is not allowed")
        }
      }
      ok
    }

    private def arr(s: Spec.Obj, value: JsonValue, a: Vector[JsonValue], ip: Loc, sp: Loc,
                    c2: RootCtx, st: List[(Spec, JsonValue)]): Boolean = {
      def okV(x: Spec, value2: JsonValue) = valid(x, value2, c2, Nil)
      def items(m: Long) = if (m == 1L) "item" else "items"
      var ok = s.minItems.forall(m => a.length >= m || fail(ip, sp / "minItems",
        s"${shown(value)} has less than $m ${items(m)}"))
      ok &= s.maxItems.forall(m => a.length <= m || fail(ip, sp / "maxItems",
        s"${shown(value)} has more than $m ${items(m)}"))
      ok &= !s.uniqueItems || allUnique(a) ||
        fail(ip, sp / "uniqueItems", s"${shown(value)} has non-unique elements")
      var idx = 0
      if (s.prefixItems.nonEmpty) {
        val spp = sp / "prefixItems"
        while (idx < s.prefixItems.length && idx < a.length && !full) {
          ok &= walk(s.prefixItems(idx), a(idx), ip / idx, spp / idx, c2, Nil)
          idx += 1
        }
      }
      s.items match {
        case Some(isub) =>
          val spi = sp / "items"
          idx = s.prefixItems.length
          while (idx < a.length && !full) {
            ok &= walk(isub, a(idx), ip / idx, spi, c2, Nil)
            idx += 1
          }
        case None => ()
      }
      ok &= s.contains.forall { csub =>
        val cn = a.count(okV(csub, _))
        val lo = s.minContains.getOrElse(1L)
        (cn >= lo || fail(ip, sp / "contains",
          if (cn == 0 && s.minContains.isEmpty) s"None of ${shown(value)} are valid under the given schema"
          else s"array contains $cn matching items, fewer than $lo")) &
        s.maxContains.forall(hi => cn <= hi || fail(ip, sp / "maxContains",
          s"array contains $cn matching items, more than $hi"))
      }
      ok &= s.unevaluatedItems.forall { u =>
        val (allCov, prefix, cont) = itemCov(s, value, c2, st, includeSelfUneval = false)
        allCov || every(a.zipWithIndex) { case (x, i) =>
          i < prefix || cont.exists(okV(_, x)) || okV(u, x) ||
            fail(ip / i, sp / "unevaluatedItems", s"unevaluated item at index $i is not allowed")
        }
      }
      ok
    }
  }

  private def typeMatches(ts: Set[JsonType], v: JsonValue): Boolean = {
    val t = v.jsonType
    ts.contains(t) || (t == JsonType.Integer && ts.contains(JsonType.Number))
  }

  private def numCheck(v: JsonValue)(f: BigDecimal => Boolean): Boolean = v match {
    case JNum(n) => f(n)
    case _       => true
  }
  private def strCheck(v: JsonValue)(f: String => Boolean): Boolean = v match {
    case JStr(s) => f(s)
    case _       => true
  }
  private def objCheck(v: JsonValue)(f: JObj => Boolean): Boolean = v match {
    case o: JObj => f(o)
    case _       => true
  }
  private def arrCheck(v: JsonValue)(f: Vector[JsonValue] => Boolean): Boolean = v match {
    case JArr(a) => f(a)
    case _       => true
  }

  private def allUnique(a: Vector[JsonValue]): Boolean = {
    var i = 0
    while (i < a.length) {
      var j = i + 1
      while (j < a.length) {
        if (JsonValue.equal(a(i), a(j))) return false
        j += 1
      }
      i += 1
    }
    true
  }
}
