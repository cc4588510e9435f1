package graft.spec

/** Single-document validation of a Spec over a JsonValue.
  *
  * One tree-walk (`ErrorWalk`) is the executable specification of both
  * verbs of the reference's `Validator` (`crates/jsonschema/src/validator.rs:490-503`):
  * run with an error budget of `limit` it lists the errors
  * (`Prepared.errorsInterp`), and the tree-walk verdict (`is_valid`,
  * `Prepared.isValidInterp`) is the same walk with a budget of 0, which
  * stops at the first failing keyword. The production paths run compiled
  * closures: `Prepared.isValid` the verdict closures (`Compiled`),
  * `isValidText` the streaming tier (`Streaming`), and `errors` the
  * compiled error steps (`Compiled.compileErrors`), all tested against
  * the tree-walk. The tree-walk answers in production only where a schema
  * does not compile: over the compile budget, or, for `errors`, a schema
  * error it raises only when it reaches it. `Prepared` also serves the
  * contentSchema kernel and the meta-schema check, and `isValid` the
  * compiler's static evaluation (e.g. `propertyNames` over a fixed
  * relational schema's column names).
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

    /** Compiled error steps (`Compiled.compileErrors`), built on the first
      * `errors` call so verdict-only users never pay for them; None ⇒ the
      * tree-walk enumerates. Transient: recompiled lazily per executor. */
    @transient private[spec] lazy val errorSteps: Option[Compiled.Errors] =
      Compiled.compileErrors(registry, entry, assertFormats)

    /** Tree-walk error enumeration — the specification of `errors`, and
      * its answer where the schema does not compile. */
    private[graft] def errorsInterp(v: JsonValue, limit: Int, masked: Boolean): Vector[VError] = {
      val out = new Sink(limit, masked)
      new ErrorWalk(out).walk(entry, v, instanceRoot, schemaRoot, rootCtx, Nil)
      out.result()
    }

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

  /** The tree-walk verdict: the one walk with an error budget of 0, which
    * stops at the first failing keyword and answers whether none failed. */
  private def valid(spec: Spec, v: JsonValue, ctx: RootCtx, stack: List[(Spec, JsonValue)]): Boolean =
    Verdict.walk(spec, v, NoLoc, NoLoc, ctx, stack)

  /** Calls `f` on `s` and, depth first, on every in-place subschema whose
    * annotations reach `s`'s `unevaluated*` keywords: the `allOf`, `anyOf`
    * and `oneOf` members, the `$ref`, `$dynamicRef` and `$recursiveRef`
    * targets, the taken `if`/`then`/`else` and the `dependentSchemas` of
    * present properties — each only where `v` is valid under it
    * (annotation flow). `f` learns whether the schema is nested, i.e. not
    * `s` itself. A schema already on the path is cut (recursive-ref
    * fixpoint). */
  private def annotating(s: Spec.Obj, v: JsonValue, ctx: RootCtx,
                         stack: List[(Spec, JsonValue)])(f: (Spec.Obj, Boolean) => Unit): Unit = {
    def visit(s: Spec.Obj, ctx: RootCtx, path: List[Spec.Obj]): Unit = if (!path.exists(_ eq s)) {
      f(s, path.nonEmpty)
      val vis = s :: path
      def enter(b: Spec, bctx: RootCtx): Unit = b match {
        case bo: Spec.Obj => visit(bo, entered(bo, bctx), vis)
        case _ => () // true/false schemas evaluate nothing
      }
      def branchIn(b: Spec, bctx: RootCtx): Unit = if (valid(b, v, bctx, stack)) enter(b, bctx)
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
        if (valid(i, v, ctx, stack)) { enter(i, ctx); s.thenSpec.foreach(branch) }
        else s.elseSpec.foreach(branch)
      }
      s.dependentSchemas.foreach { case (k, sub) =>
        v match {
          case o: JObj if o.has(k) => branch(sub)
          case _ => ()
        }
      }
    }
    visit(s, ctx, Nil)
  }

  /** Properties of `o` evaluated by `s` and its valid in-place branches. */
  private def evaluatedProps(s: Spec.Obj, o: JObj, ctx: RootCtx,
                             stack: List[(Spec, JsonValue)]): Set[String] = {
    val keys = o.fields.map(_._1).toSet
    var out = Set.empty[String]
    annotating(s, o, ctx, stack) { (b, nested) =>
      if (b.additionalProperties.nonEmpty || (nested && b.unevaluatedProperties.nonEmpty))
        out ++= keys
      out ++= b.properties.map(_._1).filter(keys.contains)
      b.patternProperties.foreach { case (p, _) =>
        val re = compiled(p)
        out ++= keys.filter(k => re.matcher(k).find())
      }
    }
    out
  }

  /** (allCovered, prefixLen, containsSpecs) for unevaluatedItems. */
  private def itemCov(s: Spec.Obj, v: JsonValue, ctx: RootCtx,
                      stack: List[(Spec, JsonValue)]): (Boolean, Int, Vector[Spec]) = {
    var all = false
    var prefix = 0
    var contains = Vector.empty[Spec]
    annotating(s, v, ctx, stack) { (b, nested) =>
      all ||= b.items.nonEmpty || (nested && b.unevaluatedItems.nonEmpty)
      prefix = math.max(prefix, b.prefixItems.length)
      contains ++= b.contains
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
  private[spec] final class Loc(parent: Loc, key: String, index: Int) {
    def /(k: String): Loc = if (this eq NoLoc) this else new Loc(this, k, -1)
    def /(i: Int): Loc = if (this eq NoLoc) this else new Loc(this, null, i)
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

  /** The root instance location (`""`) and schema location (`"#"`). */
  private[spec] def instanceRoot: Loc = new Loc(null, "", -1)
  private[spec] def schemaRoot: Loc = new Loc(null, "#", -1)

  /** The location of a verdict-only walk, which emits nothing: descending
    * from it builds nothing. */
  private val NoLoc = new Loc(null, "", -1)

  /** Where an error walk's errors go, and the one table of their message
    * texts, shared by the tree-walk and the compiled error steps
    * (`Compiled.compileErrors`). `fail` emits while under the budget and
    * answers whether the walk goes on (`n < limit`); a budget of 0 emits
    * nothing and answers false at once. Messages are by-name, so a text is
    * rendered only when it is emitted. */
  private[spec] final class Sink(limit: Int, masked: Boolean) {
    private val out = if (limit > 0) Vector.newBuilder[VError] else null
    private var n = 0
    def result(): Vector[VError] = out.result()

    def fail(ip: Loc, sp: Loc, msg: => String): Boolean = {
      if (n < limit) { out += VError(ip.toString, sp.toString, msg); n += 1 }
      n < limit
    }

    private def shv(x: => String): String = if (masked) "value" else x
    def shk(k: String): String = if (masked) "<redacted>" else s"'$k'"
    def shown(x: JsonValue): String = shv(JsonValue.render(x))
    private def plural(m: Long, one: String, many: String) = if (m == 1L) one else many

    def falseSchema(v: JsonValue) = s"False schema does not allow ${shown(v)}"
    def wrongType(ts: Set[JsonType], v: JsonValue): String = {
      val names = JsonType.all.filter(ts.contains).map(t => "\"" + t.name + "\"")
      s"${shown(v)} is not of ${plural(names.length, "type", "types")} ${names.mkString(", ")}"
    }
    def notConst(c: JsonValue) = s"${JsonValue.render(c)} was expected"
    def notInEnum(es: Vector[JsonValue], v: JsonValue): String = {
      val r = es.map(JsonValue.render)
      val listed = r.length match {
        case 1 => r(0)
        case 2 => s"${r(0)} or ${r(1)}"
        case 3 => s"${r(0)}, ${r(1)} or ${r(2)}"
        case k => s"${r(0)}, ${r(1)} or ${k - 2} other candidates"
      }
      s"${shown(v)} is not one of $listed"
    }
    def noneOf(kw: String, v: JsonValue) =
      s"${shown(v)} is not valid under any of the schemas listed in the '$kw' keyword"
    def manyOneOf(v: JsonValue) =
      s"${shown(v)} is valid under more than one of the schemas listed in the 'oneOf' keyword"
    def notAllowed(nt: Spec, v: JsonValue) =
      s"${JsonValue.render(Spec.toJson(nt))} is not allowed for ${shown(v)}"

    def belowMinimum(x: BigDecimal, m: BigDecimal) = s"${shv(x.toString)} is less than the minimum of $m"
    def aboveMaximum(x: BigDecimal, m: BigDecimal) = s"${shv(x.toString)} is greater than the maximum of $m"
    def atOrBelowMinimum(x: BigDecimal, m: BigDecimal) =
      s"${shv(x.toString)} is less than or equal to the minimum of $m"
    def atOrAboveMaximum(x: BigDecimal, m: BigDecimal) =
      s"${shv(x.toString)} is greater than or equal to the maximum of $m"
    def notMultipleOf(x: BigDecimal, m: BigDecimal) = s"${shv(x.toString)} is not a multiple of $m"

    def tooShort(v: JsonValue, m: Long) = s"${shown(v)} is shorter than $m ${plural(m, "character", "characters")}"
    def tooLong(v: JsonValue, m: Long) = s"${shown(v)} is longer than $m ${plural(m, "character", "characters")}"
    def noMatch(v: JsonValue, pt: String) = s"${shown(v)} does not match ${JsonValue.render(JStr(pt))}"
    def notFormat(v: JsonValue, f: String) = s"${shown(v)} is not a ${JsonValue.render(JStr(f))}"

    def missing(r: String) = "\"" + r + "\" is a required property"
    def fewProps(v: JsonValue, m: Long) = s"${shown(v)} has less than $m ${plural(m, "property", "properties")}"
    def manyProps(v: JsonValue, m: Long) = s"${shown(v)} has more than $m ${plural(m, "property", "properties")}"
    /** One aggregated error, the reference's template (`keywords/mod.rs`
      * unexpected-property message). */
    def unexpected(listed: Seq[String]) =
      s"Additional properties are not allowed (${listed.map(shk).mkString(", ")} " +
        s"${plural(listed.length, "was", "were")} unexpected)"
    def badName(k: String) = s"property name ${shk(k)} is invalid"
    def missingDependent(d: String, k: String) = s"'$d' is required when '$k' is present"
    def unevaluatedProperty(k: String) = s"unevaluated property ${shk(k)} is not allowed"

    def fewItems(v: JsonValue, m: Long) = s"${shown(v)} has less than $m ${plural(m, "item", "items")}"
    def manyItems(v: JsonValue, m: Long) = s"${shown(v)} has more than $m ${plural(m, "item", "items")}"
    def notUnique(v: JsonValue) = s"${shown(v)} has non-unique elements"
    def fewContained(v: JsonValue, cn: Int, minContains: Option[Long]) =
      if (cn == 0 && minContains.isEmpty) s"None of ${shown(v)} are valid under the given schema"
      else s"array contains $cn matching items, fewer than ${minContains.getOrElse(1L)}"
    def manyContained(cn: Int, hi: Long) = s"array contains $cn matching items, more than $hi"
    def unevaluatedItem(i: Int) = s"unevaluated item at index $i is not allowed"
  }

  /** The verdict-only walk. With a budget of 0 it emits nothing and keeps
    * no state, so one instance serves every caller and thread. */
  private val Verdict = new ErrorWalk(new Sink(0, masked = false))

  /** Collect keyword-level errors for an instance (display-grade:
    * combinator failures are summarized at the combinator keyword, with
    * recursion into allOf members and the active if-branch). Returns
    * empty iff the instance is valid. Capped at `limit` errors, `limit`
    * at least 1.
    *
    * The analog of the reference's `iter_errors` (`validator.rs:490-494`),
    * where each node yields its own keyword errors and walks its
    * structural children. The lists come from the compiled error steps
    * (`Compiled.compileErrors`, built on the first call per `Prepared`),
    * which emit what the tree-walk `ErrorWalk` emits; the tree-walk
    * answers only where the schema does not compile (over the compile
    * budget, or a schema error such as an unresolvable `$ref`, which the
    * walk then raises when, and only if, it reaches it). */
  def errors(p: Prepared, v: JsonValue, limit: Int = 100): Vector[VError] =
    errors(p, v, limit, masked = false)

  /** `masked = true` is the analog of the reference's
    * `ValidationError::masked` (`error.rs`): messages carry NO instance
    * data (values and offending property names are redacted) so errors
    * can be logged/shipped without leaking row contents; paths remain. */
  def errors(p: Prepared, v: JsonValue, limit: Int, masked: Boolean): Vector[VError] = {
    require(limit >= 1, s"error limit must be at least 1, got $limit")
    p.errorSteps match {
      case Some(e) => e(v, limit, masked)
      case None    => p.errorsInterp(v, limit, masked)
    }
  }

  /** The one tree-walk, writing to `out`. It walks the structural
    * children (`$ref`, `$dynamicRef`, `$recursiveRef`, `properties`,
    * `patternProperties`, `additionalProperties`, `prefixItems`, `items`,
    * `allOf`, `dependentSchemas`, `then`/`else`) and notes each failing
    * keyword in `out`. Keywords that report at themselves (`anyOf`,
    * `oneOf`, `not`, `if`, `contains`, `propertyNames`, `unevaluated*`)
    * take the verdict of their subschemas from a walk of their own with
    * budget 0 (`valid`). The walk is full once a keyword has failed and
    * the budget's errors are out; from then on every keyword step and
    * loop is skipped, so with budget 0 it stops at the first failing
    * keyword. Every step answers whether the walk goes on, i.e. is not yet
    * full. */
  private final class ErrorWalk(out: Sink) {
    import out.fail

    /** `f` holds at every index in [`from`, `until`), stopping at the first
      * where it does not (a loop: `Range.forall` boxes every index). */
    private def indices(from: Int, until: Int)(f: Int => Boolean): Boolean = {
      var i = from
      while (i < until && f(i)) i += 1
      i >= until
    }

    def walk(spec: Spec, value: JsonValue, ip: Loc, sp: Loc,
             ctx: RootCtx, stack: List[(Spec, JsonValue)]): Boolean = spec match {
      case Spec.Accept => true
      case Spec.Reject => fail(ip, sp, out.falseSchema(value))
      case s: Spec.Obj => node(s, value, ip, sp, entered(spec, ctx), stack)
    }

    private def node(s: Spec.Obj, value: JsonValue, ip: Loc, sp: Loc,
                     c2: RootCtx, st: List[(Spec, JsonValue)]): Boolean = {
      // cycle detection only needs SAME-INSTANCE recursion steps (a cycle
      // can't span a descent into a finite instance tree), so the stack
      // resets on descent — keeps the per-node scan O(ref-chain), not
      // O(nesting depth x branch trials)
      def trial(x: Spec) = valid(x, value, c2, st)
      // structure-free REF cycle ⇒ accept. The reference guards only
      // ref-TARGET (Pending) nodes (validator.rs:62-115, node.rs:198-264;
      // pure-cycle ≡ true at ref_.rs:1008), so a node first reached
      // structurally (incl. the document root) gets ONE free unrolling
      // before a ref back to it trips the guard — check + push at ref
      // arrival, never at structural entry.
      def ref(rs: Spec, rctx: RootCtx, keyword: String) =
        st.exists { case (x, in) => (x eq rs) && (in eq value) } ||
          walk(rs, value, ip, sp / keyword, rctx, (rs, value) :: st)

      s.ref.forall { r =>
        val (rs, rctx) = resolveRef(r, c2)
        ref(rs, rctx, "$ref")
      } &&
      s.dynamicRef.forall { r =>
        c2.registry.resolveDynamic(r, c2.res, c2.scope) match {
          case Some((rs, res)) => ref(rs, rebase(c2, res), "$dynamicRef")
          case None => throw new SpecError(s"unresolvable $$dynamicRef: $r")
        }
      } &&
      s.recursiveRef.forall { _ =>
        val (rs, res) = c2.registry.resolveRecursive(c2.res, c2.scope)
        ref(rs, rebase(c2, res), "$recursiveRef")
      } &&
      s.types.forall(ts => admits(ts, value) || fail(ip, sp / "type", out.wrongType(ts, value))) &&
      s.const.forall(c => JsonValue.equal(c, value) || fail(ip, sp / "const", out.notConst(c))) &&
      s.enumVals.forall(es => es.exists(JsonValue.equal(_, value)) ||
        fail(ip, sp / "enum", out.notInEnum(es, value))) &&
      (value match {
        case JNum(num) => number(s, num, ip, sp)
        case JStr(str) => string(s, value, str, ip, sp, c2.assertFormats)
        case o: JObj   => obj(s, o, ip, sp, c2, st)
        case JArr(a)   => arr(s, value, a, ip, sp, c2, st)
        case _         => true
      }) &&
      (s.allOf.isEmpty || {
        val spa = sp / "allOf"
        indices(0, s.allOf.length)(i => walk(s.allOf(i), value, ip, spa / i, c2, st))
      }) &&
      (s.anyOf.isEmpty || s.anyOf.exists(trial) || fail(ip, sp / "anyOf", out.noneOf("anyOf", value))) &&
      (s.oneOf.isEmpty || {
        // stop at the second match
        var cnt = 0
        val it = s.oneOf.iterator
        while (cnt < 2 && it.hasNext) if (trial(it.next())) cnt += 1
        cnt == 1 || fail(ip, sp / "oneOf",
          if (cnt == 0) out.noneOf("oneOf", value) else out.manyOneOf(value))
      }) &&
      s.not.forall(nt => !trial(nt) || fail(ip, sp / "not", out.notAllowed(nt, value))) &&
      s.ifSpec.forall { i =>
        if (trial(i)) s.thenSpec.forall(walk(_, value, ip, sp / "then", c2, st))
        else s.elseSpec.forall(walk(_, value, ip, sp / "else", c2, st))
      }
    }

    private def number(s: Spec.Obj, num: BigDecimal, ip: Loc, sp: Loc): Boolean =
      s.minimum.forall(m => num >= m || fail(ip, sp / "minimum", out.belowMinimum(num, m))) &&
      s.maximum.forall(m => num <= m || fail(ip, sp / "maximum", out.aboveMaximum(num, m))) &&
      s.exclusiveMinimum.forall(m => num > m ||
        fail(ip, sp / "exclusiveMinimum", out.atOrBelowMinimum(num, m))) &&
      s.exclusiveMaximum.forall(m => num < m ||
        fail(ip, sp / "exclusiveMaximum", out.atOrAboveMaximum(num, m))) &&
      s.multipleOf.forall(m => (num remainder m).signum == 0 ||
        fail(ip, sp / "multipleOf", out.notMultipleOf(num, m)))

    private def string(s: Spec.Obj, value: JsonValue, str: String, ip: Loc, sp: Loc,
                       assertFormats: Boolean): Boolean =
      s.minLength.forall(m => codePoints(str) >= m || fail(ip, sp / "minLength", out.tooShort(value, m))) &&
      s.maxLength.forall(m => codePoints(str) <= m || fail(ip, sp / "maxLength", out.tooLong(value, m))) &&
      s.pattern.forall(pt => compiled(pt).matcher(str).find() ||
        fail(ip, sp / "pattern", out.noMatch(value, pt))) &&
      (!assertFormats || s.format.forall(f =>
        graft.compile.Formats.scalaPredicate(f).forall(pred => pred(str) ||
          fail(ip, sp / "format", out.notFormat(value, f)))))

    private def obj(s: Spec.Obj, o: JObj, ip: Loc, sp: Loc,
                    c2: RootCtx, st: List[(Spec, JsonValue)]): Boolean = {
      def trial(x: Spec, child: JsonValue) = valid(x, child, c2, Nil)
      s.required.forall(r => o.has(r) || fail(ip, sp / "required", out.missing(r))) &&
      s.minProperties.forall(m => o.fields.length >= m ||
        fail(ip, sp / "minProperties", out.fewProps(o, m))) &&
      s.maxProperties.forall(m => o.fields.length <= m ||
        fail(ip, sp / "maxProperties", out.manyProps(o, m))) &&
      (s.properties.isEmpty || {
        val spp = sp / "properties"
        s.properties.forall { case (k, psub) =>
          o.get(k).forall(walk(psub, _, ip / k, spp / k, c2, Nil))
        }
      }) &&
      (s.patternProperties.isEmpty || {
        val spp = sp / "patternProperties"
        s.patternProperties.forall { case (pat, psub) =>
          val re = compiled(pat)
          o.fields.forall { case (k, pv) =>
            !re.matcher(k).find() || walk(psub, pv, ip / k, spp / pat, c2, Nil)
          }
        }
      }) &&
      s.additionalProperties.forall { ap =>
        val names = s.propertyNameSet
        val pats = s.patternProperties.map(pp => compiled(pp._1))
        def extra(k: String) = !names.contains(k) && !pats.exists(_.matcher(k).find())
        if (ap == Spec.Reject)
          o.fields.forall { case (k, _) => !extra(k) } || fail(ip, sp / "additionalProperties",
            out.unexpected(o.fields.collect { case (k, _) if extra(k) => k }))
        else {
          val spa = sp / "additionalProperties"
          o.fields.forall { case (k, pv) => !extra(k) || walk(ap, pv, ip / k, spa, c2, Nil) }
        }
      } &&
      s.propertyNames.forall(pn => o.fields.forall { case (k, _) =>
        trial(pn, JStr(k)) || fail(ip, sp / "propertyNames", out.badName(k))
      }) &&
      s.dependentRequired.forall { case (k, deps) =>
        !o.has(k) || deps.forall(d => o.has(d) ||
          fail(ip, sp / "dependentRequired", out.missingDependent(d, k)))
      } &&
      s.dependentSchemas.forall { case (k, dsub) =>
        !o.has(k) || walk(dsub, o, ip, sp / "dependentSchemas" / k, c2, st)
      } &&
      s.unevaluatedProperties.forall { u =>
        val ev = evaluatedProps(s, o, c2, st)
        o.fields.forall { case (k, pv) =>
          ev.contains(k) || trial(u, pv) ||
            fail(ip / k, sp / "unevaluatedProperties", out.unevaluatedProperty(k))
        }
      }
    }

    private def arr(s: Spec.Obj, value: JsonValue, a: Vector[JsonValue], ip: Loc, sp: Loc,
                    c2: RootCtx, st: List[(Spec, JsonValue)]): Boolean = {
      def trial(x: Spec, item: JsonValue) = valid(x, item, c2, Nil)
      val prefix = s.prefixItems.length
      s.minItems.forall(m => a.length >= m || fail(ip, sp / "minItems", out.fewItems(value, m))) &&
      s.maxItems.forall(m => a.length <= m || fail(ip, sp / "maxItems", out.manyItems(value, m))) &&
      (!s.uniqueItems || allUnique(a) || fail(ip, sp / "uniqueItems", out.notUnique(value))) &&
      (prefix == 0 || {
        val spp = sp / "prefixItems"
        indices(0, math.min(prefix, a.length))(i =>
          walk(s.prefixItems(i), a(i), ip / i, spp / i, c2, Nil))
      }) &&
      s.items.forall { isub =>
        val spi = sp / "items"
        indices(prefix, a.length)(i => walk(isub, a(i), ip / i, spi, c2, Nil))
      } &&
      s.contains.forall { csub =>
        val cn = a.count(trial(csub, _))
        (cn >= s.minContains.getOrElse(1L) ||
          fail(ip, sp / "contains", out.fewContained(value, cn, s.minContains))) &&
        s.maxContains.forall(hi => cn <= hi || fail(ip, sp / "maxContains", out.manyContained(cn, hi)))
      } &&
      s.unevaluatedItems.forall { u =>
        val (allCov, covered, cont) = itemCov(s, value, c2, st)
        allCov || indices(0, a.length) { i =>
          i < covered || cont.exists(trial(_, a(i))) || trial(u, a(i)) ||
            fail(ip / i, sp / "unevaluatedItems", out.unevaluatedItem(i))
        }
      }
    }
  }

  /** `ts` admits `v`. A number under `number` is admitted without asking
    * whether it is integral; only `integer` needs that. */
  private[spec] def admits(ts: Set[JsonType], v: JsonValue): Boolean = v match {
    case n: JNum => ts.contains(JsonType.Number) || (ts.contains(JsonType.Integer) && n.isIntegral)
    case _       => ts.contains(v.jsonType)
  }

  private[spec] def allUnique(a: Vector[JsonValue]): Boolean = {
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
