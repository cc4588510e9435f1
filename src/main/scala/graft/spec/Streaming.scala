package graft.spec

import java.util.regex.Pattern
import scala.collection.mutable.ArrayBuffer

/** Fused streaming parse+validate — validates a JSON document straight off
  * the source text, without materializing the value tree where the schema
  * permits. The reference's headline "Recursive" benchmark is exactly this
  * shape (parse + validate per document); its Rust walker pays a serde
  * tree per document, and so does our `JsonValue.parse` + `Compiled` pair.
  * This path removes the tree for the deterministic subset of the keyword
  * grammar, which is also the GC-pressure story at table scale: the
  * contentSchema kernel runs one validation per ROW.
  *
  * Semantics are anchored to `Compiled` (itself differentially tested
  * against the tree-walk `Interp`): every node either
  *
  *  - STREAM-compILES: its same-value closure (the node plus everything
  *    reachable over `$ref`/`allOf`/dispatched `anyOf`/`oneOf` edges)
  *    contains only order-independent keywords, single-resource, so checks
  *    fuse into one token-dispatched pass; or
  *  - MATERIALIZES: the value at that position is read into a tree by
  *    the same cursor (`Cur.readTree`, the lexer `JsonValue.parse` uses)
  *    and handed to the node's compiled twin built by `Compiled.Sub` with
  *    the same same-value cycle-cut chain, so verdicts are `Compiled`'s by
  *    construction.
  *
  * Non-streamable constructs (whole-node materialization): `not`,
  * `if`/`then`/`else`, `unevaluated*`, `dependentSchemas`,
  * `$dynamicRef`/`$recursiveRef`, trial-loop `anyOf`/`oneOf` (no type or
  * tag dispatch), container `const`/`enum` members, >64 tracked keys
  * (required + dependentRequired), any resource-crossing same-value edge.
  * `dependentRequired` streams via presence bits checked at object end;
  * `contains`/`minContains`/`maxContains`/`uniqueItems` stream with
  * per-ITEM materialization (match counting / math-equality
  * distinctness — the node itself stays fused).
  *
  * Failure semantics: a failing check aborts immediately, so malformedness
  * AFTER the deciding token may go unseen (parse-then-validate would throw
  * instead); on documents that parse, verdicts are identical. Skipped
  * values are still grammar-checked (strict RFC 8259 skip), so a VALID
  * verdict implies the whole document parses.
  */
object Streaming {

  private object Unstreamable extends RuntimeException {
    override def fillInStackTrace(): Throwable = this
  }

  /** Grammar-only vet: does `text` lex as one JSON value? Runs the strict
    * RFC 8259 skip (no tree); agreement with `JsonValue.parse` acceptance
    * is pinned by LexerDifferentialSpec. Used by contentSchemaValid to
    * split invalid-from-malformed without re-building a tree (ADVICE r04
    * #4). */
  def grammarOk(text: String): Boolean =
    try { Cur.root(text).skipValue(); true }
    catch { case _: java.io.IOException => false }

  /** Compiled streaming validator for `entry`; None when the tree-side
    * twin compiler exceeds its budget (caller falls back to parse+walk). */
  def compile(registry: Registry, entry: Spec, assertFormats: Boolean): Option[String => Boolean] =
    try {
      val c = new SCompiler(registry, entry, assertFormats)
      val root = c.rootRef()
      Some(text => root.f(Cur.root(text)))
    } catch { case t: RuntimeException if Compiled.isBail(t) => None }

  // ==== runtime structures ==================================================

  /** Forward cell for recursive structural edges. */
  private[spec] final class SRef { var f: Cur => Boolean = null }

  private[spec] final class FP(val reqBit: Int, val isProp: Boolean,
                         val s: SRef, val d: JsonValue => Boolean)
  private final class PatC(val re: Pattern, val s: SRef, val d: JsonValue => Boolean)

  /** Length-bucketed field dispatch for the single-consumer object pass:
    * resolves a field-name SPAN of the source text to its FP with one
    * regionMatches per same-length candidate — no intern-pool probe, no
    * hashing, no substring (r06: FieldIntern.internRange was 48% of the
    * CITM single-core profile; property sets are small, so the length
    * bucket is almost always a singleton). */
  private[spec] final class FieldProbe(maxLen: Int, names: Array[Array[String]],
                                 fps: Array[Array[FP]],
                                 map: java.util.HashMap[String, FP]) {
    /** Consume the field name at the cursor and resolve it in place. */
    def read(cur: Cur): FP = {
      val d = cur.scanFieldName()
      if (d == null) lookup(cur.s, cur.tok, cur.i - 1)
      else map.get(d) // escaped name (rare): its decoded text
    }
    private def lookup(s: String, start: Int, end: Int): FP = {
      val len = end - start
      if (len > maxLen) return null
      val ns = names(len)
      if (ns == null) return null
      var k = 0
      while (k < ns.length) {
        if (s.regionMatches(start, ns(k), 0, len)) return fps(len)(k)
        k += 1
      }
      null
    }
  }
  private[spec] object FieldProbe {
    def build(map: java.util.HashMap[String, FP]): FieldProbe = {
      var maxLen = 0
      val it0 = map.keySet().iterator()
      while (it0.hasNext) maxLen = math.max(maxLen, it0.next().length)
      val names = new Array[Array[String]](maxLen + 1)
      val fps = new Array[Array[FP]](maxLen + 1)
      val it = map.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val len = e.getKey.length
        names(len) = if (names(len) == null) Array(e.getKey) else names(len) :+ e.getKey
        fps(len) = if (fps(len) == null) Array(e.getValue) else fps(len) :+ e.getValue
      }
      new FieldProbe(maxLen, names, fps, map)
    }
  }
  /** `depTrig(i)`/`depNeed(i)`: one `dependentRequired` entry as presence
    * masks — trigger bit set ⇒ all need bits must be set at object end.
    * FP.reqBit doubles as the presence bit (required keys own
    * [0, reqCount); dependency-tracked keys sit above). */
  private final class OC(val fields: java.util.HashMap[String, FP], val patterns: Array[PatC],
                         val apS: SRef, val apD: JsonValue => Boolean,
                         val reqCount: Int, val minP: Long, val maxP: Long,
                         val depTrig: Array[Long] = Array.empty,
                         val depNeed: Array[Long] = Array.empty) {
    val reqFull: Long = if (reqCount >= 64) -1L else (1L << reqCount) - 1
    val tracksBits: Boolean = reqCount > 0 || depTrig.length > 0
    // single-consumer fast dispatch (see FieldProbe); built once at
    // compile time, shared read-only across rows and threads
    val probe: FieldProbe = FieldProbe.build(fields)
  }
  /** Tag-dispatched combinator over objects (mirrors Compiled constDispatch).
    * branches(i) == null ⇒ that branch rejects all objects. */
  private final class BranchObj(val cons: Array[OC], val pns: Array[String => Boolean])
  private final class OD(val key: String,
                         val strTable: java.util.HashMap[String, Integer],
                         val renderTable: Map[String, Int],
                         val branches: Array[BranchObj]) {
    /** Worst-case consumer/pns growth a decision can add — lets the pass
      * preallocate flat tables instead of growable collections. */
    val maxBranchCons: Int =
      branches.iterator.filter(_ != null).map(_.cons.length).maxOption.getOrElse(0)
    val maxBranchPns: Int =
      branches.iterator.filter(_ != null).map(_.pns.length).maxOption.getOrElse(0)
    /** Precomputed per tag value (the tag checks run against CONSTANTS, so
      * they evaluate at compile time): full verdict of the tag field
      * against the node's own consumers plus the selected branch's, and
      * the required-bit deltas both contribute. Filled by `assemble` once
      * the node's consumer set is final; lets the dominant
      * tag-arrives-first object decide with ONE hash get — no JStr, no
      * tree twins, no per-consumer map lookups. */
    var fastTag: java.util.HashMap[String, TagHit] = null
  }
  /** delta(i): required-bit contribution of the tag field — [0, nCons0)
    * for the node's own consumers, [nCons0, …) for the branch's. */
  private final class TagHit(val branch: Int, val ok: Boolean, val delta: Array[Long])
  /** `contD` non-null ⇒ items materialize one at a time and matches are
    * counted — `contains` is order-independent over the count, so the
    * node still streams (the array's SIBLING checks and the rest of the
    * document stay fused; pre-contains the whole NODE materialized). */
  private final class AC(val prefixS: Array[SRef], val prefixD: Array[JsonValue => Boolean],
                         val itemsS: SRef, val itemsD: JsonValue => Boolean,
                         val minI: Long, val maxI: Long,
                         val contD: JsonValue => Boolean = null,
                         val minC: Long = 1L, val maxC: Long = -1L,
                         val uniq: Boolean = false)

  /** Per-node assembled shape: one entry per JSON type atom
    * (null/bool/int/frac/str/arr/obj), mirroring Compiled's typeTag. */
  private final class Shape(
      val okNull: Boolean, val okTrue: Boolean, val okFalse: Boolean,
      val okInt: Boolean, val okFrac: Boolean,
      val numCI: Array[JNum => Boolean], val numCF: Array[JNum => Boolean],
      val okStr: Boolean, val strC: Array[String => Boolean],
      val okArr: Boolean, val acs: Array[AC],
      val okObj: Boolean, val cons: Array[OC], val disp: Array[OD],
      val pns: Array[String => Boolean]) {

    def run(cur: Cur): Boolean = {
      cur.ws()
      (cur.peek: @annotation.switch) match {
        case '"' =>
          if (!okStr) false
          else if (strC.length == 0) { cur.skipString(); true }
          else {
            val s = cur.readString()
            var k = 0; var ok = true
            while (ok && k < strC.length) { ok = strC(k)(s); k += 1 }
            ok
          }
        case '{' =>
          okObj && {
            if (cons.length == 0 && disp.length == 0 && pns.length == 0) { cur.skipValue(); true }
            else if (disp.length == 0) objPass(cur, cons, pns)
            else objPassDispatch(cur, cons, disp, pns)
          }
        case '[' =>
          okArr && {
            if (acs.length == 0) { cur.skipValue(); true }
            else arrPass(cur, acs)
          }
        case 't' => cur.word("true"); okTrue
        case 'f' => cur.word("false"); okFalse
        case 'n' => cur.word("null"); okNull
        case _ =>
          if (!okInt && !okFrac) false
          else {
            // r06: scan first, materialize only when a constraint (or an
            // int/frac split on a '.'/'e' token) actually needs the value.
            // "type": "integer" over plain integer tokens — the dominant
            // case on id-heavy documents — no longer builds a BigDecimal
            // per number (readNumber was 16% of the CITM profile).
            val start = cur.i
            val intOnly = cur.scanNumber()
            if (intOnly && numCI.length == 0) okInt
            else if (!intOnly && okInt && okFrac && numCI.length == 0 && numCF.length == 0) true
            else {
              val jn = cur.numFromSpan(start, intOnly)
              val cs = if (jn.isIntegral) { if (!okInt) return false; numCI }
                       else { if (!okFrac) return false; numCF }
              var k = 0; var ok = true
              while (ok && k < cs.length) { ok = cs(k)(jn); k += 1 }
              ok
            }
          }
      }
    }
  }

  // ---- object pass (no tag dispatch) ---------------------------------------

  private def objPass(cur: Cur, cons: Array[OC], pns: Array[String => Boolean]): Boolean = {
    cur.bump() // '{'
    cur.ws()
    var masks: Array[Long] = null
    var mi = 0
    while (masks == null && mi < cons.length) {
      if (cons(mi).tracksBits) masks = new Array[Long](cons.length)
      mi += 1
    }
    // uniform-map fast path: no consumer reads the key (no properties,
    // patternProperties, propertyNames, required/dependency bits) — the
    // shape `additionalProperties: S` over data-as-keys maps (e.g. CITM's
    // id-keyed catalogs). Interning thousands of distinct document keys
    // thrashes the bounded pool, and the value consumer is the same for
    // every key, so skip the name and stream the value.
    if (masks == null && pns.length == 0 && {
          var ci = 0; var kf = true
          while (kf && ci < cons.length) {
            val oc = cons(ci); kf = oc.fields.isEmpty && oc.patterns.length == 0; ci += 1
          }
          kf
        }) {
      var apCount = 0
      var apOne: SRef = null
      var ci = 0
      while (ci < cons.length) {
        if (cons(ci).apS != null) { apCount += 1; apOne = cons(ci).apS }
        ci += 1
      }
      var count = 0
      if (cur.peek == '}') cur.bump()
      else {
        var next = true
        while (next) {
          cur.ws()
          cur.skipFieldName()
          cur.ws(); cur.expect(':')
          if (apCount == 0) cur.skipValue()
          else if (apCount == 1) { if (!apOne.f(cur)) return false }
          else {
            val v = cur.readTree()
            ci = 0
            while (ci < cons.length) {
              val d = cons(ci).apD
              if (d != null && !d(v)) return false
              ci += 1
            }
          }
          count += 1
          next = cur.more('}')
        }
      }
      return endObj(cons, masks, count)
    }
    // single-consumer struct fast path (r06): no patternProperties, no
    // propertyNames — the only uses of the key are the field-map lookup
    // and the required/dependency bit, so dispatch the RAW span through
    // the consumer's FieldProbe instead of interning every occurrence
    // (FieldIntern.internRange was 48% of the CITM single-core profile).
    // Semantics mirror the general loop below specialized to one
    // consumer: nChecks can only be 0 or 1, so the materialized
    // (readTree) arm is unreachable.
    if (cons.length == 1 && pns.length == 0 && cons(0).patterns.length == 0) {
      val oc = cons(0)
      val probe = oc.probe
      var count = 0
      if (cur.peek == '}') cur.bump()
      else {
        var next = true
        while (next) {
          cur.ws()
          val fp = probe.read(cur)
          cur.ws(); cur.expect(':')
          if (fp != null) {
            if (fp.reqBit >= 0) masks(0) |= 1L << fp.reqBit
            if (fp.isProp) {
              if (fp.s != null) { if (!fp.s.f(cur)) return false }
              else cur.skipValue()
            } else if (oc.apS != null) { if (!oc.apS.f(cur)) return false }
            else cur.skipValue()
          } else if (oc.apS != null) { if (!oc.apS.f(cur)) return false }
          else cur.skipValue()
          count += 1
          next = cur.more('}')
        }
      }
      return endObj(cons, masks, count)
    }
    var count = 0
    if (cur.peek == '}') cur.bump()
    else {
      var next = true
      while (next) {
        cur.ws()
        val key = cur.readFieldName()
        cur.ws(); cur.expect(':')
        var pi = 0
        while (pi < pns.length) { if (!pns(pi)(key)) return false; pi += 1 }
        // gather: count applicable checks; if exactly one, stream it
        var nChecks = 0
        var theS: SRef = null
        var ci = 0
        while (ci < cons.length) {
          val oc = cons(ci)
          val fp = oc.fields.get(key)
          var covered = false
          if (fp != null) {
            if (fp.reqBit >= 0) masks(ci) |= 1L << fp.reqBit
            if (fp.isProp) {
              covered = true
              if (fp.s != null) { nChecks += 1; theS = fp.s }
            }
          }
          var pj = 0
          while (pj < oc.patterns.length) {
            val p = oc.patterns(pj)
            if (p.re.matcher(key).find()) { covered = true; nChecks += 1; theS = p.s }
            pj += 1
          }
          if (!covered && oc.apS != null) { nChecks += 1; theS = oc.apS }
          ci += 1
        }
        if (nChecks == 0) cur.skipValue()
        else if (nChecks == 1) { if (!theS.f(cur)) return false }
        else {
          val v = cur.readTree()
          ci = 0
          while (ci < cons.length) {
            if (!applyTree(cons(ci), key, v)) return false
            ci += 1
          }
        }
        count += 1
        next = cur.more('}')
      }
    }
    endObj(cons, masks, count)
  }

  /** Apply a consumer's tree-side checks to one field (materialized path).
    * Required bits are handled by the caller. */
  private def applyTree(oc: OC, key: String, v: JsonValue): Boolean = {
    val fp = oc.fields.get(key)
    var covered = false
    if (fp != null && fp.isProp) {
      covered = true
      if (fp.d != null && !fp.d(v)) return false
    }
    var pj = 0
    while (pj < oc.patterns.length) {
      val p = oc.patterns(pj)
      if (p.re.matcher(key).find()) { covered = true; if (!p.d(v)) return false }
      pj += 1
    }
    if (!covered && oc.apD != null && !oc.apD(v)) return false
    true
  }

  private def endObj(cons: Array[OC], masks: Array[Long], count: Int,
                     n: Int = -1): Boolean = {
    val end = if (n < 0) cons.length else n
    var ci = 0
    while (ci < end) {
      val oc = cons(ci)
      if (oc.reqCount > 0 && (masks(ci) & oc.reqFull) != oc.reqFull) return false
      var di = 0
      while (di < oc.depTrig.length) {
        val m = masks(ci)
        if ((m & oc.depTrig(di)) != 0 && (m & oc.depNeed(di)) != oc.depNeed(di))
          return false
        di += 1
      }
      if (oc.minP >= 0 && count < oc.minP) return false
      if (oc.maxP >= 0 && count > oc.maxP) return false
      ci += 1
    }
    true
  }

  // ---- object pass with pending tag dispatch -------------------------------

  private def objPassDispatch(cur: Cur, cons0: Array[OC], disp0: Array[OD],
                              pns0: Array[String => Boolean]): Boolean = {
    cur.bump() // '{'
    cur.ws()
    // flat preallocated tables: branch consumers activate in place as
    // dispatch keys decide — no growable collections, no Long boxing on
    // the required-bit masks, nothing allocated for the common
    // tag-arrives-first object beyond these three arrays
    var consCap = cons0.length
    var pnsCap = pns0.length
    var di0 = 0
    while (di0 < disp0.length) {
      consCap += disp0(di0).maxBranchCons
      pnsCap += disp0(di0).maxBranchPns
      di0 += 1
    }
    val cons = java.util.Arrays.copyOf(cons0, consCap)
    var nCons = cons0.length
    val masks = new Array[Long](consCap)
    val pns = java.util.Arrays.copyOf(pns0, pnsCap)
    var nPns = pns0.length
    val pending = disp0.clone()
    var undecided = pending.length
    var bufK: ArrayBuffer[String] = null
    var bufV: ArrayBuffer[JsonValue] = null

    def feedTree(from: Int, key: String, v: JsonValue): Boolean = {
      var ci = from
      while (ci < nCons) {
        val oc = cons(ci)
        val fp = oc.fields.get(key)
        if (fp != null && fp.reqBit >= 0) masks(ci) |= 1L << fp.reqBit
        if (!applyTree(oc, key, v)) return false
        ci += 1
      }
      true
    }
    // the tag field decides: select the branch, activate its consumers,
    // replay everything buffered so far (which includes the tag field)
    def tryDecide(key: String, v: JsonValue): Boolean = {
      var di = 0
      while (di < pending.length) {
        val dp = pending(di)
        if (dp != null && dp.key == key) {
          val idx: Int = v match {
            case JStr(s0) =>
              val hit = dp.strTable.get(s0)
              if (hit != null) hit.intValue
              else dp.renderTable.getOrElse(JsonValue.render(v), -1)
            case _ => dp.renderTable.getOrElse(JsonValue.render(v), -1)
          }
          if (idx < 0) return false
          val br = dp.branches(idx)
          if (br == null) return false
          pending(di) = null
          undecided -= 1
          val base = nCons
          var bi = 0
          while (bi < br.cons.length) { cons(nCons) = br.cons(bi); nCons += 1; bi += 1 }
          var pi = 0
          while (pi < br.pns.length) {
            val pn = br.pns(pi)
            var k = 0
            while (k < bufK.length) { if (!pn(bufK(k))) return false; k += 1 }
            pns(nPns) = pn; nPns += 1
            pi += 1
          }
          var k = 0
          while (k < bufK.length) {
            if (!feedTree(base, bufK(k), bufV(k))) return false
            k += 1
          }
        }
        di += 1
      }
      true
    }

    var count = 0
    if (cur.peek == '}') cur.bump()
    else {
      var next = true
      while (next) {
        cur.ws()
        val key = cur.readFieldName()
        cur.ws(); cur.expect(':')
        var pi = 0
        while (pi < nPns) { if (!pns(pi)(key)) return false; pi += 1 }
        if (undecided > 0) {
          // tag fast path: single pending dispatch, nothing buffered, no
          // consumer growth yet, string value on the dispatch key — the
          // whole field's verdict + required-bit effects were precomputed
          // at compile time (OD.fastTag): one hash get, no JStr, no twins.
          cur.ws()
          var handled = false
          var preRead: JsonValue = null // consumed by the fast path, table miss
          if (undecided == 1 && bufK == null && nCons == cons0.length &&
              cur.peek == '"') {
            var di = 0
            while (di < pending.length && (pending(di) == null || pending(di).key != key)) di += 1
            if (di < pending.length && pending(di).fastTag != null) {
              val dp = pending(di)
              val s0 = cur.readString()
              val hit = dp.fastTag.get(s0)
              if (hit == null) preRead = JStr(s0) // escaped-const tags live in renderTable
              else if (!hit.ok) return false
              else {
                pending(di) = null
                undecided = 0
                var k = 0
                while (k < nCons) { masks(k) |= hit.delta(k); k += 1 }
                val br = dp.branches(hit.branch)
                var bi = 0
                while (bi < br.cons.length) {
                  cons(nCons) = br.cons(bi)
                  masks(nCons) = hit.delta(cons0.length + bi)
                  nCons += 1; bi += 1
                }
                var pi2 = 0
                while (pi2 < br.pns.length) { pns(nPns) = br.pns(pi2); nPns += 1; pi2 += 1 }
                handled = true
              }
            }
          }
          if (!handled) {
            // branch membership unknown: materialize and buffer
            val v = if (preRead != null) preRead else cur.readTree()
            if (bufK == null) { bufK = new ArrayBuffer[String](4); bufV = new ArrayBuffer[JsonValue](4) }
            bufK += key; bufV += v
            if (!feedTree(0, key, v)) return false
            if (!tryDecide(key, v)) return false
            if (undecided == 0) { bufK = null; bufV = null } // decided: stream from here on
          }
        } else {
          var nChecks = 0
          var theS: SRef = null
          var ci = 0
          while (ci < nCons) {
            val oc = cons(ci)
            val fp = oc.fields.get(key)
            var covered = false
            if (fp != null) {
              if (fp.reqBit >= 0) masks(ci) |= 1L << fp.reqBit
              if (fp.isProp) {
                covered = true
                if (fp.s != null) { nChecks += 1; theS = fp.s }
              }
            }
            var pj = 0
            while (pj < oc.patterns.length) {
              val p = oc.patterns(pj)
              if (p.re.matcher(key).find()) { covered = true; nChecks += 1; theS = p.s }
              pj += 1
            }
            if (!covered && oc.apS != null) { nChecks += 1; theS = oc.apS }
            ci += 1
          }
          if (nChecks == 0) cur.skipValue()
          else if (nChecks == 1) { if (!theS.f(cur)) return false }
          else {
            val v = cur.readTree()
            ci = 0
            while (ci < nCons) {
              if (!applyTree(cons(ci), key, v)) return false
              ci += 1
            }
          }
        }
        count += 1
        next = cur.more('}')
      }
    }
    if (undecided > 0) return false // dispatch key absent ⇒ no branch selected
    endObj(cons, masks, count, nCons)
  }

  // ---- array pass -----------------------------------------------------------

  private def arrPass(cur: Cur, acs: Array[AC]): Boolean = {
    cur.bump() // '['
    cur.ws()
    var count = 0
    var hasMat = false
    var anyUniq = false
    var hi = 0
    while (hi < acs.length) {
      hasMat ||= acs(hi).contD != null || acs(hi).uniq
      anyUniq ||= acs(hi).uniq
      hi += 1
    }
    var contCounts: Array[Int] = if (hasMat) new Array[Int](acs.length) else null
    val seen: ArrayBuffer[JsonValue] = if (anyUniq) new ArrayBuffer[JsonValue](8) else null
    if (cur.peek == ']') cur.bump()
    else {
      var next = true
      while (next) {
        if (hasMat) {
          // contains/uniqueItems demand the item VALUE (match counting /
          // math-equality distinctness): materialize this item — not the
          // node — and run every check tree-side
          val v = cur.readTree()
          if (anyUniq) {
            var si = 0
            while (si < seen.length) { if (JsonValue.equal(seen(si), v)) return false; si += 1 }
            seen += v
          }
          var ai = 0
          while (ai < acs.length) {
            val ac = acs(ai)
            val d = if (count < ac.prefixD.length) ac.prefixD(count) else ac.itemsD
            if (d != null && !d(v)) return false
            if (ac.contD != null && ac.contD(v)) contCounts(ai) += 1
            ai += 1
          }
        } else {
          var nChecks = 0
          var theS: SRef = null
          var ai = 0
          while (ai < acs.length) {
            val ac = acs(ai)
            val s = if (count < ac.prefixS.length) ac.prefixS(count) else ac.itemsS
            if (s != null) { nChecks += 1; theS = s }
            ai += 1
          }
          if (nChecks == 0) cur.skipValue()
          else if (nChecks == 1) { if (!theS.f(cur)) return false }
          else {
            val v = cur.readTree()
            ai = 0
            while (ai < acs.length) {
              val ac = acs(ai)
              val d = if (count < ac.prefixD.length) ac.prefixD(count) else ac.itemsD
              if (d != null && !d(v)) return false
              ai += 1
            }
          }
        }
        count += 1
        next = cur.more(']')
      }
    }
    var ai = 0
    while (ai < acs.length) {
      val ac = acs(ai)
      if (ac.minI >= 0 && count < ac.minI) return false
      if (ac.maxI >= 0 && count > ac.maxI) return false
      if (ac.contD != null) {
        val n = contCounts(ai)
        if (n < ac.minC) return false
        if (ac.maxC >= 0 && n > ac.maxC) return false
      }
      ai += 1
    }
    true
  }

  // ==== compiler =============================================================

  private final class SCompiler(registry: Registry, entry: Spec, assertFormats: Boolean) {
    private val sub = new Compiled.Sub(registry, assertFormats)
    private val entryRes = entry match {
      case o: Spec.Obj => registry.resourceOf(o)
      case _           => registry.rootResource
    }
    private val scope0 = List(entryRes)
    private val memoS = new java.util.IdentityHashMap[Spec.Obj, SRef]()
    private var budget = 20000

    private val skipTrueRef: SRef = { val r = new SRef; r.f = c => { c.skipValue(); true }; r }
    private val falseRef: SRef = { val r = new SRef; r.f = _ => false; r }

    def rootRef(): SRef = entry match {
      case Spec.Accept => skipTrueRef
      case Spec.Reject => falseRef
      case o: Spec.Obj => descendS(o)
    }

    /** Tree-side twin of `s` in same-value chain `sp`, scope folded in. */
    private def twinSame(s: Spec, sp: List[Spec.Obj]): JsonValue => Boolean = {
      val d = sub.sameAt(s, sp)
      wrapScope(s, d)
    }
    private def twinEntry(s: Spec): JsonValue => Boolean = {
      val d = sub.entryAt(s)
      wrapScope(s, d)
    }
    private def wrapScope(s: Spec,
                          d: (JsonValue, List[Registry.Resource]) => Boolean): JsonValue => Boolean =
      s match {
        case o: Spec.Obj =>
          val r = registry.resourceOf(o)
          if (r eq entryRes) v => d(v, scope0)
          else { val sc = scope0 :+ r; v => d(v, sc) }
        case _ => v => d(v, scope0)
      }

    /** Structural child: (streaming ref, tree-side twin). Cross-resource
      * children materialize (the compiled twin threads the scope). */
    private def childS(s: Spec): (SRef, JsonValue => Boolean) = s match {
      case Spec.Accept => (skipTrueRef, _ => true)
      case Spec.Reject => (falseRef, _ => false)
      case o: Spec.Obj =>
        val d = twinEntry(o)
        if (registry.resourceOf(o) eq entryRes) (descendS(o), d)
        else { val r = new SRef; r.f = c => d(c.readTree()); (r, d) }
    }

    /** Structural node entry: stream-compile, or materialize the whole
      * node through its compiled twin. */
    private def descendS(o: Spec.Obj): SRef = {
      val hit = memoS.get(o)
      if (hit != null) return hit
      val ref = new SRef
      memoS.put(o, ref)
      ref.f =
        try {
          val acc = new Acc
          addNode(o, acc, o :: Nil)
          assemble(acc)
        } catch {
          case Unstreamable =>
            val d = twinEntry(o)
            c => d(c.readTree())
        }
      ref
    }

    // ---- accumulated per-atom checks for one same-value closure ----------
    private final class Acc {
      var okNull = true; var okTrue = true; var okFalse = true
      var okInt = true; var okFrac = true; var okStr = true
      var okArr = true; var okObj = true
      val numCI = ArrayBuffer[JNum => Boolean]()
      val numCF = ArrayBuffer[JNum => Boolean]()
      val strC = ArrayBuffer[String => Boolean]()
      val acs = ArrayBuffer[AC]()
      val cons = ArrayBuffer[OC]()
      val disp = ArrayBuffer[OD]()
      val pns = ArrayBuffer[String => Boolean]()
      def reject(): Unit = {
        okNull = false; okTrue = false; okFalse = false
        okInt = false; okFrac = false; okStr = false; okArr = false; okObj = false
      }
    }

    private def assemble(acc: Acc): Cur => Boolean = {
      val cons0 = acc.cons.toArray
      // Precompute the tag-hit table now that the node's consumer set is
      // final: every check the tag field faces is against compile-time
      // constants, so the verdict + required-bit deltas fold into one
      // table entry per tag value (see OD.fastTag).
      acc.disp.foreach { od =>
        val ft = new java.util.HashMap[String, TagHit]()
        od.strTable.forEach { (tag, idxI) =>
          val idx = idxI.intValue
          val br = od.branches(idx)
          if (br == null) ft.put(tag, new TagHit(idx, false, null))
          else {
            val v = JStr(tag)
            var ok = true
            val delta = new Array[Long](cons0.length + br.cons.length)
            var ci = 0
            while (ci < cons0.length) {
              val oc = cons0(ci)
              val fp = oc.fields.get(od.key)
              if (fp != null && fp.reqBit >= 0) delta(ci) |= 1L << fp.reqBit
              ok &&= applyTree(oc, od.key, v)
              ci += 1
            }
            var bi = 0
            while (bi < br.cons.length) {
              val oc = br.cons(bi)
              val fp = oc.fields.get(od.key)
              if (fp != null && fp.reqBit >= 0) delta(cons0.length + bi) |= 1L << fp.reqBit
              ok &&= applyTree(oc, od.key, v)
              bi += 1
            }
            var pi = 0
            while (pi < br.pns.length) { ok &&= br.pns(pi)(od.key); pi += 1 }
            ft.put(tag, new TagHit(idx, ok, delta))
          }
        }
        od.fastTag = ft
      }
      val shape = new Shape(
        acc.okNull, acc.okTrue, acc.okFalse,
        acc.okInt, acc.okFrac, acc.numCI.toArray, acc.numCF.toArray,
        acc.okStr, acc.strC.toArray,
        acc.okArr, acc.acs.toArray,
        acc.okObj, cons0, acc.disp.toArray, acc.pns.toArray)
      c => shape.run(c)
    }

    /** Does `s` accept EVERY value of atom `t` (1), NO value (0), or does
      * the verdict depend on the value (-1)? Conservative pure analysis;
      * scalar atoms always report -1 (they are folded by value instead). */
    private def atomStatus(s: Spec, t: JsonType, sp: List[Spec.Obj]): Int = s match {
      case Spec.Accept => 1
      case Spec.Reject => 0
      case o: Spec.Obj =>
        if (sp.exists(_ eq o)) 1 // same-position ref cycle ⇒ vacuous accept
        else {
          val allows = o.types.forall(ts => ts.contains(t) ||
            (t == JsonType.Integer && ts.contains(JsonType.Number)))
          if (!allows) 0
          else {
            val dep = o.const.nonEmpty || o.enumVals.nonEmpty ||
              o.dynamicRef.nonEmpty || o.recursiveRef.nonEmpty || (t match {
                case JsonType.Array =>
                  o.items.nonEmpty || o.prefixItems.nonEmpty ||
                  o.minItems.exists(_ > 0) || o.maxItems.nonEmpty ||
                  o.contains.nonEmpty || o.uniqueItems ||
                  o.unevaluatedItems.nonEmpty
                case JsonType.Object =>
                  o.properties.nonEmpty || o.patternProperties.nonEmpty ||
                  o.additionalProperties.nonEmpty || o.required.nonEmpty ||
                  o.minProperties.exists(_ > 0) || o.maxProperties.nonEmpty ||
                  o.propertyNames.nonEmpty || o.dependentRequired.nonEmpty ||
                  o.dependentSchemas.nonEmpty ||
                  o.unevaluatedProperties.nonEmpty
                case _ => true
              })
            if (dep) -1
            else {
              val sp2 = o :: sp
              // 0 dominates a conjunction, then -1, then 1
              def conj(a: Int, b: Int): Int =
                if (a == 0 || b == 0) 0 else if (a == -1 || b == -1) -1 else 1
              def disj(a: Int, b: Int): Int =
                if (a == 1 || b == 1) 1 else if (a == -1 || b == -1) -1 else 0
              var st = 1
              o.ref.foreach { r =>
                registry.resolve(r, registry.resourceOf(o)) match {
                  case Some((tg, _)) => st = conj(st, atomStatus(tg, t, sp2))
                  case None          => st = conj(st, -1)
                }
              }
              o.allOf.foreach(b => st = conj(st, atomStatus(b, t, sp2)))
              if (o.anyOf.nonEmpty)
                st = conj(st, o.anyOf.map(atomStatus(_, t, sp2)).reduce(disj))
              if (o.oneOf.nonEmpty) {
                val bs = o.oneOf.map(atomStatus(_, t, sp2))
                val ones = bs.count(_ == 1)
                val one =
                  if (ones >= 2) 0
                  else if (bs.contains(-1)) -1
                  else if (ones == 1) 1
                  else 0
                st = conj(st, one)
              }
              o.not.foreach { n =>
                val ns = atomStatus(n, t, sp2)
                st = conj(st, if (ns == -1) -1 else 1 - ns)
              }
              o.ifSpec.foreach { i =>
                val is = atomStatus(i, t, sp2)
                val ts = o.thenSpec.map(atomStatus(_, t, sp2)).getOrElse(1)
                val es = o.elseSpec.map(atomStatus(_, t, sp2)).getOrElse(1)
                val ite = is match {
                  case 1  => ts
                  case 0  => es
                  case -1 => if (ts == es) ts else -1
                }
                st = conj(st, ite)
              }
              st
            }
          }
        }
    }

    /** Fold `not: n` into the check sets (see addNode). */
    private def foldNot(n: Spec, acc: Acc, sp: List[Spec.Obj]): Unit = {
      val f = twinSame(n, sp)
      if (acc.okNull) acc.okNull = !f(JNull)
      if (acc.okTrue) acc.okTrue = !f(JBool(true))
      if (acc.okFalse) acc.okFalse = !f(JBool(false))
      val numNeg = (jn: JNum) => !f(jn)
      acc.numCI += numNeg; acc.numCF += numNeg
      acc.strC += (s => !f(JStr(s)))
      if (acc.okArr) atomStatus(n, JsonType.Array, sp) match {
        case 1  => acc.okArr = false // body accepts every array ⇒ ¬ rejects
        case 0  => ()                // body rejects arrays ⇒ ¬ is vacuous
        case _  => throw Unstreamable
      }
      if (acc.okObj) atomStatus(n, JsonType.Object, sp) match {
        case 1  => acc.okObj = false
        case 0  => ()
        case _  => throw Unstreamable
      }
    }

    /** Fold `if`/`then`/`else` into the check sets (see addNode). */
    private def foldIte(i: Spec, t: Option[Spec], e: Option[Spec],
                        acc: Acc, sp: List[Spec.Obj]): Unit = {
      val fi = twinSame(i, sp)
      val ft = t.map(twinSame(_, sp))
      val fe = e.map(twinSame(_, sp))
      def ite(v: JsonValue): Boolean =
        if (fi(v)) ft.forall(_(v)) else fe.forall(_(v))
      if (acc.okNull) acc.okNull = ite(JNull)
      if (acc.okTrue) acc.okTrue = ite(JBool(true))
      if (acc.okFalse) acc.okFalse = ite(JBool(false))
      val numIte = (jn: JNum) => ite(jn)
      acc.numCI += numIte; acc.numCF += numIte
      acc.strC += (s => ite(JStr(s)))
      def atomFold(atom: JsonType, get: () => Boolean, clear: () => Unit): Unit =
        if (get()) {
          val branchStatus = atomStatus(i, atom, sp) match {
            case 1  => t.map(atomStatus(_, atom, sp)).getOrElse(1)
            case 0  => e.map(atomStatus(_, atom, sp)).getOrElse(1)
            case -1 =>
              val ts = t.map(atomStatus(_, atom, sp)).getOrElse(1)
              val es = e.map(atomStatus(_, atom, sp)).getOrElse(1)
              if (ts == es) ts else -1
          }
          branchStatus match {
            case 1  => ()
            case 0  => clear()
            case -1 => throw Unstreamable
          }
        }
      atomFold(JsonType.Array, () => acc.okArr, () => acc.okArr = false)
      atomFold(JsonType.Object, () => acc.okObj, () => acc.okObj = false)
    }

    /** Merge node `o`'s same-value closure into `acc`. Mirrors
      * Compiled.Builder.build's check-set keyword by keyword; throws
      * Unstreamable on any order-dependent construct. */
    private def addNode(o: Spec.Obj, acc: Acc, sp: List[Spec.Obj]): Unit = {
      budget -= 1
      if (budget < 0) throw Unstreamable
      if (o.unevaluatedProperties.nonEmpty || o.unevaluatedItems.nonEmpty ||
          o.dependentSchemas.nonEmpty ||
          o.dynamicRef.nonEmpty || o.recursiveRef.nonEmpty)
        throw Unstreamable
      // `not` / `if`-`then`-`else` fold into the fused pass instead of
      // materializing the node (VERDICT_r04 #8): null/bool verdicts are
      // twin evaluations of constants, numbers/strings become per-value
      // twin closures, and arrays/objects fold when the bodies' behavior
      // on those atoms is provably CONSTANT (atomStatus) — only a
      // value-dependent array/object condition still materializes.
      o.not.foreach(foldNot(_, acc, sp))
      o.ifSpec.foreach(foldIte(_, o.thenSpec, o.elseSpec, acc, sp))
      val oRes = registry.resourceOf(o)
      if (oRes ne entryRes) throw Unstreamable

      // ---- same-value edges: $ref and allOf merge in place ----------------
      def mergeSame(target: Spec): Unit = target match {
        case Spec.Accept => ()
        case Spec.Reject => acc.reject()
        case t: Spec.Obj =>
          if (registry.resourceOf(t) ne entryRes) throw Unstreamable
          if (!sp.exists(_ eq t)) addNode(t, acc, t :: sp)
      }
      o.ref.foreach { r =>
        registry.resolve(r, oRes) match {
          case Some((target, _)) => mergeSame(target)
          case None => throw new SpecError(s"unresolvable $$ref: $r")
        }
      }
      o.allOf.foreach(mergeSame)

      // ---- scalar keywords --------------------------------------------------
      o.types.foreach { ts =>
        val hasNum = ts.contains(JsonType.Number)
        if (!ts.contains(JsonType.Null)) acc.okNull = false
        if (!ts.contains(JsonType.Boolean)) { acc.okTrue = false; acc.okFalse = false }
        if (!ts.contains(JsonType.Integer) && !hasNum) acc.okInt = false
        if (!hasNum) acc.okFrac = false
        if (!ts.contains(JsonType.String)) acc.okStr = false
        if (!ts.contains(JsonType.Array)) acc.okArr = false
        if (!ts.contains(JsonType.Object)) acc.okObj = false
      }
      o.const.foreach {
        case JStr(s) =>
          acc.okNull = false; acc.okTrue = false; acc.okFalse = false
          acc.okInt = false; acc.okFrac = false; acc.okArr = false; acc.okObj = false
          acc.strC += (x => x == s)
        case n: JNum =>
          acc.okNull = false; acc.okTrue = false; acc.okFalse = false
          acc.okStr = false; acc.okArr = false; acc.okObj = false
          val check = (jn: JNum) => jn.value.compareTo(n.value) == 0
          acc.numCI += check; acc.numCF += check
        case JBool(b) =>
          acc.okNull = false; acc.okInt = false; acc.okFrac = false
          acc.okStr = false; acc.okArr = false; acc.okObj = false
          if (b) acc.okFalse = false else acc.okTrue = false
        case JNull =>
          acc.okTrue = false; acc.okFalse = false; acc.okInt = false
          acc.okFrac = false; acc.okStr = false; acc.okArr = false; acc.okObj = false
        case _ => throw Unstreamable // container const: needs the tree
      }
      o.enumVals.foreach { es =>
        if (es.exists(e => e.isInstanceOf[JArr] || e.isInstanceOf[JObj])) throw Unstreamable
        if (!es.contains(JNull)) acc.okNull = false
        if (!es.exists { case JBool(true) => true; case _ => false }) acc.okTrue = false
        if (!es.exists { case JBool(false) => true; case _ => false }) acc.okFalse = false
        acc.okArr = false; acc.okObj = false
        val nums = es.collect { case n: JNum => n.value }
        if (nums.isEmpty) { acc.okInt = false; acc.okFrac = false }
        else {
          val check = (jn: JNum) => nums.exists(_.compareTo(jn.value) == 0)
          acc.numCI += check; acc.numCF += check
        }
        val strs = es.collect { case JStr(s) => s }
        if (strs.isEmpty) acc.okStr = false
        else { val set = strs.toSet; acc.strC += (s => set.contains(s)) }
      }
      if (o.minimum.nonEmpty || o.maximum.nonEmpty || o.exclusiveMinimum.nonEmpty ||
          o.exclusiveMaximum.nonEmpty || o.multipleOf.nonEmpty) {
        val mi = o.minimum; val ma = o.maximum
        val emi = o.exclusiveMinimum; val ema = o.exclusiveMaximum
        val mo = o.multipleOf
        val zero = BigDecimal(0)
        val check = (jn: JNum) => {
          val n = jn.value
          mi.forall(n >= _) && ma.forall(n <= _) &&
          emi.forall(n > _) && ema.forall(n < _) &&
          mo.forall(m => (n remainder m).compareTo(zero) == 0)
        }
        acc.numCI += check; acc.numCF += check
      }
      val fmtPred: Option[String => Boolean] =
        if (assertFormats) o.format.flatMap(graft.compile.Formats.scalaPredicate)
        else None
      if (o.minLength.nonEmpty || o.maxLength.nonEmpty || o.pattern.nonEmpty ||
          fmtPred.nonEmpty) {
        val minL = o.minLength; val maxL = o.maxLength
        val pat: Option[Pattern] = o.pattern.map(p => Pattern.compile(EcmaRegex.translate(p)))
        acc.strC += { s =>
          (minL.isEmpty && maxL.isEmpty || {
            val n = s.codePointCount(0, s.length)
            minL.forall(n >= _) && maxL.forall(n <= _)
          }) && pat.forall(_.matcher(s).find()) && fmtPred.forall(_(s))
        }
      }

      // ---- object keywords --------------------------------------------------
      if (o.properties.nonEmpty || o.required.nonEmpty ||
          o.additionalProperties.nonEmpty || o.patternProperties.nonEmpty ||
          o.minProperties.nonEmpty || o.maxProperties.nonEmpty ||
          o.dependentRequired.nonEmpty) {
        val reqKeys = o.required.distinct
        // presence bits: required keys own [0, reqCount); keys a
        // dependentRequired entry watches (trigger or dependent) sit above
        val depKeys = o.dependentRequired
          .flatMap { case (k, ds) => k +: ds }.distinct
          .filterNot(reqKeys.contains)
        if (reqKeys.length + depKeys.length > 64) throw Unstreamable
        val bitIdx = (reqKeys ++ depKeys).zipWithIndex.toMap
        val fields = new java.util.HashMap[String, FP](
          (o.properties.length + bitIdx.size) * 2)
        o.properties.foreach { case (k, subSpec) =>
          val (s, d) = childS(subSpec)
          fields.put(JsonValue.FieldIntern.intern(k),
            new FP(bitIdx.getOrElse(k, -1), true, s, d))
        }
        bitIdx.keysIterator.foreach { k =>
          if (!fields.containsKey(k))
            fields.put(JsonValue.FieldIntern.intern(k), new FP(bitIdx(k), false, null, null))
        }
        val pats = o.patternProperties.map { case (p, subSpec) =>
          val (s, d) = childS(subSpec)
          new PatC(Pattern.compile(EcmaRegex.translate(p)), s, d)
        }.toArray
        val (apS, apD) = o.additionalProperties match {
          case Some(ap) => childS(ap)
          case None     => (null: SRef, null: JsonValue => Boolean)
        }
        val depTrig = o.dependentRequired.map { case (k, _) => 1L << bitIdx(k) }.toArray
        val depNeed = o.dependentRequired.map { case (_, ds) =>
          ds.foldLeft(0L)((m, d) => m | (1L << bitIdx(d))) }.toArray
        acc.cons += new OC(fields, pats, apS, apD, reqKeys.length,
          o.minProperties.getOrElse(-1L), o.maxProperties.getOrElse(-1L),
          depTrig, depNeed)
      }
      o.propertyNames.foreach {
        case Spec.Accept => ()
        case Spec.Reject => acc.pns += (_ => false)
        case pn: Spec.Obj =>
          val d = twinEntry(pn)
          acc.pns += (k => d(JStr(k)))
      }

      // ---- array keywords ---------------------------------------------------
      // a contains with minContains 0 and no maxContains constrains nothing
      val liveContains = o.contains.filter(_ =>
        o.minContains.forall(_ > 0) || o.maxContains.nonEmpty)
      if (o.items.nonEmpty || o.prefixItems.nonEmpty ||
          o.minItems.nonEmpty || o.maxItems.nonEmpty || liveContains.nonEmpty ||
          o.uniqueItems) {
        val pre = o.prefixItems.map(childS)
        val (itS, itD) = o.items match {
          case Some(it) => childS(it)
          case None     => (null: SRef, null: JsonValue => Boolean)
        }
        val contD = liveContains.map(c => twinEntry(c)).orNull
        acc.acs += new AC(pre.map(_._1).toArray, pre.map(_._2).toArray, itS, itD,
          o.minItems.getOrElse(-1L), o.maxItems.getOrElse(-1L),
          contD, o.minContains.getOrElse(1L), o.maxContains.getOrElse(-1L),
          o.uniqueItems)
      }

      // ---- combinators: dispatch or bust -------------------------------------
      if (o.anyOf.nonEmpty) mergeCombinator(o.anyOf, exact = false, acc, sp)
      if (o.oneOf.nonEmpty) mergeCombinator(o.oneOf, exact = true, acc, sp)
    }

    /** Branch-index-per-type-atom table — the mirror of Compiled's
      * typeDispatch (pairwise type-disjoint branches collapse the trial
      * loop to one dispatch). */
    private def tryTypeDispatch(branches: Vector[Spec]): Option[Array[Int]] = {
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
              atoms.foreach { a => if (table(a) != -1) ok = false else table(a) = i }
            }
          case _ => ok = false
        }
      }
      if (ok) Some(table) else None
    }

    /** (key, rendered-const → branch) — the mirror of Compiled's
      * constDispatch. */
    private def tryConstDispatch(branches: Vector[Spec]): Option[(String, Map[String, Int])] = {
      val perBranch: Vector[Map[String, Vector[JsonValue]]] = branches.map {
        case bo: Spec.Obj =>
          val m = bo.properties.collect {
            case (k, ps: Spec.Obj) if bo.required.contains(k) &&
                (ps.const.nonEmpty || ps.enumVals.nonEmpty) =>
              k -> ps.const.map(Vector(_)).getOrElse(ps.enumVals.get)
          }.toMap
          // a TAGLESS branch is fine when it cannot match an object at all
          // (e.g. GeoJSON's `{"type":"null"}` beside seven tagged geometry
          // objects): object values can never satisfy it, so the tagged
          // subset stays exact; its scalar verdicts fold via the trial
          // constants below
          if (m.isEmpty && !bo.types.exists(ts => !ts.contains(JsonType.Object)))
            return None
          m
        case _ => return None
      }
      val shared = perBranch.filter(_.nonEmpty).map(_.keySet)
        .reduceOption(_ intersect _).getOrElse(return None)
      shared.iterator.flatMap { key =>
        val entries = perBranch.zipWithIndex.flatMap { case (m, i) =>
          m.getOrElse(key, Vector.empty).map(c => JsonValue.render(c) -> i)
        }
        val table = entries.toMap
        if (table.size == entries.length) Some((key, table)) else None
      }.nextOption()
    }

    private def mergeCombinator(branches: Vector[Spec], exact: Boolean,
                                acc: Acc, sp: List[Spec.Obj]): Unit = {
      tryTypeDispatch(branches) match {
        case Some(table) =>
          val branchAccs = new Array[Acc](branches.length)
          def accOf(i: Int): Acc = {
            if (branchAccs(i) == null) {
              val ba = new Acc
              branches(i) match {
                case bo: Spec.Obj =>
                  // cycle back to an enclosing node: contributes TRUE
                  if (!sp.exists(_ eq bo)) addNode(bo, ba, bo :: sp)
                case _ => ()
              }
              branchAccs(i) = ba
            }
            branchAccs(i)
          }
          (0 to 6).foreach { a =>
            val bi = table(a)
            if (bi < 0) a match {
              case 0 => acc.okNull = false
              case 1 => acc.okTrue = false; acc.okFalse = false
              case 2 => acc.okInt = false
              case 3 => acc.okFrac = false
              case 4 => acc.okStr = false
              case 5 => acc.okArr = false
              case 6 => acc.okObj = false
            } else {
              val b = accOf(bi)
              a match {
                case 0 => acc.okNull &&= b.okNull
                case 1 => acc.okTrue &&= b.okTrue; acc.okFalse &&= b.okFalse
                case 2 => acc.okInt &&= b.okInt; acc.numCI ++= b.numCI
                case 3 => acc.okFrac &&= b.okFrac; acc.numCF ++= b.numCF
                case 4 => acc.okStr &&= b.okStr; acc.strC ++= b.strC
                case 5 => acc.okArr &&= b.okArr; acc.acs ++= b.acs
                case 6 =>
                  acc.okObj &&= b.okObj
                  acc.cons ++= b.cons; acc.disp ++= b.disp; acc.pns ++= b.pns
              }
            }
          }
        case None =>
          tryConstDispatch(branches) match {
            case Some((key, renderTable)) =>
              // arrays can't dispatch and can't precompute: either the
              // node already excludes them, or NO branch admits them (a
              // type-pinned union — e.g. GeoJSON geometries — then the
              // combinator itself rules arrays out)
              if (acc.okArr) {
                val anyBranchAdmitsArrays = branches.exists {
                  case bo: Spec.Obj =>
                    bo.types.forall(_.contains(JsonType.Array))
                  case b => b == Spec.Accept
                }
                if (anyBranchAdmitsArrays) throw Unstreamable
                acc.okArr = false
              }
              val branchObjs: Array[BranchObj] = branches.map {
                case bo: Spec.Obj =>
                  if (sp.exists(_ eq bo)) new BranchObj(Array.empty, Array.empty)
                  else {
                    val ba = new Acc
                    addNode(bo, ba, bo :: sp)
                    if (ba.disp.nonEmpty) throw Unstreamable // no nested tag dispatch
                    if (!ba.okObj) null
                    else new BranchObj(ba.cons.toArray, ba.pns.toArray)
                  }
                case _ => throw Unstreamable
              }.toArray
              val strTable = new java.util.HashMap[String, Integer]()
              renderTable.foreach { case (r, i) =>
                if (r.length >= 2 && r.charAt(0) == '"' && !r.contains('\\'))
                  strTable.put(r.substring(1, r.length - 1), Integer.valueOf(i))
              }
              acc.disp += new OD(JsonValue.FieldIntern.intern(key), strTable,
                renderTable, branchObjs)
              // non-object values run the compiled trial loop; null/bool
              // verdicts are constants (pure check sets), so fold them in
              val trialDs = branches.map(b => twinSame(b, sp)).toArray
              def trial(v: JsonValue): Boolean = {
                var n = 0; var i = 0
                while (n < 2 && i < trialDs.length) { if (trialDs(i)(v)) n += 1; i += 1 }
                if (exact) n == 1 else n >= 1
              }
              acc.okNull &&= trial(JNull)
              acc.okTrue &&= trial(JBool(true))
              acc.okFalse &&= trial(JBool(false))
              val numTrial = (jn: JNum) => trial(jn)
              acc.numCI += numTrial; acc.numCF += numTrial
              acc.strC += (s => trial(JStr(s)))
            case None => throw Unstreamable
          }
      }
    }
  }
}
