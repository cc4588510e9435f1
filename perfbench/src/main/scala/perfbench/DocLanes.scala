package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import graft.spec.{Interp, JsonValue, Meta, Spec, Streaming}
import Main.{Args, Outcome}

/** Single-document lanes, one thread, no Spark: the reference's three
  * documents made unique per copy from the seed, with exactly one copy in
  * `InvalidEvery` planted invalid. One operation validates every copy the
  * way `graft.cli.Main check` does: streaming verdict from text, and for
  * invalid copies a parse plus error enumeration. */
object DocLanes {

  final case class Lane(name: String, schemaRes: String, instanceRes: String, copies: Int)

  val Lanes: Seq[Lane] = Seq(
    Lane("recursive", "recursive_schema.json", "recursive_instance.json", 6144),
    Lane("citm", "citm_catalog_schema.json", "citm_catalog.json", 64),
    Lane("geojson", "geojson.json", "canada.json", 16))
  val InvalidEvery = 8
  val WarmupSeconds = 3.0
  /** Copies per lane that the parsed-tree layer probes use. */
  val TreeProbeCopies = 8

  def resource(name: String): String =
    new String(getClass.getResourceAsStream(s"/bench/$name").readAllBytes(), UTF_8)

  /** A unique copy of the lane's document; an invalid copy also breaks one
    * constraint near the end of the text, so the streaming pass reads
    * almost all of it before failing. */
  def copyOf(lane: String, base: String, tag: String, invalid: Boolean): String = {
    def swap(t: String, from: String, to: String): String = {
      val p = t.lastIndexOf(from)
      require(p >= 0, s"$lane document has no '$from'")
      t.substring(0, p) + to + t.substring(p + from.length)
    }
    lane match {
      case "recursive" =>
        val t = swap(base, "\"term1\"", s"\"term-$tag\"")
        if (invalid) swap(t, "1000002,", "1000002.5,") else t  // sequence must be an integer
      case "citm" =>
        val t = swap(base, "\"Salle Pleyel\"", s"\"Salle $tag\"")
        if (invalid) swap(t, s"\"Salle $tag\"", s"[\"Salle $tag\"]") else t  // venue name must be a string
      case "geojson" =>
        val t = swap(base, "\"Canada\"", s"\"Canada $tag\"")
        if (!invalid) t
        else {  // the last coordinate becomes a string
          val end = t.lastIndexOf("]]]}}]}")
          val start = t.lastIndexOf(',', end) + 1
          t.substring(0, start) + "\"" + t.substring(start, end) + "\"" + t.substring(end)
        }
    }
  }

  final case class Copies(lane: Lane, texts: Vector[String], valid: Vector[Boolean])

  def copies(seed: Long): Seq[Copies] = Lanes.zipWithIndex.map { case (l, li) =>
    val base = resource(l.instanceRes)
    val order = (0 until l.copies).sortBy(i => Main.mix(seed * 31 + li * 1000003L + i))
    val invalid = order.take(l.copies / InvalidEvery).toSet
    val texts = (0 until l.copies).map { i =>
      copyOf(l.name, base, f"${Main.mix(seed ^ (li.toLong << 40) ^ i)}%016x", invalid(i))
    }.toVector
    Copies(l, texts, (0 until l.copies).map(i => !invalid(i)).toVector)
  }

  /** Program set-up of the three lanes: spec parse, meta-check, prepare
    * and the first verdict (which forces the lazy streaming compile).
    * Returns total seconds, meta-check ms and per-lane prepare ms. */
  def setup(): (Seq[Interp.Prepared], Double, Double, Seq[Double]) = {
    val t0 = System.nanoTime()
    var metaNs = 0L
    val preps = Lanes.map { l =>
      val schema = resource(l.schemaRes)
      val instance = resource(l.instanceRes)
      val s0 = System.nanoTime()
      val doc = JsonValue.parse(schema)
      val m0 = System.nanoTime()
      // the meta-check the table compiler gates on; the lanes' draft-07
      // schemas need not pass this 2020-12 dialect, so only its cost counts
      Meta.isValid(doc)
      metaNs += System.nanoTime() - m0
      val p = Interp.prepare(Spec.parse(doc))
      require(p.isValidText(instance), s"${l.name}: the reference document must be valid")
      (p, (System.nanoTime() - s0) / 1e6)
    }
    val total = (System.nanoTime() - t0) / 1e9
    (preps.map(_._1), total, metaNs / 1e6, preps.map(_._2))
  }

  /** One pass over every copy; returns per-lane seconds and verdicts. */
  private def op(preps: Seq[Interp.Prepared], cs: Seq[Copies]): Seq[(Double, Array[Boolean], Array[Boolean])] =
    preps.zip(cs).map { case (p, c) =>
      val verdicts = new Array[Boolean](c.texts.size)
      val hasErrors = new Array[Boolean](c.texts.size)
      val t0 = System.nanoTime()
      var i = 0
      while (i < c.texts.size) {
        val text = c.texts(i)
        val ok = try p.isValidText(text) catch { case _: Exception => false }
        verdicts(i) = ok
        if (!ok) hasErrors(i) = Interp.errors(p, JsonValue.parse(text), limit = 20).nonEmpty
        i += 1
      }
      ((System.nanoTime() - t0) / 1e9, verdicts, hasErrors)
    }

  def run(a: Args, tr: Tracer, o: Outcome): Unit = {
    val cs = copies(a.seed)
    val (preps, setupS, metaMs, prepareMs) = tr.span("setup")(setup())
    o.setupSeconds += setupS
    o.itemsPerOp = cs.map(_.texts.size).sum.toLong

    Main.phase("set-up done")
    val w0 = System.nanoTime()
    while ((System.nanoTime() - w0) / 1e9 < WarmupSeconds) op(preps, cs)

    val laneSeconds = Lanes.map(_ => scala.collection.mutable.ArrayBuffer[Double]())
    Common.rounds(a.seconds, minRounds = 3) { _ =>
      val (res, dt) = Main.seconds(tr.span("op")(op(preps, cs)))
      o.opSeconds += dt
      o.attempted += 1
      res.zip(cs).zip(laneSeconds).foreach { case (((s, verdicts, hasErrors), c), acc) =>
        acc += s
        val wrong = c.valid.indices.count(i => verdicts(i) != c.valid(i) || hasErrors(i) == c.valid(i))
        o.check(wrong == 0, s"${c.lane.name}: $wrong copies got a verdict or error list against their label")
      }
    }

    Main.phase("measured; lane medians " + Lanes.zip(laneSeconds).map { case (l, xs) =>
      f"${l.name} ${Main.median(xs.toSeq)}%.3fs" }.mkString(", "))
    // output checks, outside the timers: the tree-walk agrees with every
    // label and error enumeration is non-empty exactly for invalid copies
    if (!a.repeat) preps.zip(cs).foreach { case (p, c) =>
      c.texts.indices.foreach { i =>
        val tree = JsonValue.parse(c.texts(i))
        o.check(p.isValidInterp(tree) == c.valid(i), s"${c.lane.name} copy $i: tree-walk verdict against label")
        o.check(Interp.errors(p, tree, limit = 20).isEmpty == c.valid(i),
          s"${c.lane.name} copy $i: error list against label")
      }
    }
    System.err.println(s"[perfbench] doc_lanes: " + cs.map(c =>
      s"${c.lane.name} ${c.valid.count(identity)} valid + ${c.valid.count(!_)} invalid").mkString(", "))

    if (tr.enabled) layers(preps, cs, metaMs, prepareMs, laneSeconds.map(_.toSeq), o)
  }

  private def perDocUs[T](docs: Seq[T])(f: T => Any): Double = {
    val reps = (1 to 3).map { _ =>
      val (_, s) = Main.seconds(docs.foreach(f))
      s
    }
    Main.median(reps) * 1e6 / docs.size
  }

  private def layers(preps: Seq[Interp.Prepared], cs: Seq[Copies], metaMs: Double,
                     prepareMs: Seq[Double], laneSeconds: Seq[Seq[Double]], o: Outcome): Unit = {
    o.layer("spec.meta_ms") = metaMs
    o.layer("spec.streamable_schemas") =
      preps.count(p => Streaming.compile(p.registry, p.entry, p.assertFormats).isDefined).toDouble
    preps.zip(cs).zip(prepareMs).zip(laneSeconds).foreach { case (((p, c), pm), secs) =>
      val n = c.lane.name
      val valid = c.texts.indices.filter(c.valid).map(c.texts)
      val invalid = c.texts.indices.filterNot(c.valid).map(c.texts)
      val sample = valid.take(TreeProbeCopies)
      val trees = sample.map(JsonValue.parse)
      val badTrees = invalid.take(TreeProbeCopies).map(JsonValue.parse)
      o.layer(s"spec.prepare_ms.$n") = pm
      o.layer(s"lane.$n.docs_per_s") = c.texts.size / Main.median(secs)
      o.layer(s"spec.parse_us_per_doc.$n") = perDocUs(sample)(JsonValue.parse)
      o.layer(s"spec.stream_us_per_doc.$n") = perDocUs(valid)(p.isValidText)
      o.layer(s"spec.compiled_us_per_doc.$n") = perDocUs(trees)(p.isValid)
      o.layer(s"spec.errors_us_per_invalid_doc.$n") =
        perDocUs(badTrees)(Interp.errors(p, _, limit = 20))
    }
  }
}
