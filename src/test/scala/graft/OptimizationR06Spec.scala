package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.audio.Pcm
import graft.ann.Ann
import graft.text.TextOps

/** Focused contracts for the round-6 optimizations: every rewrite here
  * must be value-preserving (the driver re-hashes all query results), so
  * each internal change gets an equivalence assertion against the direct
  * form it replaced. */
class OptimizationR06Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("ulaw decode lookup table is value-identical to the formula for all 256 bytes") {
    val all = Array.tabulate(256)(i => i.toByte)
    val viaTable = Pcm.decodeUlaw8(all)
    (0 until 256).foreach { i =>
      assert(viaTable(i) == Pcm.ulawDecodeSample(all(i)), s"byte $i")
    }
  }

  /** The pre-r06 synthesis loop, verbatim: 2 argument-reduced math.sin per
    * sample. The phasor-recurrence replacement must match it to the LSB. */
  private def synthesizeDirect(clipId: String, srHz: Int, durMs: Int): Array[Short] = {
    val n = Pcm.numSamples(srHz, durMs)
    val seed = clipId.hashCode.toLong & 0xffffffffL
    val f1 = 80.0 + (seed % 2000) / 8.0
    val f2 = 400.0 + ((seed >> 8) % 4000) / 4.0
    val phase = ((seed >> 16) % 1000) / 1000.0 * 2 * math.Pi
    val out = new Array[Short](n)
    var i = 0
    while (i < n) {
      val t = i.toDouble / srHz
      val v = 0.45 * math.sin(2 * math.Pi * f1 * t + phase) +
        0.35 * math.sin(2 * math.Pi * f2 * t)
      out(i) = math.round(v * 32767.0).toShort
      i += 1
    }
    out
  }

  test("phasor-recurrence synthesize matches direct two-sin evaluation to the LSB") {
    val cases = for {
      (id, k) <- Seq("clip-00000000feedface", "clip-a5a5a5a5a5a5a5a5",
        "clip-0123456789abcdef", "x", "clip-ffffffffffffffff").zipWithIndex
      sr <- Seq(8000, 22050, 48000)
    } yield (id, sr, 50 + 37 * k)
    var total = 0L
    var lsbDiffs = 0L
    cases.foreach { case (id, sr, dur) =>
      val fast = Pcm.synthesize(id, sr, dur)
      val direct = synthesizeDirect(id, sr, dur)
      assert(fast.length == direct.length)
      var i = 0
      while (i < fast.length) {
        val d = math.abs(fast(i) - direct(i))
        assert(d <= 1, s"$id sr=$sr dur=$dur sample $i differs by $d")
        if (i % 1024 == 0)
          assert(fast(i) == direct(i), s"resync anchor $i must be bit-equal")
        if (d == 1) lsbDiffs += 1
        total += 1
        i += 1
      }
    }
    // drift bound: boundary hits are ~1e-8/sample — a visible diff rate
    // means the recurrence is wrong, not just unlucky rounding
    assert(lsbDiffs <= 2, s"$lsbDiffs of $total samples differ by 1 LSB")
  }

  test("fused snrVsReference is bitwise-equal to snrDb(synthesize, decoded)") {
    Seq(("pcm16", 16000, 80), ("dpcm16", 44100, 123), ("ulaw8", 8000, 200)).foreach {
      case (codec, sr, dur) =>
        val id = s"clip-fused-$codec"
        val s = Pcm.synthesize(id, sr, dur)
        val dec = Pcm.decode(codec, Pcm.encode(codec, s)).get
        val fused = Pcm.snrVsReference(id, sr, dur, dec)
        val split = Pcm.snrDb(Pcm.synthesize(id, sr, dur), dec)
        assert(java.lang.Double.doubleToLongBits(fused) ==
          java.lang.Double.doubleToLongBits(split), s"$codec: $fused vs $split")
        // corrupted payload: same SNR either way
        val noisy = dec.clone(); var i = 0
        while (i < noisy.length) { noisy(i) = (noisy(i) + 5000).toShort; i += 1 }
        assert(java.lang.Double.doubleToLongBits(Pcm.snrVsReference(id, sr, dur, noisy)) ==
          java.lang.Double.doubleToLongBits(Pcm.snrDb(Pcm.synthesize(id, sr, dur), noisy)))
    }
    // length mismatch -> NaN without synthesizing
    assert(Pcm.snrVsReference("clip-x", 16000, 100, new Array[Short](7)).isNaN)
  }

  test("lossless round-trip still caps SNR at 120 dB; ulaw stays above the 30 dB gate") {
    Seq(("pcm16", 16000, 80), ("dpcm16", 44100, 120), ("ulaw8", 8000, 200)).foreach {
      case (codec, sr, dur) =>
        val s = Pcm.synthesize(s"clip-snr-$codec", sr, dur)
        val snr = Pcm.snrDb(s, Pcm.decode(codec, Pcm.encode(codec, s)).get)
        if (codec == "ulaw8") assert(snr >= 30.0 && snr < 120.0, s"$codec snr=$snr")
        else assert(snr == 120.0, s"$codec snr=$snr")
    }
  }

  import OptimizationR06Spec.Vec

  test("lshCandidatePairs skips the row_number window when no bucket exceeds the cap") {
    val d = 8
    // distinct, well-spread vectors: far below any cap
    val rows = (0 until 40).map(i =>
      Vec(i.toLong, (0 until d).map(j => math.sin(i * 13.7 + j * 2.1).toFloat)))
    val under = Ann.lshCandidatePairs(rows.toDF(), "id", "v", d, bits = 6, bands = 2,
      maxBucketSize = 1024)
    assert(!under.queryExecution.sparkPlan.toString.contains("Window"),
      "under-cap path must not plan a window")
    // adversarial: identical vectors overfill one bucket per band ⇒ the
    // window must appear and the cap must bind (same contract as before)
    val same = (0 until 50).map(i => Vec(i.toLong, (0 until d).map(j => (j + 1).toFloat)))
    val overCap = Ann.lshCandidatePairs(same.toDF(), "id", "v", d, bits = 6, bands = 2,
      maxBucketSize = 5)
    assert(overCap.queryExecution.sparkPlan.toString.contains("Window"),
      "over-cap path must keep the capping window")
    assert(overCap.count() <= 2L * (1L << 6) * 5 * 4 / 2)
  }

  test("ngramJaccardPairs doc-count fast path returns the identical pair set") {
    val docs = (0 until 60).map { i =>
      val base = s"alpha beta gamma delta epsilon zeta token$i eta theta iota kappa"
      (i.toLong, if (i % 7 == 0) base else base + s" lambda mu nu xi$i")
    }.toDF("doc_id", "text")
    def pairs(maxDocFreq: Int) =
      TextOps.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.2,
          maxDocFreq = maxDocFreq)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // 60 docs <= maxDocFreq=100 ⇒ hot-shingle pass provably a no-op and
    // skipped; the unguarded exact run must produce the same set
    assert(pairs(100) == pairs(0))
  }

  test("violations plan evaluates the check battery exactly once per row") {
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val plan = graft.run.Validation.compile(
      """{"properties":{"o_orderpriority":{"pattern":"^[1-5]-"}}}""", orders.schema)
    // an annotation whose active condition carries its `pattern` sibling
    val annotated = graft.run.Validation.compile(
      """{"properties":{"o_orderpriority":{"pattern":"^[1-5]-","x-note":1}}}""", orders.schema)
    assert(annotated.annotations.nonEmpty)
    // the projection legitimately carries two textual predicate sites
    // (hot guard + cold per-entry branch); the pre-r06 defect was a THIRD
    // copy pushed into the size(...) > 0 filter below the projection
    // (explicitly or via InferFiltersFromGenerate). The OnceBarrier keeps
    // the filter on the attribute: no Filter line may contain the battery.
    for (q <- Seq(plan.violations(orders, Seq("o_orderkey")),
                  annotated.iterAnnotations(orders, Seq("o_orderkey")))) {
      val s = q.queryExecution.optimizedPlan.toString
      val filterLines = s.linesIterator.filter(_.trim.startsWith("+- Filter")).toSeq
      assert(s.contains("RLIKE"), s)
      assert(filterLines.nonEmpty && filterLines.forall(!_.contains("RLIKE")), s)
    }
  }

  test("x-audio-snr predicate carries a single decode+synthesis site") {
    val clips = graft.audio.ClipsGen.generate(spark, 20, 1).toDF()
    val plan = graft.audio.AudioChecks.fullPlan(clips.schema)
    val s = clips.where(plan.isValidCol).queryExecution.optimizedPlan.toString.toLowerCase
    // pre-r06, `!isnan(snr) && snr >= minDb` evaluated the kernel twice
    assert("audiosnr".r.findAllIn(s).size == 1, s)
  }

  test("ivfTrain is deterministic and its assignments still reproduce brute-force top-k") {
    val d = 8
    val rows = (0 until 120).map(i =>
      Vec(i.toLong, (0 until d).map(j => math.cos(i * 7.3 + j * 1.9).toFloat)))
    val df = rows.toDF()
    val c1 = Ann.ivfTrain(df, "id", "v", nLists = 4, iters = 3)
    val c2 = Ann.ivfTrain(df, "id", "v", nLists = 4, iters = 3)
    assert(c1.length == 4)
    (c1 zip c2).foreach { case (a, b) => assert(a.sameElements(b)) }
    val q = rows.head.v.toArray
    val ivf = Ann.ivfTopK(Ann.ivfAssign(df, "id", "v", c1), "id", "v", c1, q,
      k = 5, nProbe = 4).collect().map(_.getLong(0)).toSeq
    val brute = Ann.topKCosine(df, "v", "id", q, 5).collect().map(_.getLong(0)).toSeq
    assert(ivf == brute)

    // every 10th vector null, one of them among the seed rows: training
    // skips them (a null seed threw a NullPointerException, a null-vector
    // group ROW_VALUE_IS_NULL on its list id)
    val withNulls = rows.map(r => if (r.id % 10 == 0) Vec(r.id, null) else r).toDF()
    val nonNull = withNulls.where(col("v").isNotNull)
    val cn = Ann.ivfTrain(withNulls, "id", "v", nLists = 4, iters = 3)
    assert(cn.length == 4 && cn.forall(_.forall(x => !x.isNaN && !x.isInfinite)))
    val qn = rows(1).v.toArray
    val ivfN = Ann.ivfTopK(Ann.ivfAssign(nonNull, "id", "v", cn), "id", "v", cn, qn,
      k = 5, nProbe = 4).collect().map(_.getLong(0)).toSeq
    val bruteN = Ann.topKCosine(nonNull, "v", "id", qn, 5).collect().map(_.getLong(0)).toSeq
    assert(ivfN == bruteN)
  }

  test("q_validate_nested plans the codegen element loops, not the HOF fallback") {
    val q = SparkEntry.queries("q_validate_nested")(spark, "/root/testdata/sf0.001")
    val p = q.queryExecution.executedPlan.toString.toLowerCase
    assert(p.contains("forallelems") && p.contains("counttrueelems"), p)
    assert(!p.contains("lambdafunction"), p)
  }
}

object OptimizationR06Spec {
  case class Vec(id: Long, v: Seq[Float])
}
