package graft.audio

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.graftshim.ColumnBridge

/** Static entry points callable from generated code (top-level object ⇒
  * static forwarders on class AudioFns). */
object AudioFns {
  /** SNR (dB) of the payload decoded under `codec` against the reference
    * synthesis for (clipId, srHz, durMs). NaN ⇒ undecodable / unknown
    * codec / length mismatch. The per-row analog of the north rule's
    * "decoded-PCM allclose (SNR≥30dB)" invariant. */
  def audioSnr(clipId: UTF8String, bytes: Array[Byte], codec: UTF8String,
               srHz: Int, durMs: Int): Double = {
    if (srHz <= 0 || durMs <= 0) return Double.NaN
    Pcm.decode(codec.toString, bytes) match {
      case None => Double.NaN
      case Some(decoded) =>
        // fused synth+accumulate: value-identical to
        // snrDb(synthesize(...), decoded) without the reference array
        Pcm.snrVsReference(clipId.toString, srHz, durMs, decoded)
    }
  }

  def expectedTranscript(clipId: UTF8String): UTF8String =
    UTF8String.fromString(Pcm.expectedTranscript(clipId.toString))

  /** Audio-quality statistics of the decoded payload — the audio analog of
    * the text quality features (training-data pipelines filter clips on
    * loudness / clipping / silence exactly like they filter documents on
    * punctuation ratio). One decode + one pass:
    *   n_samples, rms_dbfs (20·log10(rms/FS), floored at -120 for digital
    *   silence), peak (|s|max/FS), clip_frac (fraction of samples at
    *   ±full-scale), zcr (zero-crossing rate per sample step).
    * null ⇒ undecodable payload / unknown codec. */
  def pcmStats(bytes: Array[Byte], codec: UTF8String): InternalRow = {
    val decoded = Pcm.decode(codec.toString, bytes).orNull
    if (decoded == null) return null
    val n = decoded.length
    if (n == 0)
      return new GenericInternalRow(Array[Any](0, -120.0, 0.0, 0.0, 0.0))
    val FS = 32768.0
    var sumSq = 0.0; var peak = 0; var nClip = 0; var nCross = 0
    var prevSign = 0 // -1, 0, +1; zero samples don't count as crossings
    var i = 0
    while (i < n) {
      val s = decoded(i).toInt
      sumSq += s.toDouble * s.toDouble
      val a = if (s < 0) -s else s
      if (a > peak) peak = a
      if (s >= 32767 || s <= -32768) nClip += 1
      val sign = java.lang.Integer.signum(s)
      if (sign != 0) {
        if (prevSign != 0 && sign != prevSign) nCross += 1
        prevSign = sign
      }
      i += 1
    }
    val rms = math.sqrt(sumSq / n)
    val rmsDbfs = if (rms <= 0) -120.0 else math.max(-120.0, 20.0 * math.log10(rms / FS))
    new GenericInternalRow(Array[Any](
      n, rmsDbfs, peak / FS, nClip.toDouble / n,
      if (n > 1) nCross.toDouble / (n - 1) else 0.0))
  }

  val pcmStatsType: StructType = StructType(Seq(
    StructField("n_samples", IntegerType, nullable = false),
    StructField("rms_dbfs", DoubleType, nullable = false),
    StructField("peak", DoubleType, nullable = false),
    StructField("clip_frac", DoubleType, nullable = false),
    StructField("zcr", DoubleType, nullable = false)))
}

/** snr_db(clip_id, bytes, codec, sr_hz, dur_ms) — codegen-capable custom
  * Expression; the decode loop is the dominant per-row cost, so it must
  * not break whole-stage codegen (SURVEY §4.2: no UDFs on the hot path). */
case class AudioSnr(first: Expression, second: Expression, third: Expression,
                    fourth: Expression, fifth: Expression) extends QuinaryExpression {
  override def children: Seq[Expression] = Seq(first, second, third, fourth, fifth)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = children.exists(_.nullable)

  override def nullSafeEval(a: Any, b: Any, c: Any, d: Any, e: Any): Any =
    AudioFns.audioSnr(a.asInstanceOf[UTF8String], b.asInstanceOf[Array[Byte]],
      c.asInstanceOf[UTF8String], d.asInstanceOf[Int], e.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c, d, e) =>
      s"graft.audio.AudioFns.audioSnr($a, $b, $c, $d, $e)")

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): AudioSnr =
    AudioSnr(newChildren(0), newChildren(1), newChildren(2), newChildren(3), newChildren(4))
}

/** expected_transcript(clip_id) — deterministic reference transcript. */
case class ExpectedTranscript(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override protected def nullSafeEval(input: Any): Any =
    AudioFns.expectedTranscript(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.audio.AudioFns.expectedTranscript($c)")
  override protected def withNewChildInternal(newChild: Expression): ExpectedTranscript =
    copy(child = newChild)
}

/** pcm_stats(bytes, codec) → struct(n_samples, rms_dbfs, peak, clip_frac,
  * zcr); null when the payload doesn't decode. Codegen-capable: the decode
  * + one-pass stats loop stays a single static call inside WholeStageCodegen
  * (same rule as AudioSnr — no UDFs on the hot path). */
case class PcmStats(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = AudioFns.pcmStatsType
  override def nullable: Boolean = true
  override protected def nullSafeEval(bytes: Any, codec: Any): Any =
    AudioFns.pcmStats(bytes.asInstanceOf[Array[Byte]], codec.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (b, c) =>
      s"""${ev.value} = graft.audio.AudioFns.pcmStats($b, $c);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): PcmStats =
    copy(left = newLeft, right = newRight)
}

object expressions {
  def audio_snr(clipId: Column, bytes: Column, codec: Column,
                srHz: Column, durMs: Column): Column =
    ColumnBridge.toCol(AudioSnr(ColumnBridge.toExpr(clipId), ColumnBridge.toExpr(bytes),
      ColumnBridge.toExpr(codec), ColumnBridge.toExpr(srHz), ColumnBridge.toExpr(durMs)))

  def expected_transcript(clipId: Column): Column =
    ColumnBridge.toCol(ExpectedTranscript(ColumnBridge.toExpr(clipId)))

  /** Decode stats of one payload, see [[PcmStats]], pinned with
    * [[graft.functions.OnceBarrier]]: a filter on fields of the struct
    * would otherwise be pushed below the producing projection with the
    * whole decode inlined once per field reference (the clips pipeline
    * plan carried 4 payload decodes per surviving row). Project it into a
    * column before using it inside `agg()` or a join condition: Spark
    * rejects the barrier's non-determinism there with an AnalysisException. */
  def pcm_stats(bytes: Column, codec: Column): Column =
    graft.functions.OnceBarrier.once(
      ColumnBridge.toCol(PcmStats(ColumnBridge.toExpr(bytes), ColumnBridge.toExpr(codec))))
}
