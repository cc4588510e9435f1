package graft.audio

import org.apache.spark.sql.{Dataset, SparkSession}

/** One row of the north-rule input table (`BASELINE.json` input_hint):
  * (clip_id, bytes, sr_hz, dur_ms, codec, transcript). */
case class Clip(clip_id: String, bytes: Array[Byte], sr_hz: Int,
                dur_ms: Int, codec: String, transcript: String)

/** Deterministic synthetic clip-table generator (FIXTURES.md §1): seed
  * fixed, corruption classes injected at a configurable rate, one hot
  * duplicate key to exercise salted-agg skew handling. Generation is a
  * pure function of the row index ⇒ embarrassingly parallel, no shuffle.
  */
object ClipsGen {

  /** Generator version, part of every cached fixture's path. Bump it when
    * a change alters the bytes `clipAt` produces — r06's phasor-recurrence
    * `Pcm.synthesize` differs from the direct form by up to 1 LSB, enough
    * to move a lossless clip off the exact 120 dB SNR cap. */
  final val Version = 6

  val SampleRates: Seq[Int] = Seq(8000, 16000, 22050, 24000, 44100, 48000)
  val HotClipId = "clip-00000000feedface"

  /** Corruption classes (violation seeds). */
  object Corrupt {
    val None = 0
    val NullTranscript = 1
    val BadClipId = 2
    val BadSampleRate = 3
    val BadDuration = 4
    val TruncatedBytes = 5
    val NoisyAudio = 6
    val WrongTranscript = 7
    val UnknownCodec = 8
  }

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4b7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Deterministic row for index i. */
  def clipAt(i: Long, seed: Long, corruptionRate: Double,
             hotKeyEvery: Int, maxDurMs: Int): Clip = {
    val h = mix(seed ^ i)
    val isHot = hotKeyEvery > 0 && i % hotKeyEvery == hotKeyEvery - 1
    val clipId =
      if (isHot) HotClipId
      else f"clip-${mix(h ^ 0x1111) & 0xffffffffffffffffL}%016x"
    val srHz = SampleRates(((mix(h ^ 0x2222) >>> 8) % SampleRates.length).toInt)
    val durMs = 20 + ((mix(h ^ 0x3333) >>> 8) % (maxDurMs - 20)).toInt
    val codec = Seq("pcm16", "dpcm16", "ulaw8")(((mix(h ^ 0x4444) >>> 8) % 3).toInt)
    val samples = Pcm.synthesize(clipId, srHz, durMs)
    val bytes = Pcm.encode(codec, samples)
    val transcript = Pcm.expectedTranscript(clipId)

    val frac = ((mix(h ^ 0x5555) >>> 11).toDouble / (1L << 53).toDouble)
    if (isHot || frac >= corruptionRate)
      Clip(clipId, bytes, srHz, durMs, codec, transcript)
    else {
      val cls = 1 + ((mix(h ^ 0x6666) >>> 8) % 8).toInt
      cls match {
        case Corrupt.NullTranscript => Clip(clipId, bytes, srHz, durMs, codec, null)
        case Corrupt.BadClipId =>
          Clip("CLIP_" + (mix(h) & 0xffffff).toString, bytes, srHz, durMs, codec, transcript)
        case Corrupt.BadSampleRate => Clip(clipId, bytes, 12345, durMs, codec, transcript)
        case Corrupt.BadDuration => Clip(clipId, bytes, srHz, -durMs, codec, transcript)
        case Corrupt.TruncatedBytes =>
          Clip(clipId, bytes.take(math.max(1, bytes.length / 2 - 1)), srHz, durMs, codec, transcript)
        case Corrupt.NoisyAudio =>
          val noisy = samples.clone()
          var j = 0
          var rh = mix(h ^ 0x7777)
          while (j < noisy.length) {
            rh = mix(rh)
            noisy(j) = (noisy(j) + ((rh % 20000) - 10000)).toShort
            j += 1
          }
          Clip(clipId, Pcm.encode(codec, noisy), srHz, durMs, codec, transcript)
        case Corrupt.WrongTranscript =>
          Clip(clipId, bytes, srHz, durMs, codec, transcript + " extra")
        case Corrupt.UnknownCodec => Clip(clipId, bytes, srHz, durMs, "mp3", transcript)
        case _ => Clip(clipId, bytes, srHz, durMs, codec, transcript)
      }
    }
  }

  /** Distributed generation: `spark.range` (no data source, no shuffle) →
    * pure map. Partition count sizes the parallelism explicitly. */
  def generate(spark: SparkSession, n: Long, partitions: Int,
               corruptionRate: Double = 0.01, seed: Long = 42L,
               hotKeyEvery: Int = 200, maxDurMs: Int = 200): Dataset[Clip] = {
    import spark.implicits._
    spark.range(0L, n, 1L, partitions)
      .map(i => clipAt(i, seed, corruptionRate, hotKeyEvery, maxDurMs))
  }
}
