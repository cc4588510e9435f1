package graft.audio

/** Pure-JVM audio codecs + deterministic clip synthesis.
  *
  * The content-encoding analog for binary audio payloads
  * (`/root/reference/crates/jsonschema/src/content_encoding.rs:9-101`
  * defines check+convert pairs per encoding; ours are decode functions per
  * codec). The sandbox has no audio libraries, so codecs are simple,
  * deterministic and self-contained:
  *
  *  - `pcm16`  : 16-bit little-endian PCM (lossless container)
  *  - `dpcm16` : first-order delta PCM, 16-bit deltas (lossless)
  *  - `ulaw8`  : G.711 μ-law 8-bit companding (lossy, SNR ≈ 35-40 dB on
  *               full-scale tones — above the 30 dB gate, so a correct
  *               decode passes and a corrupted payload fails)
  */
object Pcm {

  // ---- synthesis -------------------------------------------------------

  /** Deterministic reference signal for a clip: two-tone chirp whose
    * frequencies/phases derive from the clip id hash. This is the
    * "reference decoder output" that SNR is measured against. */
  def synthesize(clipId: String, srHz: Int, durMs: Int): Array[Short] = {
    val n = numSamples(srHz, durMs)
    val seed = clipId.hashCode.toLong & 0xffffffffL
    val f1 = 80.0 + (seed % 2000) / 8.0          // 80..330 Hz
    val f2 = 400.0 + ((seed >> 8) % 4000) / 4.0  // 400..1400 Hz
    val phase = ((seed >> 16) % 1000) / 1000.0 * 2 * math.Pi
    val out = new Array[Short](n)
    // Two-tone generation via the phasor rotation recurrence (2 mul + 1 add
    // per tone per sample) instead of 2 argument-reduced math.sin calls per
    // sample — the synthesis loop dominated the whole decode+SNR kernel.
    // The phasors are re-anchored on exact math.sin/cos every `Resync`
    // samples, which bounds the accumulated rotation drift at ~Resync·ε
    // (≈5e-13): after scaling by 32767 that is orders of magnitude below
    // the 0.5 rounding boundary, so the emitted samples match the direct
    // per-sample evaluation for all practical purposes, and the SNR gate
    // (30 dB, signals at |v| ≤ 0.8) is insensitive to sub-LSB differences.
    val w1 = 2 * math.Pi * f1 / srHz
    val w2 = 2 * math.Pi * f2 / srHz
    val cw1 = math.cos(w1); val sw1 = math.sin(w1)
    val cw2 = math.cos(w2); val sw2 = math.sin(w2)
    val Resync = 1024
    var s1 = 0d; var c1 = 0d; var s2 = 0d; var c2 = 0d
    var i = 0
    while (i < n) {
      if (i % Resync == 0) {
        val t = i.toDouble / srHz
        val a1 = 2 * math.Pi * f1 * t + phase
        val a2 = 2 * math.Pi * f2 * t
        s1 = math.sin(a1); c1 = math.cos(a1)
        s2 = math.sin(a2); c2 = math.cos(a2)
      } else {
        val n1 = s1 * cw1 + c1 * sw1; c1 = c1 * cw1 - s1 * sw1; s1 = n1
        val n2 = s2 * cw2 + c2 * sw2; c2 = c2 * cw2 - s2 * sw2; s2 = n2
      }
      out(i) = math.round((0.45 * s1 + 0.35 * s2) * 32767.0).toShort
      i += 1
    }
    out
  }

  def numSamples(srHz: Int, durMs: Int): Int =
    (srHz.toLong * durMs / 1000L).toInt

  /** Deterministic transcript derived from the clip id (tiny vocabulary,
    * length from the hash). The per-row transcript-equality invariant
    * checks the stored transcript against this regeneration. */
  def expectedTranscript(clipId: String): String = {
    val vocab = Array("the", "quick", "brown", "fox", "jumps", "over", "lazy",
      "dog", "hello", "world", "audio", "clip", "sample", "data", "test", "spark")
    val seed = clipId.hashCode.toLong & 0xffffffffL
    val n = 3 + (seed % 8).toInt
    val sb = new StringBuilder
    var h = seed
    var i = 0
    while (i < n) {
      h = h * 6364136223846793005L + 1442695040888963407L
      if (i > 0) sb.append(' ')
      sb.append(vocab(((h >>> 33) % vocab.length).toInt))
      i += 1
    }
    sb.toString
  }

  // ---- pcm16 -----------------------------------------------------------

  def encodePcm16(samples: Array[Short]): Array[Byte] = {
    val out = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      out(2 * i) = (samples(i) & 0xff).toByte
      out(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
      i += 1
    }
    out
  }

  def decodePcm16(bytes: Array[Byte]): Array[Short] = {
    require(bytes.length % 2 == 0, "odd pcm16 byte length")
    val out = new Array[Short](bytes.length / 2)
    var i = 0
    while (i < out.length) {
      out(i) = (((bytes(2 * i + 1) & 0xff) << 8) | (bytes(2 * i) & 0xff)).toShort
      i += 1
    }
    out
  }

  // ---- dpcm16 (lossless delta) ----------------------------------------

  def encodeDpcm16(samples: Array[Short]): Array[Byte] = {
    val deltas = new Array[Short](samples.length)
    var prev: Short = 0
    var i = 0
    while (i < samples.length) {
      deltas(i) = (samples(i) - prev).toShort
      prev = samples(i)
      i += 1
    }
    encodePcm16(deltas)
  }

  def decodeDpcm16(bytes: Array[Byte]): Array[Short] = {
    val deltas = decodePcm16(bytes)
    var acc = 0
    var i = 0
    while (i < deltas.length) {
      acc = (acc + deltas(i)).toShort.toInt
      deltas(i) = acc.toShort
      i += 1
    }
    deltas
  }

  // ---- ulaw8 (G.711 μ-law, lossy) -------------------------------------

  private final val Bias = 0x84
  private final val Clip = 32635

  def ulawEncodeSample(s0: Short): Byte = {
    var s = s0.toInt
    val sign = if (s < 0) { s = -s; 0x80 } else 0
    if (s > Clip) s = Clip
    s += Bias
    var exponent = 7
    var mask = 0x4000
    while (exponent > 0 && (s & mask) == 0) { exponent -= 1; mask >>= 1 }
    val mantissa = (s >> (exponent + 3)) & 0x0f
    (~(sign | (exponent << 4) | mantissa)).toByte
  }

  def ulawDecodeSample(b: Byte): Short = {
    val u = ~b & 0xff
    val sign = u & 0x80
    val exponent = (u >> 4) & 0x07
    val mantissa = u & 0x0f
    var s = ((mantissa << 3) + Bias) << exponent
    s -= Bias
    (if (sign != 0) -s else s).toShort
  }

  // 256-entry decode lookup (precomputed from ulawDecodeSample, so it is
  // value-identical by construction): decode becomes one table index per
  // byte instead of the bit-twiddling chain — μ-law decode runs on every
  // ulaw8 row of every validation scan.
  private val UlawTable: Array[Short] =
    Array.tabulate(256)(i => ulawDecodeSample(i.toByte))

  def encodeUlaw8(samples: Array[Short]): Array[Byte] = {
    val out = new Array[Byte](samples.length)
    var i = 0
    while (i < samples.length) { out(i) = ulawEncodeSample(samples(i)); i += 1 }
    out
  }

  def decodeUlaw8(bytes: Array[Byte]): Array[Short] = {
    val out = new Array[Short](bytes.length)
    var i = 0
    while (i < bytes.length) { out(i) = UlawTable(bytes(i) & 0xff); i += 1 }
    out
  }

  // ---- codec dispatch --------------------------------------------------

  val codecs: Set[String] = Set("pcm16", "dpcm16", "ulaw8")

  def encode(codec: String, samples: Array[Short]): Array[Byte] = codec match {
    case "pcm16"  => encodePcm16(samples)
    case "dpcm16" => encodeDpcm16(samples)
    case "ulaw8"  => encodeUlaw8(samples)
    case other    => throw new IllegalArgumentException(s"unknown codec: $other")
  }

  /** Decode; None if the payload is not decodable under the codec. */
  def decode(codec: String, bytes: Array[Byte]): Option[Array[Short]] = codec match {
    case "pcm16"  => if (bytes.length % 2 == 0) Some(decodePcm16(bytes)) else None
    case "dpcm16" => if (bytes.length % 2 == 0) Some(decodeDpcm16(bytes)) else None
    case "ulaw8"  => Some(decodeUlaw8(bytes))
    case _        => None
  }

  /** SNR of `decoded` against the reference synthesis for
    * (clipId, srHz, durMs) WITHOUT materializing the reference: the
    * phasor recurrence emits each reference sample and the sig/noise
    * accumulation consumes it in place — value-identical to
    * `snrDb(synthesize(...), decoded)` (same per-sample values in the
    * same order), minus one n-short array per row, and the
    * length-mismatch NaN case now skips synthesis entirely. */
  def snrVsReference(clipId: String, srHz: Int, durMs: Int,
                     decoded: Array[Short]): Double = {
    val n = numSamples(srHz, durMs)
    if (n != decoded.length) return Double.NaN
    val seed = clipId.hashCode.toLong & 0xffffffffL
    val f1 = 80.0 + (seed % 2000) / 8.0
    val f2 = 400.0 + ((seed >> 8) % 4000) / 4.0
    val phase = ((seed >> 16) % 1000) / 1000.0 * 2 * math.Pi
    val w1 = 2 * math.Pi * f1 / srHz
    val w2 = 2 * math.Pi * f2 / srHz
    val cw1 = math.cos(w1); val sw1 = math.sin(w1)
    val cw2 = math.cos(w2); val sw2 = math.sin(w2)
    val Resync = 1024
    var s1 = 0d; var c1 = 0d; var s2 = 0d; var c2 = 0d
    var sig = 0.0
    var noise = 0.0
    var i = 0
    while (i < n) {
      if (i % Resync == 0) {
        val t = i.toDouble / srHz
        val a1 = 2 * math.Pi * f1 * t + phase
        val a2 = 2 * math.Pi * f2 * t
        s1 = math.sin(a1); c1 = math.cos(a1)
        s2 = math.sin(a2); c2 = math.cos(a2)
      } else {
        val n1 = s1 * cw1 + c1 * sw1; c1 = c1 * cw1 - s1 * sw1; s1 = n1
        val n2 = s2 * cw2 + c2 * sw2; c2 = c2 * cw2 - s2 * sw2; s2 = n2
      }
      val ref = math.round((0.45 * s1 + 0.35 * s2) * 32767.0).toShort
      val s = ref.toDouble
      val e = decoded(i).toDouble - s
      sig += s * s
      noise += e * e
      i += 1
    }
    if (noise == 0) 120.0
    else if (sig == 0) 0.0
    else math.min(120.0, 10.0 * math.log10(sig / noise))
  }

  /** SNR in dB of `decoded` against the reference signal; Double.NaN when
    * lengths mismatch, +120 dB cap for exact matches. */
  def snrDb(reference: Array[Short], decoded: Array[Short]): Double = {
    if (reference.length != decoded.length) return Double.NaN
    var sig = 0.0
    var noise = 0.0
    var i = 0
    while (i < reference.length) {
      val s = reference(i).toDouble
      val e = decoded(i).toDouble - s
      sig += s * s
      noise += e * e
      i += 1
    }
    if (noise == 0) 120.0
    else if (sig == 0) 0.0
    else math.min(120.0, 10.0 * math.log10(sig / noise))
  }
}
