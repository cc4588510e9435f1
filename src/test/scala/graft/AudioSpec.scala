package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.audio._
import graft.table.TableChecks

class AudioSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("codec round-trips: pcm16/dpcm16 lossless, ulaw8 >= 30dB SNR") {
    for (sr <- Seq(8000, 48000); dur <- Seq(20, 150)) {
      val s = Pcm.synthesize(s"clip-ab$sr$dur", sr, dur)
      assert(Pcm.decodePcm16(Pcm.encodePcm16(s)).sameElements(s))
      assert(Pcm.decodeDpcm16(Pcm.encodeDpcm16(s)).sameElements(s))
      val snrU = Pcm.snrDb(s, Pcm.decodeUlaw8(Pcm.encodeUlaw8(s)))
      assert(snrU >= 30.0, s"ulaw8 snr $snrU at sr=$sr dur=$dur")
    }
  }

  test("snrDb: exact match caps at 120, corrupted is low, length mismatch NaN") {
    val s = Pcm.synthesize("clip-x", 16000, 100)
    assert(Pcm.snrDb(s, s) == 120.0)
    val noisy = s.map(v => (v + 5000).toShort)
    assert(Pcm.snrDb(s, noisy) < 15.0)
    assert(Pcm.snrDb(s, s.take(10)).isNaN)
  }

  test("generator: clean rows pass the full plan; corruption classes are caught") {
    val clips = ClipsGen.generate(spark, 2000, partitions = 4,
      corruptionRate = 0.05, hotKeyEvery = 200)
    val df = clips.toDF()
    val plan = AudioChecks.fullPlan(df.schema)
    val out = plan.withValidation(df).cache()
    try {
      val invalid = out.where(!col("valid")).count()
      val total = out.count()
      // ~5% corruption over 2000 rows (hot rows are never corrupted)
      assert(invalid > 40 && invalid < 200, s"invalid=$invalid of $total")
      // every violation keyword we expect shows up across the corpus
      val kws = out.select(explode(col("violations")).as("v"))
        .select(col("v.keyword")).distinct().collect().map(_.getString(0)).toSet
      assert(Set("pattern", "enum", "minimum", "x-audio-bytesConsistent",
        "x-audio-snr", "x-audio-transcript").subsetOf(kws), kws.toString)
      // clean rows: zero violations
      val cleanInvalid = out.where(col("valid") && size(col("violations")) > 0).count()
      assert(cleanInvalid == 0)
    } finally out.unpersist()
  }

  test("hot duplicate key is caught by salted uniqueness check") {
    val clips = ClipsGen.generate(spark, 1000, partitions = 4,
      corruptionRate = 0.0, hotKeyEvery = 100)
    val dups = TableChecks.uniquenessViolations(clips.toDF(), Seq("clip_id")).collect()
    assert(dups.length == 1)
    assert(dups(0).getString(0) == ClipsGen.HotClipId)
    assert(dups(0).getAs[Long]("cnt") == 10)
  }

  test("audio_snr expression stays inside whole-stage codegen") {
    val clips = ClipsGen.generate(spark, 10, partitions = 1, corruptionRate = 0.0)
    val df = clips.toDF().select(
      expressions.audio_snr(col("clip_id"), col("bytes"), col("codec"),
        col("sr_hz"), col("dur_ms")).as("snr"))
    // "*(n)" prefixes mark operators fused into WholeStageCodegen stage n
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("*(1) Project [audiosnr"), physical)
    val snrs = df.collect().map(_.getDouble(0))
    assert(snrs.forall(_ >= 30.0))
  }

  test("pcm_stats: exact values on constructed signals, codegen, null on bad codec") {
    import spark.implicits._
    import graft.audio.Pcm
    // square wave ±16384: rms_dbfs = 20·log10(0.5), zcr = 1, no clipping
    val square = Array.tabulate(1000)(i => if (i % 2 == 0) 16384 else -16384).map(_.toShort)
    // constant full-scale: clip_frac = 1, zcr = 0, peak = 32767/32768
    val railed = Array.fill(500)(32767.toShort)
    // digital silence: rms floored at -120 dBFS
    val silent = Array.fill(100)(0.toShort)
    val df = Seq(
      (1L, Pcm.encodePcm16(square), "pcm16"),
      (2L, Pcm.encodePcm16(railed), "pcm16"),
      (3L, Pcm.encodePcm16(silent), "pcm16"),
      (4L, Array[Byte](1, 2, 3), "opus")).toDF("id", "bytes", "codec")
      .repartition(1) // barrier: stop ConvertToLocalRelation from folding
      .select(col("id"), expressions.pcm_stats(col("bytes"), col("codec")).as("st"))
    val rows = df.collect().map(r => r.getLong(0) -> Option(r.getStruct(1))).toMap
    // AQE finalizes codegen spans only after execution
    val physical = df.queryExecution.executedPlan.toString
    assert("\\*\\(\\d+\\) Project \\[id.*pcmstats".r.findFirstIn(physical).nonEmpty, physical)
    val sq = rows(1L).get
    assert(sq.getInt(0) == 1000)
    assert(math.abs(sq.getDouble(1) - 20.0 * math.log10(0.5)) < 1e-9)
    assert(sq.getDouble(3) == 0.0 && math.abs(sq.getDouble(4) - 1.0) < 1e-9)
    val rl = rows(2L).get
    assert(rl.getDouble(3) == 1.0 && rl.getDouble(4) == 0.0)
    assert(math.abs(rl.getDouble(2) - 32767.0 / 32768.0) < 1e-12)
    val si = rows(3L).get
    assert(si.getDouble(1) == -120.0 && si.getDouble(2) == 0.0)
    assert(rows(4L).isEmpty) // undecodable → null struct, isNull propagated
  }

  test("pcm_stats decodes once per row under a filter on its fields") {
    val clips = ClipsGen.generate(spark, 20, partitions = 1, corruptionRate = 0.0)
    val df = clips.toDF()
      .select(col("clip_id"), expressions.pcm_stats(col("bytes"), col("codec")).as("st"))
      .where(col("st.rms_dbfs") > -60.0 && col("st.clip_frac") < 0.01)
    // unpinned, the filter is pushed below the projection with the decode
    // inlined once per field reference
    val optimized = df.queryExecution.optimizedPlan.toString
    assert("pcmstats\\(".r.findAllMatchIn(optimized).size == 1, optimized)
    assert(df.count() == 20) // clean speech-like clips: audible, unclipped
  }

  test("pcm_stats agrees across codecs for the generator's clean clips") {
    val clips = ClipsGen.generate(spark, 30, partitions = 1, corruptionRate = 0.0)
    val stats = clips.toDF()
      .select(expressions.pcm_stats(col("bytes"), col("codec")).as("st"),
        col("sr_hz"), col("dur_ms"))
      .collect()
    stats.foreach { r =>
      val st = r.getStruct(0)
      assert(st != null)
      assert(st.getInt(0) == graft.audio.Pcm.numSamples(r.getInt(1), r.getInt(2)))
      // synthesized speech-like audio: audible but unclipped
      assert(st.getDouble(1) > -60.0 && st.getDouble(1) <= 0.0)
      assert(st.getDouble(3) < 0.05)
    }
  }

  test("expected_transcript expression matches generator") {
    val clips = ClipsGen.generate(spark, 50, partitions = 1, corruptionRate = 0.0)
    val bad = clips.toDF()
      .where(!(col("transcript") === expressions.expected_transcript(col("clip_id"))))
      .count()
    assert(bad == 0)
  }

  test("drift on dur_ms/sr_hz vs baseline snapshot: same cohort passes, shifted cohort trips") {
    val clips = ClipsGen.generate(spark, 4000, partitions = 4, corruptionRate = 0.0).toDF()
    def snapshot(df: org.apache.spark.sql.DataFrame, c: String,
                 lo: Double, hi: Double, b: Int): Map[Long, Long] =
      TableChecks.histogram(df, c, lo, hi, b).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // identical distribution: a same-generator cohort split must pass
    val durBase = snapshot(clips.where(crc32(col("clip_id")) % 2 === 0), "dur_ms", 0, 200, 20)
    val same = TableChecks.driftCheck(clips.where(crc32(col("clip_id")) % 2 === 1),
      "dur_ms", 0, 200, 20, durBase, psiMax = 0.1)
    assert(same.pass, f"same-distribution cohort tripped: psi=${same.psi}%.4f")
    // shifted duration distribution (only long clips survive): must trip
    val fullBase = snapshot(clips, "dur_ms", 0, 200, 20)
    val shifted = TableChecks.driftCheck(clips.where(col("dur_ms") >= 110),
      "dur_ms", 0, 200, 20, fullBase, psiMax = 0.1)
    assert(!shifted.pass && shifted.psi > 0.5, f"shift undetected: psi=${shifted.psi}%.4f")
    assert(shifted.ks > 0.3, f"ks missed the CDF gap: ${shifted.ks}%.4f")
    // sr_hz: dropping one sample rate from the categorical histogram trips
    val srBase = snapshot(clips, "sr_hz", 0, 48001, 16)
    val srShift = TableChecks.driftCheck(clips.where(col("sr_hz") =!= 48000),
      "sr_hz", 0, 48001, 16, srBase, psiMax = 0.1)
    assert(!srShift.pass, f"sr_hz shift undetected: psi=${srShift.psi}%.4f")
    // the bench's end-to-end entry over a parquet snapshot
    val path = java.nio.file.Files.createTempDirectory("clips_drift").toString
    clips.write.mode("overwrite").parquet(path)
    val (durPsi, srPsi) = Bench.clipsDrift(spark, path)
    assert(durPsi < 0.1 && srPsi < 0.1)
  }
}
