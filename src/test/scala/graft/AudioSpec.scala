package graft

import org.apache.spark.sql.functions._

import graft.multimodal.Audio

class AudioSpec extends SparkSpec {
  import spark.implicits._

  /** Driver-side reference: the synth formula pushed through the
    * documented fingerprint definition, independently of the decoder
    * under test. */
  private def refAfp(id: Long): Option[Long] = {
    def pm(a: Long, m: Long): Long = ((a % m) + m) % m
    if (pm(id, 11) == 6 || pm(id, 13) == 5) return None
    val plant = pm(id, 10) == 1
    val eid = if (plant) id - 1 else id
    val n = 130 + pm(eid * 7, 66)
    val depth8 = pm(eid, 9) == 4
    def s(i: Long): Long = {
      val m = if (depth8) 127L else 16384L
      val half = if (depth8) 63L else 8192L
      val base = pm((eid * 31 + i * 17) * (eid + i + 7), m) - half
      if (plant) base * 2 + (if (i == 0) 1L else 0L) else base
    }
    def ceilDiv(a: Long, b: Long): Long = (a + b - 1) / b
    val e = (0L until 65L).map(f =>
      (ceilDiv(f * n, 65) until ceilDiv((f + 1) * n, 65))
        .map(i => math.abs(s(i))).sum)
    Some((0 until 64).map(b =>
      if (e(b + 1) > e(b)) 1L << b else 0L).sum)
  }

  private def fps(ids: Long*): Map[Long, Option[Long]] =
    Audio.audioEnergyFingerprint(Audio.synthWavPcmBytes(
      ids.toDF("doc_id"), "doc_id"))
      .select($"media_id", $"afp")
      .as[(Long, Option[Long])].collect().toMap

  test("fingerprint equals the driver-side reference for every id in " +
      "0..150 — covering mono/stereo fmt, the LIST-chunk skip, garbage " +
      "NULLs, truncation NULLs, the amplitude-scaled plant, and all " +
      "FOUR sample containers (16/8/24-bit int, 32-bit float)") {
    val got = fps(0L until 150L: _*)
    for (id <- 0L until 150L)
      assert(got(id) === refAfp(id), s"afp diverged for id $id")
    // the NULL contract really fired on both plant classes
    assert(got(17L).isEmpty && got(28L).isEmpty, "garbage ids (6 mod 11)")
    assert(got(5L).isEmpty && got(18L).isEmpty, "truncated ids (5 mod 13)")
    assert(got(3L).isDefined, "LIST-chunk id must parse")
    // the r19 containers really decoded (reference is container-blind:
    // float/24-bit carry the same integer values as the 16-bit class)
    assert(got(2L).isDefined, "float32 id (eid%9=2) must parse")
    assert(got(7L).isDefined, "24-bit id (eid%9=7) must parse")
  }

  test("float32 and 24-bit plants band with their sources: the x2-scaled " +
      "twin sits at Hamming <= 1 through the new containers too") {
    val h = fps(20L, 21L, 250L, 251L) // (20,21) float32; (250,251) 24-bit
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(h(20L).get, h(21L).get) <= 1, "float32 plant")
    assert(ham(h(250L).get, h(251L).get) <= 1, "24-bit plant")
  }

  test("amplitude scaling is fingerprint-invariant: the x2-scaled plant " +
      "sits within Hamming 1 of its source, unrelated ids far away, and " +
      "the SAME banded near-dup pipeline finds the pair") {
    val h = fps(40L, 41L, 43L) // 41 = scaled plant of 40; 43 unrelated
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(h(40L).get, h(41L).get) <= 1)
    assert(ham(h(40L).get, h(43L).get) > 8)
    val sigs = Audio.audioEnergyFingerprint(Audio.synthWavPcmBytes(
      Seq(40L, 41L, 43L).toDF("doc_id"), "doc_id"))
      .where($"afp".isNotNull)
      .select($"media_id".as("id"), $"afp".as("simhash"))
    val pairs = graft.dedup.Dedup.simhashBandedDups(sigs, "id", 64, 2)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((40L, 41L)))
  }

  test("malformed inputs NULL, never throw: corrupted RIFF magic, " +
      "float-declared 16-bit, 12-bit depth, integer-declared 32-bit, " +
      "fewer than 65 samples, truncation at every 50-byte step — and a " +
      "float stream carrying Inf NULLs rather than mis-hashing") {
    // id 3: 16-bit class (3 % 9 = 3) WITH the LIST chunk (3 % 4 = 3)
    val good = Audio.synthWavPcmBytes(Seq(3L).toDF("doc_id"), "doc_id")
      .select($"content").as[Array[Byte]].collect().head
    def fp(b: Array[Byte]): Option[Long] =
      Audio.audioEnergyFingerprint(Seq((1L, b)).toDF("media_id", "content"))
        .select($"afp").as[Option[Long]].collect().head
    assert(fp(good).isDefined)
    val badMagic = good.clone(); badMagic(0) = 'X'.toByte
    assert(fp(badMagic).isEmpty)
    // fmt 3 (IEEE float) is only valid at 32 bits — declared over a
    // 16-bit layout it must NULL, not decode garbage floats
    val floatFmt = good.clone(); floatFmt(20) = 3
    assert(fp(floatFmt).isEmpty)
    val bits12 = good.clone(); bits12(34) = 12
    assert(fp(bits12).isEmpty)
    // integer PCM at 32 bits stays outside the documented subset
    val int32 = good.clone(); int32(34) = 32
    assert(fp(int32).isEmpty)
    // a float-class file (id 2 → eid%9=2, no LIST chunk, data at 44)
    // with one sample overwritten to +Inf: the energy poisons to NaN
    // and the fingerprint NULLs
    val fgood = Audio.synthWavPcmBytes(Seq(2L).toDF("doc_id"), "doc_id")
      .select($"content").as[Array[Byte]].collect().head
    assert(fp(fgood).isDefined)
    val inf = fgood.clone()
    inf(44) = 0; inf(45) = 0; inf(46) = 0x80.toByte; inf(47) = 0x7F
    assert(fp(inf).isEmpty, "Inf sample must NULL the fingerprint")
    for (cut <- 0 until good.length by 50)
      assert(fp(good.take(cut)).isEmpty, s"truncated at $cut")
    // a data chunk too short for 65 samples: shrink the declared size
    val tiny = good.clone()
    // find 'data' and set its size to 128 bytes (64 samples)
    val dataAt = (0 until tiny.length - 4).find(i =>
      tiny(i) == 'd' && tiny(i + 1) == 'a' && tiny(i + 2) == 't' &&
        tiny(i + 3) == 'a').get
    tiny(dataAt + 4) = 128.toByte; tiny(dataAt + 5) = 0
    tiny(dataAt + 6) = 0; tiny(dataAt + 7) = 0
    assert(fp(tiny).isEmpty)
  }

  test("fingerprint matches the recorded goldens across all layouts, " +
      "plants, truncation, garbage and malformed blobs") {
    // the synth cycles all four sample layouts (16/8/24-bit int, f32),
    // the NULL plants (garbage, declared-but-truncated data), the
    // amplitude-scaled near-dups and the LIST-chunk interleave; the
    // malformed blobs add a non-PCM fmt, bits = 0, a float +Inf sample
    // and a data chunk declared longer than its payload
    val bad = MediaGoldens.mismatches(MediaGoldens.audio(spark))
    assert(bad.isEmpty, bad.mkString("\n"))
    val fps = Audio.audioEnergyFingerprint(Audio.synthWavPcmBytes(
        MediaGoldens.wideIds.toDF("doc_id"), "doc_id"))
      .select($"afp").as[Option[Long]].collect()
    assert(fps.count(_.isDefined) > 300, "fixture must mostly decode")
  }

  test("the fingerprint is a narrow map: no shuffle exchange in the plan") {
    val df = Audio.audioEnergyFingerprint(Audio.synthWavPcmBytes(
      (0L until 20L).toDF("doc_id"), "doc_id"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }
}
