package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{AudioFingerprint, AudioFingerprintUtil}

/** Cross-modal (audio) near-duplicate detection — the acoustic sibling
  * of [[ImageDedup]]: a 64-bit energy-delta fingerprint per clip
  * (native [[graft.functions.AudioFingerprint]] over the REAL JDK
  * sampled-audio decode), then the shared [[Perceptual.bandedDups]]
  * shape — banded hamming buckets, capped in-bucket pairing, exact
  * `bit_count(xor)` verification. With images closed in r9, this
  * completes the modality set the media tier decodes (text / image /
  * audio; video near-dup composes per-frame image hashes and is out of
  * the synthetic corpus's scope).
  *
  * Banding math is identical to the image tier: 4 disjoint 16-bit
  * bands over the 64-bit fingerprint — pigeonhole GUARANTEES a shared
  * band for hamming <= 3, so recall is exact there (which covers every
  * engineered variant pair: gain/resample/re-encode = 0, a one-frame
  * splice <= 2); the 4..[[AudHamMax]] range surfaces only when the
  * differing bits cluster outside one band — the same documented trade
  * as [[TextDedup.SimBands]], mirrored bit-for-bit in the DuckDB
  * oracle.
  *
  * Scale notes (100 TB of audio): identical to the image tier by
  * construction — the PAYLOAD never shuffles (the fingerprint runs
  * scan-side, codegen), only (media_id, hash) = 16 bytes/row flows
  * into the banded join, the skinny frame persists once for its three
  * consumers, and buckets are capped against degenerate banks
  * (silence-padded clips all hashing near 0).
  */
object AudioDedup {

  /** Synthetic corpus shape: [[Groups]] groups x 4 variants. */
  val Groups = 60
  /** Samples per frame in the base clip — frames align exactly with the
    * fingerprint's 65-frame grid (n = 65·K), the audio analog of
    * ImageDedup sizing rasters divisible by the 9x8 grid, which is what
    * makes the resample invariance EXACT rather than approximate.
    */
  val FrameK = 8
  /** Per-frame amplitudes stay in [0, AmpMod): x2 gain headroom under
    * the PCM16 ceiling (2·999 << 32767).
    */
  val AmpMod = 1000
  /** Variant 2 splice: frame [[PatchF]]'s amplitude moves by +PatchAdd
    * mod AmpMod — flips at most the 2 neighbor-comparison bits touching
    * that frame, so hamming(v0, v2) <= 2.
    */
  val PatchAdd = 497
  val PatchF = 32

  val AudBands = 4
  val AudBandBits = 16 // 4 x 16 = 64 bits
  val AudHamMax = 5

  /** The deterministic per-frame amplitude of the BASE pattern — pure
    * integer arithmetic, replicated verbatim by the DuckDB oracle, so
    * the real decode+fingerprint pipeline is checked against an
    * independent derivation (any divergence in the WAV round-trip, the
    * |sample| fold, the frame convention, or the bit packing fails the
    * oracle).
    *
    * Variants: v0 = base pattern; v1 = the SAME pattern rendered at 2x
    * gain with every sample duplicated (gain + resample + container
    * re-encode in one variant — fingerprint-identical by the
    * cross-multiplied mean comparison); v2 = base with the one-frame
    * splice; v3 = an unrelated pattern (different multipliers),
    * distinct from every variant of its group — the multipliers vary
    * with g, not just the offset, because the fingerprint compares
    * neighbor DELTAS, so a g-dependent constant alone would cancel.
    */
  private[graft] def amp(g: Long, v: Int, f: Int): Int =
    if (v == 3)
      ((g * 37 + 11 + f.toLong * (101 + 9 * (g % 17)) +
        f.toLong * f * (13 + 3 * (g % 23))) % AmpMod).toInt
    else {
      val base = ((g * 37 + f.toLong * (73 + 7 * (g % 13)) +
        f.toLong * f * (29 + 3 * (g % 7))) % AmpMod).toInt
      if (v == 2 && f == PatchF) (base + PatchAdd) % AmpMod else base
    }

  /** Render one variant's PCM and encode it as RIFF/WAV PCM16 LE mono
    * (the container Media's decoder accepts): samples alternate sign so
    * the |sample| fold is exercised, v1 is pixel-doubling's audio twin
    * (every sample twice, at 2x gain).
    */
  private[graft] def encode(g: Long, v: Int): Array[Byte] = {
    val nf = AudioFingerprintUtil.Frames
    val rep = if (v == 1) 2 else 1
    val gain = if (v == 1) 2 else 1
    val n = nf * FrameK * rep
    val data = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val base = i / rep
      val a = amp(g, v, base / FrameK) * gain
      val s = if (base % 2 == 0) a else -a
      data(2 * i) = (s & 0xff).toByte
      data(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Deterministic synthetic audio-dedup corpus: real WAV payloads whose
    * decoded frame energies are pure arithmetic in (group, variant,
    * frame) — the audio analog of [[ImageDedup.imageTable]]'s patterned
    * rasters.
    */
  def audioTable(spark: SparkSession, nGroups: Int = Groups): DataFrame = {
    import spark.implicits._
    spark.range(nGroups * 4L)
      .map { id => (id, encode(id / 4, (id % 4).toInt)) }
      .toDF("media_id", "payload")
  }

  /** Acoustic near-dup pairs: (clip_a, clip_b, hamming) with clip_a <
    * clip_b and hamming <= maxHamming — the exact imageDups shape over
    * the audio modality.
    */
  def audioDups(clips: DataFrame,
      maxHamming: Int = AudHamMax): DataFrame =
    Perceptual.bandedDups(hashRows(clips), "media_id", AudBands, AudBandBits,
      maxHamming, "clip_a", "clip_b")

  /** The skinny (media_id, h) fingerprint projection — decode runs ONCE
    * scan-side; these rows ARE the standing acoustic index (a per-clip
    * map, IndexStore-mergeable in O(increment)), the audio twin of
    * [[ImageDedup.hashRows]].
    */
  def hashRows(clips: DataFrame): DataFrame =
    Par.fanOut(clips, "media_id")
      .select(col("media_id"), AudioFingerprint(col("payload")).as("h"))
      .filter(col("h").isNotNull)

  /** Increment ids start here — far above any standing corpus id. */
  val NewMediaBase = 1000000L
  /** Increment near-dup gain (fingerprint-invariant, like v1's 2x). */
  val IncGain = 3

  /** A daily-batch increment: for every third group a RE-INGESTED copy
    * of the group's base clip at [[IncGain]]x gain (fingerprint-
    * identical — "the same recording re-uploaded louder"), for every
    * 3k+1 group a genuinely new clip (fresh multipliers, pairs with
    * nothing); 3k+2 groups get no increment row. Pure arithmetic,
    * replicated verbatim by the oracle.
    */
  private[graft] def incAmp(g: Long, f: Int): Int =
    ((g * 41 + 29 + f.toLong * (97 + 11 * (g % 19)) +
      f.toLong * f * (19 + 7 * (g % 13))) % AmpMod).toInt

  private[graft] def encodeIncrement(g: Long): Array[Byte] = {
    val nf = AudioFingerprintUtil.Frames
    val n = nf * FrameK
    val data = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val a =
        if (g % 3 == 0) amp(g, 0, i / FrameK) * IncGain
        else incAmp(g, i / FrameK)
      val s = if (i % 2 == 0) a else -a
      data(2 * i) = (s & 0xff).toByte
      data(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  def incrementTable(spark: SparkSession,
      nGroups: Int = Groups): DataFrame = {
    import spark.implicits._
    spark.range(nGroups.toLong)
      .filter(_ % 3 != 2)
      .map { g => (NewMediaBase + g, encodeIncrement(g)) }
      .toDF("media_id", "payload")
  }

  /** Incremental audio near-dup: (indexed_id, new_id, hamming) of
    * today's batch against the standing fingerprint index — same shared
    * [[Perceptual.bandedDupsIncremental]] as the image tier.
    */
  def audioDupsIncremental(hashes: DataFrame,
      maxHamming: Int = AudHamMax): DataFrame =
    Perceptual.bandedDupsIncremental(hashes, "media_id", AudBands,
      AudBandBits, maxHamming, NewMediaBase, "indexed_id", "new_id")
}
