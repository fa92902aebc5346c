package graft.ops

import java.awt.image.BufferedImage

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{ImageDHash, ImageDHashUtil}

/** Cross-modal (image) near-duplicate detection — the perceptual-hash
  * sibling of [[TextDedup.simhashDups]]: a 64-bit dHash per image
  * (native [[graft.functions.ImageDHash]] over the REAL ImageIO decode),
  * banded hamming buckets, capped in-bucket pairing, exact
  * `bit_count(xor)` verification. The engine dedups text at every
  * granularity; this closes the image modality with the same contract
  * and the same scale shape (one groupBy(band) shuffle, never
  * all-pairs).
  *
  * Banding math mirrors the simhash tier: 4 disjoint 16-bit bands over
  * the 64-bit hash — pigeonhole GUARANTEES a shared band for hamming
  * <= 3, so recall is exact there (which covers every engineered
  * variant pair in the synthetic corpus: re-encode/resize/brightness =
  * 0, a one-cell patch <= 2); pairs in the 4..[[ImgHamMax]] range
  * surface only when their differing bits cluster outside one band —
  * the same documented trade as [[TextDedup.SimBands]], mirrored
  * bit-for-bit in the DuckDB oracle.
  *
  * Scale notes (100 TB of images):
  *  - the PAYLOAD never shuffles: the dHash projection runs scan-side
  *    (native expression, codegen) and only (media_id, hash) — 16
  *    bytes/row — flows into the banded join;
  *  - hashes are consumed three times (bucketing + both verify sides),
  *    so the skinny frame persists once, exactly like simhashDups'
  *    signature frame;
  *  - buckets are capped at [[TextDedup.MaxBucket]] ids — a stop-sign
  *    against quadratic blowup on degenerate banks (e.g. millions of
  *    near-black thumbnails sharing a band value), same contract as the
  *    MinHash LSH tier.
  */
object ImageDedup {

  /** Synthetic corpus shape: [[Groups]] groups x 4 variants. */
  val Groups = 60
  val BaseW = 36 // divisible by the 9-wide grid: 4px blocks
  val BaseH = 32 // divisible by the 8-tall grid: 4px blocks
  /** Luma values stay in [0, LumaMod): headroom for the +Shift variant. */
  val LumaMod = 200
  /** Variant 1 brightness shift — dHash-invariant (differences move
    * together), pinned at hamming 0 by ImageDedupSpec.
    */
  val Shift = 16
  /** Variant 2 patch: the luma inside grid cell (PatchGx, PatchGy) moves
    * by +PatchAdd mod LumaMod — flips at most the 2 comparison bits
    * touching that cell, so hamming(v0, v2) <= 2.
    */
  val PatchAdd = 97
  val PatchGx = 2
  val PatchGy = 3

  val ImgBands = 4
  val ImgBandBits = 16 // 4 x 16 = 64 bits
  val ImgHamMax = 5

  /** The deterministic pattern luma at BASE raster coordinates — pure
    * integer arithmetic, replicated verbatim by the DuckDB oracle, so
    * the real decode+hash pipeline is checked against an independent
    * derivation (any divergence in the decoder, the luma fold, the
    * block-mean convention, or the bit packing fails the oracle).
    *
    * Variants: v0 = base pattern; v1 = SAME pattern (rendered 2x
    * pixel-doubled, +Shift, BMP-encoded by [[imageTable]]); v2 = base
    * with the one-cell patch; v3 = an unrelated pattern (different
    * multipliers), distinct from every variant of its group.
    */
  private[graft] def luma(g: Long, v: Int, bx: Int, by: Int): Int = {
    // the MULTIPLIERS vary with g, not just the offset: dHash compares
    // neighbor differences, so a g-dependent constant alone would cancel
    // and every group would collide with every other
    if (v == 3)
      ((g * 37 + 11 + bx.toLong * (101 + 9 * (g % 17)) +
        by.toLong * (47 + 5 * (g % 19)) +
        bx.toLong * by * (13 + 3 * (g % 23))) % LumaMod).toInt
    else {
      val base =
        ((g * 37 + bx.toLong * (73 + 7 * (g % 13)) +
          by.toLong * (151 + 5 * (g % 11)) +
          bx.toLong * by * (29 + 3 * (g % 7))) % LumaMod).toInt
      if (v == 2 && bx * ImageDHashUtil.GridW / BaseW == PatchGx &&
          by * ImageDHashUtil.GridH / BaseH == PatchGy)
        (base + PatchAdd) % LumaMod
      else base
    }
  }

  /** Render one variant raster and encode it: v1 is the 2x pixel-doubled,
    * brightness-shifted BMP re-encode (three perceptual-invariance axes
    * in one variant); everything else is a PNG at base size.
    */
  private[graft] def encode(g: Long, v: Int): Array[Byte] = {
    val w = if (v == 1) 2 * BaseW else BaseW
    val h = if (v == 1) 2 * BaseH else BaseH
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val bx = if (v == 1) x / 2 else x
        val by = if (v == 1) y / 2 else y
        val l = luma(g, v, bx, by) + (if (v == 1) Shift else 0)
        img.setRGB(x, y, (l << 16) | (l << 8) | l)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, if (v == 1) "bmp" else "png", bos)
    bos.toByteArray
  }

  /** Deterministic synthetic image-dedup corpus: real PNG/BMP payloads
    * whose decoded rasters are pure arithmetic in (group, variant, x, y)
    * — the image analog of Media.mediaTable's constant-gray principle,
    * extended to patterned rasters so the perceptual hash has structure
    * to fingerprint.
    */
  def imageTable(spark: SparkSession, nGroups: Int = Groups): DataFrame = {
    import spark.implicits._
    spark.range(nGroups * 4L)
      .map { id => (id, encode(id / 4, (id % 4).toInt)) }
      .toDF("media_id", "payload")
  }

  /** Perceptual near-dup pairs: (img_a, img_b, hamming) with img_a <
    * img_b and hamming <= maxHamming — the exact simhashDups shape over
    * the image modality.
    */
  def imageDups(images: DataFrame,
      maxHamming: Int = ImgHamMax): DataFrame =
    Perceptual.bandedDups(hashRows(images), "media_id", ImgBands,
      ImgBandBits, maxHamming, "img_a", "img_b")

  /** The skinny (media_id, h) fingerprint projection: the expensive
    * decode runs ONCE scan-side, payloads never pass this point. These
    * rows ARE the standing perceptual index [[imageDupsIncremental]]
    * consults — a per-image map (build(A ∪ B) ≡ build(A) ∪ build(B)),
    * so [[graft.IndexStore.mergeOrBuild]] folds a daily media batch
    * into the standing index in O(increment) bytes, the same contract
    * as the MinHash band index and the substring gram index.
    */
  def hashRows(images: DataFrame): DataFrame =
    Par.fanOut(images, "media_id")
      .select(col("media_id"), ImageDHash(col("payload")).as("h"))
      .filter(col("h").isNotNull)

  /** Increment ids start here — far above any standing corpus id. */
  val NewMediaBase = 1000000L
  /** Increment near-dup brightness delta (dHash-invariant, like Shift). */
  val IncShift = 9

  /** A daily-batch increment for the incremental tier: for every third
    * group a RE-INGESTED copy of the group's base image (BMP re-encode
    * at +IncShift brightness → fingerprint-identical to v0/v1, within 2
    * bits of v2 — the "same asset re-uploaded" case), for every 3k+1
    * group a genuinely new image (fresh multipliers, pairs with
    * nothing); 3k+2 groups get no increment row. Pure arithmetic like
    * [[imageTable]], replicated verbatim by the oracle.
    */
  private[graft] def incLuma(g: Long, bx: Int, by: Int): Int =
    ((g * 41 + 23 + bx.toLong * (89 + 11 * (g % 19)) +
      by.toLong * (59 + 7 * (g % 17)) +
      bx.toLong * by * (17 + 5 * (g % 13))) % LumaMod).toInt

  private[graft] def encodeIncrement(g: Long): Array[Byte] = {
    val img = new BufferedImage(BaseW, BaseH, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < BaseH) {
      var x = 0
      while (x < BaseW) {
        val l =
          if (g % 3 == 0) luma(g, 0, x, y) + IncShift
          else incLuma(g, x, y)
        img.setRGB(x, y, (l << 16) | (l << 8) | l)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, if (g % 3 == 0) "bmp" else "png", bos)
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

  /** Incremental image near-dup: (indexed_id, new_id, hamming) pairs of
    * today's batch against the standing fingerprint index — shuffle
    * volume proportional to the increment, cap decided on the index
    * side (see [[Perceptual.bandedDupsIncremental]]).
    */
  def imageDupsIncremental(hashes: DataFrame,
      maxHamming: Int = ImgHamMax): DataFrame =
    Perceptual.bandedDupsIncremental(hashes, "media_id", ImgBands,
      ImgBandBits, maxHamming, NewMediaBase, "indexed_id", "new_id")
}
