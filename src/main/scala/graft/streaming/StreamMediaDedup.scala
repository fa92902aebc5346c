package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{AudioDedup, ImageDedup, Perceptual, VideoDedup}

/** The cross-modal leg of the streaming curation firehose — the
  * streaming form of the batch incremental contract (q_image_dups_incr /
  * q_audio_dups_incr / q_video_dups_incr): every arriving media payload
  * is fingerprinted scan-side (one codegen'd native call — the payload
  * never leaves the scan), matched against the STANDING perceptual
  * index by the SAME pairing core the batch tier runs
  * ([[graft.ops.Perceptual.bandedDupsFromBands]] for the 64-bit
  * image/audio fingerprints, [[graft.ops.VideoDedup.videoDupsAgainst]]
  * frame-set containment for clips — so streaming and batch verdicts
  * cannot drift), and routed with a verdict; each micro-batch's
  * NON-duplicate fingerprints then fold into the standing index, so
  * batch N+1 sees batch N's canonical assets — exactly how a
  * production media ingest maintains its perceptual index.
  *
  * Factories: [[StreamMediaDedup.image]] / [[StreamMediaDedup.audio]]
  * (banded hamming; verdict `score` = the best match's hamming
  * distance) / [[StreamMediaDedup.video]] (frame-set containment;
  * `score` = the best match's overlap fraction). Each returns an
  * [[IndexLeg]] over a streaming (media_id, payload, ts) frame.
  *
  * Verdict semantics per arriving asset:
  *  - `is_dup` — some indexed asset cleared the modality's threshold;
  *    `matched_id`/`score` identify the BEST standing match
  *    (deterministic tiebreak on lowest indexed id);
  *  - undecodable payloads surface with `decoded = false` (the
  *    declared-fallback contract made visible in the stream) and are
  *    never admitted to the index;
  *  - duplicates are detected and reported, NOT silently dropped —
  *    retro-removal is the standing batch dedup's job, the same
  *    detect-don't-drop stance as [[StreamNearDup]].
  *
  * Within-batch near-dup pairs (two copies arriving in ONE micro-batch)
  * are out of this leg's verdict scope and BOTH fold as canonical: the
  * accretion is bounded by the batch's internal dup rate × batch size,
  * and the standing batch dedup (q_image_dups / q_audio_dups /
  * q_video_dups over the index) retro-prunes them — the text leg dedups
  * its fold instead ([[StreamTextDedup]]) because document firehoses
  * carry far higher within-batch dup rates than keyed media ingests,
  * where an asset id arrives once by contract.
  *
  * State shape: the [[IndexLeg]]'s durable store, partitioned by a
  * hash prefix of the CONSULT key — band key for image/audio (the rows
  * are stored band-exploded, i.e. as the LSH inverted index itself),
  * frame hash for video. The batch body, replay shield and fold guards
  * are [[IndexLeg]]'s; the already-standing fold guard matters most
  * here, because duplicated frame rows would double the containment
  * tier's per-pair shared counts.
  */
object StreamMediaDedup {

  /** Stored index-row shape for the banded modalities: the band-exploded
    * LSH inverted index (media_id, i, bv, h) + the (i, bv) hash-prefix
    * partition key — a consult on band keys prunes to its buckets' files.
    */
  private def bandedStored(bands: Int, bandBits: Int)(
      hashes: DataFrame): DataFrame =
    Perceptual.bandRows(hashes, "media_id", bands, bandBits)
      .withColumn("pk",
        FoldStore.pk(IndexLeg.PrefixParts, col("i"), col("bv")))

  /** Best banded-hamming match per arriving asset: min (hamming, id). */
  private def bandedBest(bands: Int, bandBits: Int, maxHamming: Int)(
      index: DataFrame, fresh: DataFrame): DataFrame =
    Perceptual.bandedDupsFromBands(
        index.select(col("media_id"), col("i"), col("bv"), col("h")),
        Perceptual.bandRows(fresh, "media_id", bands, bandBits),
        "media_id", maxHamming, "indexed_id", "new_id")
      .groupBy(col("new_id").as("media_id"))
      .agg(min(struct(col("hamming"), col("indexed_id"))).as("m"))
      .select(col("media_id"), col("m.indexed_id").as("matched_id"),
        col("m.hamming").cast("double").as("score"))

  /** A media leg's spec: scan-side fingerprints of (media_id, payload),
    * best-match verdicts (decoded, is_dup, matched_id, score), and a
    * fold of the unmatched fingerprints.
    */
  private def spec(hashRows: DataFrame => DataFrame,
      toStored: DataFrame => DataFrame,
      bestMatch: (DataFrame, DataFrame) => DataFrame): IndexLeg.Spec =
    IndexLeg.Spec(
      idCol = "media_id",
      sign = batch => hashRows(batch.select(col("media_id"), col("payload"))),
      toStored = toStored,
      judge = bestMatch,
      verdicts = IndexLeg.bestMatchVerdicts("media_id", "media_key",
        "decoded", "score"),
      canonical = IndexLeg.unmatched("media_id"))

  private def banded(verdictSink: BatchSink, standingIndex: DataFrame,
      indexDir: String, hashRows: DataFrame => DataFrame,
      bands: Int, bandBits: Int, maxHamming: Int): IndexLeg =
    IndexLeg.open(standingIndex.sparkSession, verdictSink, standingIndex,
      indexDir, spec(hashRows, bandedStored(bands, bandBits),
        bandedBest(bands, bandBits, maxHamming)))

  /** Image leg: dHash fingerprints, banded hamming. `indexDir` is the
    * leg's durable index root — pass the same directory on restart to
    * recover the standing index and fold guard.
    */
  def image(verdictSink: BatchSink, standingIndex: DataFrame,
      indexDir: String,
      maxHamming: Int = ImageDedup.ImgHamMax): IndexLeg =
    banded(verdictSink, standingIndex, indexDir, ImageDedup.hashRows,
      ImageDedup.ImgBands, ImageDedup.ImgBandBits, maxHamming)

  /** Audio leg: energy-delta fingerprints, banded hamming. */
  def audio(verdictSink: BatchSink, standingIndex: DataFrame,
      indexDir: String,
      maxHamming: Int = AudioDedup.AudHamMax): IndexLeg =
    banded(verdictSink, standingIndex, indexDir, AudioDedup.hashRows,
      AudioDedup.AudBands, AudioDedup.AudBandBits, maxHamming)

  /** Video leg: per-frame hash sets, containment pairing — best match =
    * max overlap, then lowest indexed id. Stored rows are the frame-hash
    * inverted index (media_id, h, n) partitioned by hash prefix.
    */
  def video(verdictSink: BatchSink, standingIndex: DataFrame,
      indexDir: String,
      overlapMin: Double = VideoDedup.OverlapMin): IndexLeg =
    IndexLeg.open(standingIndex.sparkSession, verdictSink, standingIndex,
      indexDir, spec(VideoDedup.hashRows,
        _.withColumn("pk", FoldStore.pk(IndexLeg.PrefixParts, col("h"))),
        (index, fresh) =>
          VideoDedup.videoDupsAgainst(
              index.select(col("media_id"), col("h"), col("n")), fresh,
              overlapMin)
            .groupBy(col("new_id").as("media_id"))
            .agg(min(struct((-col("overlap")).as("_neg"),
              col("indexed_id"))).as("m"))
            .select(col("media_id"), col("m.indexed_id").as("matched_id"),
              (-col("m._neg")).as("score"))))
}
