package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shared scale shape of the perceptual (cross-modal) near-dup tiers:
  * banded hamming buckets over a 64-bit per-item fingerprint, capped
  * in-bucket pairing, exact `bit_count(xor)` verification — one
  * implementation behind [[ImageDedup.imageDups]] and
  * [[AudioDedup.audioDups]], so the image and audio modalities cannot
  * drift apart structurally. The banding math is
  * [[TextDedup.simhashDups]]'s: disjoint equal-width bands pigeonhole-
  * guarantee a shared band for hamming <= bands-1, and the bucket cap
  * is the stop-sign against quadratic blowup on degenerate banks
  * (near-black thumbnails, silence-padded clips).
  */
object Perceptual {

  /** Pairs (a, b, hamming) with a < b and hamming <= maxHamming, from a
    * skinny (id, h) frame `in`, pinned here (it is consumed three times:
    * bucketing + both verify sides), so each modality's expensive decode
    * runs once and payloads never pass this point.
    */
  private[ops] def bandedDups(in: DataFrame, idCol: String,
      bands: Int, bandBits: Int, maxHamming: Int,
      outA: String, outB: String): DataFrame = {
    val hashes = graft.Pin.cache(in)
    val fanout = hashes.sparkSession.sessionState.conf.numShufflePartitions
    val mask = (1L << bandBits) - 1L
    val buckets = hashes
      .select(col(idCol),
        explode(sequence(lit(0), lit(bands - 1))).as("i"), col("h"))
      .withColumn("bv",
        call_function("shiftright", col("h"), col("i") * lit(bandBits))
          .bitwiseAND(lit(mask)))
      // pin the bucket exchange width (AQE would coalesce the tiny-BYTES
      // band rows to one partition and serialize the pair explode —
      // same rationale as simhashDups)
      .repartition(fanout, col("i"), col("bv"))
      .groupBy(col("i"), col("bv"))
      .agg(sort_array(collect_list(col(idCol))).as("ids"))
    val pairs = TextDedup.suffixPairs(buckets, TextDedup.MaxBucket)
      .withColumnRenamed("doc_a", outA)
      .withColumnRenamed("doc_b", outB)
    val hOf = hashes.select(col(idCol), col("h"))
    pairs
      .join(hOf.as("ha"), col(outA) === col(s"ha.$idCol"))
      .join(hOf.as("hb"), col(outB) === col(s"hb.$idCol"))
      .withColumn("hamming",
        bit_count(col("ha.h").bitwiseXOR(col("hb.h"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col(outA), col(outB), col("hamming"))
      .orderBy(outA, outB)
  }

  /** Incremental perceptual near-dup: a NEW batch of fingerprints
    * against the STANDING hash index, without touching index-vs-index
    * pairs — the daily-ingest path of a production media-dedup service,
    * the exact [[TextDedup.incrementalDups]] contract over hamming
    * bands instead of MinHash bands. `hashes` is one (id, h) frame
    * (typically an [[graft.IndexStore]] merge of the standing index
    * plus today's batch); rows with id >= newIdBase are the increment.
    *
    * Scale shape: the standing index is consulted behind a broadcast
    * semi-join against the increment's distinct band keys
    * (the [[TextDedup.substringDedupIncremental]] contract) — the
    * surviving `touched` rows are increment-band-bounded, so the
    * 100 TB index never shuffles; its two consumers (the hot-band cap
    * count and the candidate join) each rescan the persisted input
    * below rather than an operator-owned cache (see
    * [[bandedDupsFromBands]]). The cap itself is still decided on the INDEX side
    * alone — restricting by band KEY keeps every touched band's full
    * index population, so a pathological increment cannot re-admit a
    * bucket the standing index already knows is degenerate (black
    * frames, silence). Verification is exact bit_count(xor) on
    * candidates only.
    *
    * `hashes` is pinned here unless already cached (it feeds four
    * subtrees: index/fresh bands + both verify sides — an unpersisted
    * frame built on decode+fingerprint would re-run the decode per
    * consumer).
    */
  private[ops] def bandedDupsIncremental(hashes: DataFrame, idCol: String,
      bands: Int, bandBits: Int, maxHamming: Int, newIdBase: Long,
      outIdx: String, outNew: String): DataFrame = {
    val cached = graft.Pin.cache(hashes)
    bandedDupsAgainst(cached.filter(col(idCol) < newIdBase),
      cached.filter(col(idCol) >= newIdBase), idCol, bands, bandBits,
      maxHamming, outIdx, outNew)
  }

  /** The band-exploded projection of a (id, h) fingerprint frame:
    * (id, i, bv, h), one row per (fingerprint, band) — the LSH inverted
    * index itself, and the STORED shape of the streaming legs' durable
    * standing index ([[graft.streaming.FoldStore]] partitions it by a
    * hash prefix of (i, bv), so a micro-batch's consult prunes to the
    * band buckets it touches at file granularity).
    */
  private[graft] def bandRows(hashes: DataFrame, idCol: String,
      bands: Int, bandBits: Int): DataFrame = {
    val mask = (1L << bandBits) - 1L
    hashes
      .select(col(idCol),
        explode(sequence(lit(0), lit(bands - 1))).as("i"), col("h"))
      .withColumn("bv",
        call_function("shiftright", col("h"), col("i") * lit(bandBits))
          .bitwiseAND(lit(mask)))
      .select(col(idCol), col("i"), col("bv"), col("h"))
  }

  /** The two-frame form of [[bandedDupsIncremental]]: an explicit
    * standing `index` (id, h) frame vs an explicit `fresh` batch frame —
    * the batch incremental queries' shape, where the merged frame is
    * split by an id range. Ids must be disjoint across the two frames
    * (the caller's contract). Both inputs must be cheap to rescan
    * (persisted or a columnar-store read): the index band explode feeds
    * two consumers (the hot-band cap count and the candidate join) and
    * is deliberately NOT pinned here — recomputing a codegen'd explode
    * over an already-cached (or file-pruned) input is cheaper than a
    * cache per call.
    */
  private[graft] def bandedDupsAgainst(index: DataFrame, fresh: DataFrame,
      idCol: String, bands: Int, bandBits: Int, maxHamming: Int,
      outIdx: String, outNew: String): DataFrame =
    bandedDupsFromBands(bandRows(index, idCol, bands, bandBits),
      bandRows(fresh, idCol, bands, bandBits), idCol, maxHamming,
      outIdx, outNew)

  /** Core of the incremental/streaming perceptual consult, over ALREADY
    * band-exploded frames (id, i, bv, h) — what the streaming media leg
    * calls with the durable store's file-pruned read as `indexBands`.
    *
    * Scale shape: the index side is restricted by ONE broadcast
    * semi-join against the increment's distinct band keys (and, for a
    * [[graft.streaming.FoldStore]]-backed caller, by partition pruning
    * BEFORE that — the store's pk is a function of (i, bv), so every
    * touched band's full index population survives pruning and the
    * hot-band cap still sees true standing bucket sizes). Fingerprints
    * ride the band rows, so candidate verification needs NO join back
    * to the fingerprint frames: the exact bit_count(xor) runs on the
    * candidate rows themselves (the distinct collapses multi-band
    * agreements first — h is functionally dependent on id, so the pair
    * cardinality is unchanged). Index-vs-index pairs never form.
    */
  private[graft] def bandedDupsFromBands(indexBands: DataFrame,
      freshBands: DataFrame, idCol: String, maxHamming: Int,
      outIdx: String, outNew: String): DataFrame = {
    val touched = indexBands
      .join(broadcast(freshBands.select(col("i"), col("bv")).distinct()),
        Seq("i", "bv"), "leftsemi")
    val okBands = touched
      .groupBy(col("i"), col("bv"))
      .agg(count(lit(1)).as("_n"))
      .filter(col("_n") <= TextDedup.MaxBucket)
      .select(col("i"), col("bv"))
    freshBands.as("f")
      .join(touched.join(okBands, Seq("i", "bv")).as("ix"),
        Seq("i", "bv"))
      .select(col(s"ix.$idCol").as(outIdx), col(s"f.$idCol").as(outNew),
        col("ix.h").as("_ha"), col("f.h").as("_hb"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("_ha").bitwiseXOR(col("_hb"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col(outIdx), col(outNew), col("hamming"))
      .orderBy(outIdx, outNew)
  }
}
