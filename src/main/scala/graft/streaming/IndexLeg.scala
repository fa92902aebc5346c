package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Pin

/** A standing-index streaming dedup leg — the streaming form of the
  * batch incremental contract: every arriving item is signed
  * scan-side, judged against the STANDING index by the same pairing
  * core the batch tier runs, routed with a verdict, and each
  * micro-batch's canonical items then fold into the index, so batch
  * N+1 sees batch N's canonical items. One partitioned standing index,
  * consulted once per window.
  *
  * The modalities differ only in their [[IndexLeg.Spec]] and are built
  * by the factory objects: [[StreamTextDedup]] (MinHash bands + exact
  * shingle jaccard), [[StreamMediaDedup]] (image/audio banded hamming,
  * video frame-set containment) and [[StreamEmbedDedup]] (SemDeDup
  * against frozen IVF centroids). Duplicates are detected and reported,
  * NOT silently dropped — retro-removal is the standing batch dedup's
  * job.
  *
  * State shape: the standing index lives in a durable [[FoldStore]] —
  * signature rows partitioned by a hash prefix (`pk`) of the CONSULT
  * key (band key, frame hash, centroid id), so each micro-batch's
  * consult reads only the buckets its keys touch, at file granularity.
  * Restart recovery (the constructor adopts the store's manifest:
  * segments + `lastFoldedId`), the durable fold and segment compaction
  * are the store's.
  *
  * Delivery (exactly-once = epoch id + idempotent fold): the verdict
  * sink sees every batch at-least-once, and verdicts are a pure
  * function of (standing index MINUS the batch's own ids, batch). The
  * self-exclusion is the replay shield: a batch replayed AFTER its fold
  * committed (crash between `store.append` and the checkpoint commit)
  * would otherwise find its own canonical rows standing, self-match
  * (hamming 0 / cos 1 / jaccard 1) and flip every kept item to
  * dup-of-itself, which a keyed sink would overwrite over the correct
  * verdict. With the shield the replay sees exactly the pre-fold index
  * (foreachBatch serializes batches) and re-emits identical rows. The
  * fold is double-guarded: the durable `lastFoldedId` stops a same-id
  * replay, and an anti-join against ids already standing in the
  * touched buckets stops a re-delivery under a NEW batch id from
  * planting twin rows — which the banded tiers absorb but the
  * containment tier does not (twin frame rows double the shared counts
  * and push overlap past 1).
  *
  * Arriving ids must be disjoint from the standing index's and from
  * earlier batches' (any real ingest keys its items uniquely).
  */
final class IndexLeg private (
    verdictSink: BatchSink,
    private[graft] val store: FoldStore,
    spec: IndexLeg.Spec,
    owned: Pin.Scope) {

  /** Distinct items currently standing in the index (diagnostic). */
  def indexSize: Long =
    if (spec.rowPerItem) store.read().count() else store.assets(spec.idCol)

  /** Start the leg over a streaming frame of (id, payload, ts). */
  def start(in: DataFrame, checkpointDir: String): StreamingQuery =
    in.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        processBatch(batch.toDF(), id)
      }
      .start()

  /** One micro-batch: sign once, judge against the pruned standing
    * index, emit verdicts, fold the batch's canonical rows in. Exposed
    * for the parity specs (same body the streaming query runs).
    */
  private[graft] def processBatch(b: DataFrame, id: Long): Unit = Pin.scope {
    val idCol = spec.idCol
    val batch = Pin.cache(b)
    if (batch.count() > 0) {
      // persisted: the signed batch feeds the bucket set, the judge,
      // the verdict spine and the fold
      val signed = Pin.cache(spec.sign(batch))
      // the batch's touched hash-prefix buckets — a bounded (<=
      // PrefixParts) driver-side set, the partition-prune decision
      // exactly like a DPP subquery's
      val pks = spec.toStored(signed).select(col("pk")).distinct()
        .collect().map(_.getInt(0)).toSeq
      // the pruned index read is persisted for THIS batch only: the
      // pairing cores consume the index side twice (hot-bucket cap +
      // candidate join), and without the cache each consumer would
      // re-open every pruned segment file — the growth term a
      // 20-batch image run measured before this cache (batch seconds
      // 4.1 -> 7.8 as the file count grew)
      val pruned = Pin.cache(store.readFor(pks).drop("pk"))
      val batchIds = signed.select(col(idCol)).distinct()
      // replay shield; broadcast: the id set is batch-sized
      val index = pruned.join(broadcast(batchIds), Seq(idCol), "left_anti")
      // persisted: feeds both the verdicts and the fold
      val judged = Pin.cache(spec.judge(index, signed))
      verdictSink.write(spec.verdicts(batch, signed, judged), id)
      if (id > store.lastFoldedId) {
        // the new-batch-id re-delivery guard: empty in normal
        // operation and batch-bounded on a re-delivery, so the
        // broadcast is safe
        val alreadyStanding = pruned.select(col(idCol))
          .join(broadcast(batchIds), Seq(idCol), "left_semi")
          .distinct()
        val keep = spec.canonical(signed, judged)
          .join(broadcast(alreadyStanding), Seq(idCol), "left_anti")
        store.append(spec.toStored(keep), id)
      }
    }
  }

  /** Release the frames the spec pinned and the durable store's writer
    * lock (the index itself stays on disk; reopen the leg on the same
    * directory to resume).
    */
  def close(): Unit = {
    owned.close()
    store.close()
  }
}

object IndexLeg {

  /** Hash-prefix bucket count of the durable index layout (the shard
    * count of the object-store prefix at deployment scale).
    */
  val PrefixParts = 64

  /** Segment-count compaction bound: each fold appends up to
    * [[PrefixParts]] small files (one per touched bucket), so the
    * per-batch consult's footer-open cost grows with the live segment
    * count. Past this many live segments each fold also runs one
    * bucket-slice compaction step; rare-full-merge beat fanout-2
    * generational tiering in a measured r11 A/B at increment-heavy
    * shapes (SCALING r11 addendum 2).
    */
  private val CompactAfter = 8

  /** What one modality supplies; the batch body is [[IndexLeg]]'s.
    *
    * @param idCol       the item id column of the batch and the index
    * @param sign        batch (id, payload, ts) → signed rows: the
    *                    scan-side signature/fingerprint projection;
    *                    undecodable items yield no rows
    * @param toStored    signed rows → the store's index-row shape incl.
    *                    the int `pk` hash-prefix partition column
    * @param judge       (pruned standing index without `pk`, signed
    *                    rows) → per-item judgement, keyed by `idCol`
    * @param verdicts    (batch, signed, judged) → verdict rows for the
    *                    sink
    * @param canonical   (signed, judged) → the signed rows eligible to
    *                    fold (the leg then drops already-standing ids)
    * @param rowPerItem  the store holds one row per item, so its row
    *                    count is the item count (and exposes a twin)
    */
  final case class Spec(
      idCol: String,
      sign: DataFrame => DataFrame,
      toStored: DataFrame => DataFrame,
      judge: (DataFrame, DataFrame) => DataFrame,
      verdicts: (DataFrame, DataFrame, DataFrame) => DataFrame,
      canonical: (DataFrame, DataFrame) => DataFrame,
      rowPerItem: Boolean = false)

  /** Open a leg over a durable index at `indexDir`, seeding it from
    * `standing` (signed-row shape) only when the directory holds no
    * index yet — a restart adopts the durable state and never evaluates
    * the seed. `spec` is built in the leg's own [[Pin.Scope]], so what it
    * pins lives until [[IndexLeg.close]].
    */
  private[streaming] def open(spark: SparkSession, verdictSink: BatchSink,
      standing: => DataFrame, indexDir: String, spec: => Spec): IndexLeg = {
    val owned = new Pin.Scope
    val s = owned(spec)
    new IndexLeg(verdictSink,
      FoldStore.open(spark, indexDir, s.toStored(standing), PrefixParts,
        compactAfter = CompactAfter),
      s, owned)
  }

  /** Verdicts for the best-match judges (text, media): one row per
    * arriving item — `flagCol` says the item produced signature rows,
    * `is_dup`/`matched_id`/`scoreCol` the best standing match. The
    * signed frame is distinct-ed first, so an item's many signature
    * rows never explode verdicts.
    */
  private[streaming] def bestMatchVerdicts(idCol: String, keyCol: String,
      flagCol: String, scoreCol: String)(
      batch: DataFrame, signed: DataFrame, best: DataFrame): DataFrame = {
    val present = signed.select(col(idCol)).distinct()
      .withColumn("_present", lit(true))
    batch.select(col(idCol), col("ts"))
      .join(present, Seq(idCol), "left")
      .join(best, Seq(idCol), "left")
      .select(col(idCol).cast("string").as(keyCol), col(idCol), col("ts"),
        coalesce(col("_present"), lit(false)).as(flagCol),
        col("matched_id").isNotNull.as("is_dup"),
        col("matched_id"), col(scoreCol))
  }

  /** The best-match judges' fold: signed rows of items with no
    * standing match.
    */
  private[streaming] def unmatched(idCol: String)(signed: DataFrame,
      best: DataFrame): DataFrame =
    signed.join(best.select(col(idCol)), Seq(idCol), "left_anti")
}
