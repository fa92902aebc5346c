package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Pin
import graft.ops.EmbedSim

/** The embedding/semantic leg of the streaming curation firehose — the
  * streaming form of the batch incremental contract (q_embed_dups_incr /
  * q_semdedup_incr), completing the streaming/batch symmetry for the
  * last standing-index family (media got its leg in r10;
  * VERDICT r10 §missing-2): every arriving vector is assigned to the
  * FROZEN trained coarse centroids (one broadcast-argmax scan of the
  * batch — a daily increment must never silently retrain the
  * quantizer), judged against the STANDING assignment by the SAME
  * verdict core the batch tier runs
  * ([[graft.ops.EmbedSim.semVerdictsAgainst]] — so streaming and batch
  * keep/drop bits cannot drift), and each micro-batch's KEPT vectors
  * fold into the standing assignment, so batch N+1 sees batch N's
  * canonical vectors — exactly how a production semantic-dedup service
  * maintains its IVF corpus state.
  *
  * Verdict semantics per arriving vector (the SemDeDup decision form):
  *  - `keep = false` iff some same-cluster vector cleared the cosine
  *    threshold: any STANDING vector (standing wins regardless of id —
  *    the curated corpus is immutable history, the same standing-wins
  *    rule as the substring tier), or an earlier (smaller-id) vector of
  *    the same batch (the batch operator's min-id-wins greedy);
  *  - `matched_id`/`score` identify the best clearing match (max
  *    cosine, then lowest id) for lineage;
  *  - dropped vectors are reported, NOT silently swallowed, and never
  *    fold into the index.
  *
  * State shape: the standing assignment (vec_id, emb, norm,
  * centroid_id) lives in the [[IndexLeg]]'s durable store partitioned
  * by a hash prefix of `centroid_id` — which makes the per-batch
  * consult a file-granularity INVERTED-LIST read: a micro-batch
  * touching k centroids reads those centroids' list shards and nothing
  * else, the on-disk analog of an IVF probe. The batch body, replay
  * shield and fold guards are [[IndexLeg]]'s; this leg folds its KEPT
  * vectors, and its index holds one row per vector, so `indexSize`
  * counts rows (a same-id twin would show).
  */
object StreamEmbedDedup {

  /** Open the leg over a durable index at `indexDir`, seeding it from
    * `standingAssigned` (the batch tier's standing IVF assignment,
    * (vec_id, emb, norm, centroid_id)) only when the directory holds no
    * index yet — a restart adopts the durable state. The leg runs over
    * a streaming (vec_id, embedding, ts) frame.
    *
    * @param centroids frozen trained centroid frame (centroid_id, cemb,
    *                  cnorm) — small (C ≈ √n), pinned for the leg's
    *                  lifetime and broadcast into each batch's
    *                  assignment
    */
  def apply(verdictSink: BatchSink, centroids: DataFrame,
      standingAssigned: => DataFrame, indexDir: String,
      threshold: Double = EmbedSim.DupThreshold): IndexLeg =
    IndexLeg.open(centroids.sparkSession, verdictSink, standingAssigned,
      indexDir, {
      val frozen = Pin.cache(centroids) // the leg's scope: until close()
      IndexLeg.Spec(
        idCol = "vec_id",
        // assign to the frozen centroids once per batch
        sign = batch => EmbedSim.assignTo(
          batch.select(col("vec_id"),
              col("embedding").cast("array<double>").as("emb"))
            .withColumn("norm", sqrt(EmbedSim.dot(col("emb"), col("emb")))),
          frozen),
        toStored = _.withColumn("pk",
          FoldStore.pk(IndexLeg.PrefixParts, col("centroid_id"))),
        judge = (index, incr) =>
          EmbedSim.semVerdictsAgainst(index, incr, threshold),
        verdicts = (batch, _, verdicts) =>
          batch.select(col("vec_id"), col("ts"))
            .join(verdicts, Seq("vec_id"))
            .select(col("vec_id").cast("string").as("vec_key"),
              col("vec_id"), col("ts"), col("centroid_id"), col("keep"),
              col("matched_id"), col("score")),
        canonical = (incr, verdicts) => incr.join(
          verdicts.filter(col("keep")).select(col("vec_id")),
          Seq("vec_id"), "leftsemi"),
        rowPerItem = true)
    })
}
