package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Pin

/** The streaming CURATION firehose, composed end-to-end — the
  * training-data sibling of [[Pipeline]]'s review topology: a document
  * stream flows through every admission stage the batch corpus pipeline
  * applies, as ONE wired topology instead of individually-spec'd pieces.
  *
  *   source        → document firehose (doc_id, text, ts, emb)
  *   gram gate     → [[StreamGate.rowGated]]: Gopher quality rules +
  *                   benchmark gram decontamination, per-row, STATELESS
  *   near-dup      → [[StreamNearDup.nearDups]] over gate-admitted docs
  *                   (band-keyed state, watermark-bounded)
  *   semantic gate → [[StreamSemGate.annotate]]: nearest-benchmark
  *                   cosine per arriving embedding, stateless
  *   warehouse     → keyed idempotent admit sink + reject sink with the
  *                   FIRST failing stage as the reason + dup-pair sink
  *
  * Two streaming queries over the same gated stream, exactly the
  * reference topology's shape (faust_app.py runs the gate chain and a
  * second consumer): the ADMISSION query routes every arriving doc to
  * the warehouse or the reject stream (gram gate + semantic gate, both
  * stateless — so admission is per-arrival, never waiting on a
  * watermark); the DUP query runs the stateful LSH detector over
  * gate-admitted docs and streams candidate pairs to their own sink
  * (duplicates are detected, not silently dropped — retro-removal is
  * the standing batch dedup's job, as in every production curation
  * stack). The gate stages are chained UPSTREAM of the stateful
  * operator, which is exactly why [[StreamGate.rowGated]] exists in
  * per-row form: a join- or agg-based gate there would trip Spark's
  * multi-stateful-operator restriction.
  *
  * Delivery: at-least-once per batch; the admit sink is keyed by doc_id
  * (idempotent upsert → effective exactly-once, same T1 contract as
  * [[Pipeline]]); reject/dup sinks are append-at-least-once event
  * streams. Checkpoint-restart of both queries is pinned by
  * `CurationPipelineSpec`.
  *
  * Scale shape (100 TB firehose): both gates are broadcast-context
  * per-row folds (zero state); near-dup state is bounded by the
  * watermark window and the band cap, never by stream history; the only
  * shuffle per micro-batch is the near-dup band grouping. Batch parity
  * of the admitted set is pinned against the batch operators
  * ([[StreamGate.gate]] ∩ not-[[graft.ops.EmbedSim.semAnnotate]]
  * -contaminated) across a multi-batch arrival.
  */
final class CurationPipeline(
    admitSink: BatchSink,
    rejectSink: BatchSink,
    dupSink: BatchSink,
    dedupDelay: String = "2 hours",
    minEst: Double = 0.5) {

  /** Start both queries over a (doc_id, text, ts, emb) stream; returns
    * (admission query, dup-detection query).
    */
  def start(docs: DataFrame, gate: StreamGate.RowGateCtx,
      sem: StreamSemGate.SemBenchIndex,
      checkpointDir: String): (StreamingQuery, StreamingQuery) = {
    val gated = StreamGate.rowGated(docs, gate)

    val admission = gated.writeStream
      .option("checkpointLocation", s"$checkpointDir/admit")
      .foreachBatch { (batch: Dataset[Row], id: Long) => Pin.scope {
        val b = Pin.cache(batch.toDF())
        if (b.count() > 0) {
          // the semantic stage: the same per-row fold the standalone
          // gate runs, joined back on the key — a plain batch join
          // inside the micro-batch, so no streaming state
          val semAnn = StreamSemGate.annotate(
            b.select(col("doc_id").as("vec_id"), col("emb")), sem)
            .select(col("vec_id").as("doc_id"), col("bench_id"),
              col("bench_cos"), col("contaminated"))
          val ann = b.join(semAnn, Seq("doc_id"))
          val admitted = ann
            .filter(col("admit") && !col("contaminated"))
          admitSink.write(admitted.select(
            col("doc_id").cast("string").as("doc_key"),
            col("doc_id"), col("text"), col("ts"),
            col("word_count"), col("mean_word_len"), col("alpha_frac"),
            col("bench_cos")), id)
          // reason = FIRST failing stage, in pipeline order
          val rejected = ann
            .filter(!(col("admit") && !col("contaminated")))
            .select(col("doc_id"), col("ts"),
              when(!col("keep"), concat(lit("gopher:"),
                  col("reject_reason")))
                .when(col("n_shared_grams") > 0, lit("benchmark_gram"))
                .otherwise(lit("benchmark_semantic"))
                .as("reject_stage"),
              col("n_shared_grams"), col("bench_cos"))
          rejectSink.write(rejected, id)
        }
      }}
      .start()

    val dups = StreamNearDup.nearDups(
        gated.filter(col("admit")).select("doc_id", "text", "ts"),
        dedupDelay, minEst = minEst)
      .writeStream
      .option("checkpointLocation", s"$checkpointDir/dups")
      .outputMode("append")
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        dupSink.write(b.toDF(), id)
      }
      .start()

    (admission, dups)
  }
}
