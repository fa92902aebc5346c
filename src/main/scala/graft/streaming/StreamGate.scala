package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.Pin
import graft.ops.{TextAnalysis, TextDedup}

/** Streaming ingest gate: benchmark decontamination + Gopher quality
  * rules applied to a document firehose ON ARRIVAL, before anything is
  * admitted to the corpus — the streaming analogue of the reference's
  * quality gate on a review stream (`/root/reference/streaming/
  * faust_app.py:95-170` validates/routes every record as it arrives; here
  * the per-record checks are corpus-curation ones). Both checks are
  * STATELESS scans: the Gopher rules are per-row column expressions, and
  * decontamination is per-doc once the (static, small) benchmark gram
  * frame is broadcast — so the gate carries NO streaming state, no
  * watermark, and survives any micro-batch slicing with verdicts
  * identical to one batch pass, which is what the parity spec pins.
  *
  * Scale shape (100 TB firehose): per micro-batch the corpus side is one
  * scan of the arriving rows; the benchmark gram set is computed ONCE,
  * cached, and broadcast into every batch's hash join (Spark re-plans
  * the stream-side per micro-batch, so the cached static frame is the
  * idiom for "don't re-derive the dimension every trigger"). Nothing
  * accumulates: state size is zero regardless of stream history.
  */
object StreamGate {

  /** Gopher-style quality rules on a live stream — EXACTLY the batch
    * expressions ([[TextAnalysis.gopherColumns]] is the shared body; the
    * batch entry adds only the oracle-determinism sort). Legal in append
    * mode with no watermark: one codegen'd projection, no state.
    */
  def gopherStream(docs: DataFrame): DataFrame =
    TextAnalysis.gopherColumns(docs)

  /** A reusable decontamination context: the benchmark's distinct
    * gram-HASH frame (h56 longs — grams travel as hashes through the
    * whole decontaminate family), derived once and cached, so every
    * micro-batch's broadcast hash join builds from the same
    * materialized rows instead of re-shingling the benchmark per
    * trigger.
    */
  final class BenchmarkGrams private[StreamGate] (
      private[StreamGate] val grams: DataFrame,
      private[StreamGate] val ids: DataFrame,
      private[StreamGate] val k: Int,
      owned: Pin.Scope) {
    def unpersist(): Unit = owned.close()
  }

  /** Build (and cache) the benchmark gram set for [[decontaminateStream]].
    * `benchmark` must be a STATIC frame — eval suites are files, not
    * streams; the gate's exactly-one-derivation contract hangs on that.
    */
  def benchmarkGrams(benchmark: DataFrame,
      k: Int = TextDedup.ContamGram): BenchmarkGrams = {
    require(!benchmark.isStreaming,
      "the benchmark side of a decontamination gate must be static")
    val owned = new Pin.Scope
    val grams = owned(Pin.cache(TextDedup.benchGramSet(benchmark, k)))
    val ids = owned(Pin.cache(benchmark.select(col("doc_id").as("_bid"))))
    grams.count(); ids.count() // materialize once, before the first trigger
    new BenchmarkGrams(grams, ids, k, owned)
  }

  /** The production gate: one streaming sink that, per micro-batch, runs
    * the EXACT batch operators — [[TextDedup.decontaminate]] (broadcast
    * benchmark gram join, per-doc shared-gram counts) and
    * [[TextAnalysis.gopherColumns]] — over the arriving rows and hands
    * the caller one annotated frame per batch: every arriving doc_id with
    * its `n_shared_grams` (0 = clean) and its Gopher verdict columns.
    *
    * Batch parity is STRUCTURAL, not re-implemented: decontaminate and
    * the Gopher rules are per-doc given the static benchmark, every doc
    * lives in exactly one micro-batch, so the concatenation of per-batch
    * outputs equals one batch pass over the union — the parity spec
    * (`StreamGateSpec`) checks value identity across a 3-batch arrival
    * against the single-pass truth.
    */
  def gateSink(docs: DataFrame, bg: BenchmarkGrams)(
      handle: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    docs.writeStream.outputMode("append").foreachBatch {
      (batch: Dataset[Row], id: Long) =>
        val annotated = gateBatch(batch.toDF(), bg)
        handle(annotated, id)
    }

  /** One-shot batch form of the gate (registry / oracle entry): derives
    * the benchmark gram frame inline — no caching, since a single pass
    * reads it exactly once — and annotates every doc with its Gopher
    * verdict, shared-gram count, and the combined admit bit. Value-equal
    * to the streaming gate's per-batch union by the parity argument on
    * [[gateSink]].
    */
  def gate(docs: DataFrame, benchmark: DataFrame,
      k: Int = TextDedup.ContamGram): DataFrame =
    gateBatch(docs, new BenchmarkGrams(TextDedup.benchGramSet(benchmark, k),
      benchmark.select(col("doc_id").as("_bid")), k, new Pin.Scope))

  /** Fully PER-ROW gate context: the benchmark's gram-hash set and doc-id
    * set as broadcast sorted long arrays — what [[rowGated]] needs to
    * compute the gate verdict with zero joins and zero aggregations.
    */
  final class RowGateCtx private[StreamGate] (
      private[StreamGate] val grams: org.apache.spark.broadcast.Broadcast[Array[Long]],
      private[StreamGate] val ids: org.apache.spark.broadcast.Broadcast[Array[Long]],
      private[StreamGate] val k: Int) extends Serializable

  /** Build the per-row gate context: benchmark grams hashed h56 and
    * collected ONCE (the same broadcast-sized eval-suite contract as
    * [[benchmarkGrams]] / [[StreamSemGate.benchIndex]]), sorted for
    * binary-search membership.
    */
  def rowGateCtx(benchmark: DataFrame,
      k: Int = TextDedup.ContamGram): RowGateCtx = {
    require(!benchmark.isStreaming,
      "the benchmark side of a decontamination gate must be static")
    val sc = benchmark.sparkSession.sparkContext
    val grams = TextDedup.benchGramSet(benchmark, k)
      .collect().map(_.getLong(0)).sorted
    val ids = benchmark.select(col("doc_id"))
      .distinct().collect().map(_.getLong(0)).sorted
    new RowGateCtx(sc.broadcast(grams), sc.broadcast(ids), k)
  }

  /** The CHAINABLE gate: every [[gateBatch]] verdict column computed as
    * pure per-row expressions APPENDED to the stream — no join, no
    * aggregation, no state — so the gate can legally sit UPSTREAM of a
    * stateful streaming operator (the near-dup stage of the curation
    * pipeline; a groupBy there would demand its own watermark state and
    * trip Spark's multi-stateful restriction).
    *
    * Value parity with [[gateBatch]] is exact BY CONSTRUCTION: the
    * Gopher columns are literally the same expressions
    * ([[TextAnalysis.gopherAnnotate]] is gopherColumns' body), and
    * `n_shared_grams` counts the SAME first-occurrence-distinct
    * ShingleHashes values against the SAME benchmark hash set the batch
    * join is keyed on (the whole family travels h56 hashes since r8) —
    * CurationPipelineSpec pins column-for-column equality on real data;
    * benchmark member docs count 0 exactly like the batch anti-join.
    */
  def rowGated(docs: DataFrame, ctx: RowGateCtx): DataFrame = {
    import graft.functions.{LongSetCount, ShingleHashes}
    val inBench =
      LongSetCount(array(col("doc_id")), ctx.ids) > 0
    TextAnalysis.classifierAnnotate(TextAnalysis.gopherAnnotate(docs))
      .withColumn("n_shared_grams", when(inBench, lit(0L)).otherwise(
        LongSetCount(
          ShingleHashes(lower(col("text")), ctx.k, distinct = true),
          ctx.grams)))
      .withColumn("admit", col("keep") && col("n_shared_grams") === 0)
      .withColumn("admit_clf", col("admit") && col("clf_keep"))
  }

  /** The per-batch body of [[gateSink]] — also the batch-mode gate.
    * `admit` is the gram + Gopher verdict (the gate's original
    * contract); `clf_keep`/`clf_mean_weight` are the fastText-style
    * linear classifier ([[TextAnalysis.classifierAnnotate]], stateless
    * like the rest) and `admit_clf` folds it in — the column a
    * production gate thresholds on when the classifier is deployed.
    */
  def gateBatch(batch: DataFrame, bg: BenchmarkGrams): DataFrame = {
    val contam = TextDedup.decontaminateAgainstGrams(
      batch, bg.grams, bg.ids, bg.k)
    TextAnalysis.classifierAnnotate(
        TextAnalysis.gopherAnnotate(batch.select("doc_id", "text")))
      .drop("text")
      .join(contam, Seq("doc_id"), "left")
      .withColumn("n_shared_grams",
        coalesce(col("n_shared_grams"), lit(0L)))
      .withColumn("admit", col("keep") && col("n_shared_grams") === 0)
      .withColumn("admit_clf", col("admit") && col("clf_keep"))
  }
}
