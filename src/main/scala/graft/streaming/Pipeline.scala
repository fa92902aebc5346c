package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.Clean

/** The reference's complete topology, wired end-to-end (SURVEY §3):
  *
  *   E1 producer:   JSONL replay -> RawYelpReview stream
  *   E2 processor:  dedup (tagged, 2h TTL watermark state) ->
  *                  quality annotate -> fork: cleaned / quality_issues
  *   E3 sink:       micro-batch idempotent keyed upsert ("warehouse")
  *   stats agent:   event-time hourly aggregation (update mode)
  *
  * One streaming query does E2+E3 through foreachBatch (single pass over
  * each micro-batch, two sinks — the reference's one-consume-two-produces);
  * a second query maintains the stats table, decoupled exactly like the
  * reference's second Faust agent consuming `cleaned_reviews`.
  *
  * Both produce paths are [[BatchSink]]s, so the same topology runs against
  * the in-memory test double ([[UpsertSink]]), the real warehouse
  * ([[JdbcUpsertSink]]) and a distributed issue stream ([[ParquetSink]]) —
  * nothing is collected to the driver anywhere in the streaming path.
  *
  * Dedup uses [[Streams.dedupTagged]] (duplicates marked, not dropped), so
  * every dedup-dropped record emits a `duplicate` issue into the SAME issue
  * sink as the quality issues — the reference's per-duplicate emission
  * (faust_app.py:113-124).
  */
final class Pipeline(
    cleanedSink: BatchSink,
    issueSink: BatchSink,
    dedupDelay: String = "2 hours",
    annotatedTopic: Option[BatchSink] = None) {

  /** Start E2+E3 over a raw-review stream; returns the streaming query. */
  def start(raw: DataFrame, checkpoint: String): StreamingQuery = {
    val tagged = Streams.dedupTagged(raw, dedupDelay)
    tagged.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // persist the NARROW tagged batch (10 cols + flag) so the stateful
        // dedup op runs exactly once; the wide annotate output is persisted
        // below for the cleaned/issues/topic branches. (Measured: this
        // beats caching only the wide annotated frame — building the
        // columnar cache for struct/array-heavy rows costs more than the
        // extra codegen'd annotate pass it saves.)
        batch.persist()
        try {
          // count() is the action that materializes the cache — one full
          // pass through the stateful dedup op, so its state updates and
          // commits happen exactly once regardless of what follows. On the
          // watermark-advance timeout batches (0 rows, every other trigger)
          // that single cheap job replaces the whole annotate/route/sink
          // fan-out: empty-batch cost drops from ~1 s of sink jobs
          // (parquet commit, upsert shuffle, JDBC connection) to one no-op
          // scan, ~35% of steady-state wall time at 20k-row batches.
          if (batch.count() > 0) {
            val fresh = batch.filter(!col("_dup")).drop("_dup")
            val dupIssues = Pipeline.taggedDuplicateIssues(batch)
            val ann = Clean.annotate(fresh)
            ann.persist()
            try {
              // (no eager materialization: BlockManager's per-partition
              // cache locks make the concurrent jobs below compute each
              // partition exactly once — an up-front count() is a whole
              // extra pass, measured slower)
              // The three produce paths are independent jobs over the same
              // persisted frame and distinct targets (keyed store / issue
              // dir / topic dir) — submit them CONCURRENTLY so the batch
              // pays max(sink), not sum(sink). Spark job submission is
              // thread-safe; failures surface via Await and fail the batch
              // (at-least-once replay, sinks keyed-idempotent or declared
              // append-at-least-once).
              import scala.concurrent.{Await, Future}
              import scala.concurrent.duration.Duration
              import Pipeline.sinkEc
              val writes = Seq(
                Future(cleanedSink.write(Clean.cleaned(ann), id))(sinkEc),
                Future(issueSink.write(
                  Clean.issues(ann).unionByName(dupIssues), id))(sinkEc)) ++
                // the narrow annotated projection is the "topic" — the
                // reference's produce to cleaned_reviews that its second
                // (stats) agent consumes (faust_app.py:156-189).
                // Downstream stateful queries stream from THIS, not raw:
                // they must not re-parse + re-annotate every record.
                annotatedTopic.map(t => Future(
                  t.write(ann.select(Pipeline.TopicCols.map(col): _*), id))(
                  sinkEc))
              writes.foreach(Await.result(_, Duration.Inf))
            } finally ann.unpersist()
          }
        } finally batch.unpersist()
      }
      .start()
  }
}

object Pipeline {
  /** Fixed pool for concurrent sink submission inside one micro-batch:
    * bounded at 3 (cleaned/issues/topic), daemon threads so it never pins
    * the JVM. Shared across Pipeline instances — batches are serial per
    * query, and cross-query sharing just interleaves job submission.
    */
  private lazy val sinkEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(3,
        r => { val t = new Thread(r, "graft-sink"); t.setDaemon(true); t }))

  /** Columns published on the annotated topic — the key plus exactly what
    * the downstream stats/session agents consume (event time, accept flag,
    * score, session key). Narrow on purpose: the topic is read by every
    * downstream stateful query, so its width is a per-record tax.
    */
  val TopicCols: Seq[String] =
    Seq("review_id", "user_id", "date", "accepted", "data_quality_score")

  /** `duplicate` issues for the rows [[Streams.dedupTagged]] marked
    * (faust_app.py:115-124), same schema as [[graft.ops.Clean.issues]] so
    * the two fan into one sink.
    */
  def taggedDuplicateIssues(tagged: DataFrame): DataFrame =
    tagged.filter(col("_dup")).select(col("review_id"),
      lit("duplicate").as("issue_type"),
      lit("review_id").as("field_name"),
      concat(col("review_id"), lit(":"), col("date").cast("string"))
        .as("og_value"),
      lit(null).cast("string").as("expected_range"),
      lit(graft.rules.Rules.SevDuplicate).as("severity"))
}
