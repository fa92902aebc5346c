package graft.streaming

import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Streaming observability (SURVEY T8): the reference prints periodic
  * console stats (producer.py:176-185, faust_app.py:185-189) and has an
  * empty 60 s monitor timer. The Spark-native form is a
  * StreamingQueryListener over StreamingQueryProgress — rows/sec, batch
  * counts, state size — without touching the data path.
  */
final class Monitor extends StreamingQueryListener {
  val batches = new AtomicLong
  val rows = new AtomicLong
  val lastProgressJson = new AtomicReference[String]("")

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    batches.incrementAndGet()
    rows.addAndGet(e.progress.numInputRows)
    lastProgressJson.set(e.progress.json)
  }
}

object Monitor {
  /** Attach a fresh monitor to the session's stream manager. */
  def attach(spark: SparkSession): Monitor = {
    val m = new Monitor
    spark.streams.addListener(m)
    m
  }

  /** RocksDB state backend, matching the reference's
    * `store='rocksdb://'` (faust_app.py:25) — config-only in Spark.
    */
  val RocksDbConf: (String, String) =
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Full RocksDB scale tuning. `RocksDbConf` alone leaves snapshot
    * checkpointing on: every micro-batch commit uploads the ENTIRE state
    * store to the checkpoint, so batch time grows with TOTAL accumulated
    * state (measured: same-size 100k-row batches went 17s -> 58s as dedup
    * state doubled). Changelog checkpointing writes only the batch's DELTA
    * (snapshots happen async at maintenance intervals) — the only commit
    * shape that survives an unbounded stream. Mirrors the reference's
    * incremental RocksDB writes (Faust's store commits per-message, not
    * per-table-dump).
    *
    * Bounded memory is the other unbounded-native-growth axis: WITHOUT
    * it every state-store instance (one per shuffle partition PER
    * stateful operator — a 4-leg topology at 32 partitions runs 100+
    * instances in one JVM) allocates its own block cache and
    * memtables, and total native memory grows with state until the
    * container is killed (measured: the composed firehose's JVM was
    * OOM-killed at 104 GB anon RSS, ~2x its heap, at 5M docs of
    * accumulated dedup state). `boundedMemoryUsage` charges every
    * instance's cache AND write buffers to one shared LRUCache capped
    * at `maxMemoryUsageMB` — the per-executor discipline a
    * 1000-executor deployment needs anyway, since a YARN/k8s container
    * enforces exactly this bound from the outside.
    */
  val RocksDbScaleConf: Map[String, String] = Map(
    RocksDbConf,
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
      "true",
    "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage" -> "true",
    "spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB" -> "4096")
}
