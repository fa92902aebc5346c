package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.types._

import graft.ops.Clean
import graft.sources.Sources
import graft.streaming.{BatchSink, JdbcUpsertSink, ParquetSink, Pipeline, Streams}

/** `review_etl`: the reference topology in an open loop.
  *
  * `Sources.replayStream` (one file per trigger) → `Pipeline` (dedup
  * state → `Clean.annotate` → cleaned / issues / topic sinks) with the
  * cleaned rows upserted by `JdbcUpsertSink` into a fresh in-memory Derby
  * DB, and the `Streams.hourlyStats` agent consuming the topic as it
  * grows. One generator thread releases the staged files on a fixed
  * schedule: file k, which holds the reviews that arrive in the k-th
  * interval, is due at the end of that interval. A file's latency runs
  * from its due time to the commit of the micro-batch that consumed it,
  * read from the progress events.
  */
object ReviewEtl {

  /** One running copy of the topology, with its own scratch directories
    * and a fresh in-memory Derby DB. */
  final case class Topology(q: StreamingQuery, agent: StreamingQuery,
      url: String, watch: Path, issueDir: String,
      windows: java.util.Map[Long, Long])

  private def start(c: Ctx, dir: Path,
      sinkCalls: Map[String, ConcurrentLinkedQueue[(Long, Long)]]): Topology = {
    val spark = c.spark
    val watch = Files.createDirectories(dir.resolve("in"))
    val issueDir = dir.resolve("issues").toString
    val topicDir = Files.createDirectories(dir.resolve("topic")).toString
    val url = s"jdbc:derby:memory:graftbench${ProcessHandle.current.pid}" +
      s"${dir.getFileName};create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try conn.createStatement().execute(
      """CREATE TABLE cleaned_reviews (
        |  review_id VARCHAR(32) PRIMARY KEY, business_id VARCHAR(32),
        |  user_id VARCHAR(32), rating INT, review_date TIMESTAMP,
        |  word_count INT, language VARCHAR(16),
        |  data_quality_score DOUBLE)""".stripMargin)
    finally conn.close()
    val jdbc = new JdbcUpsertSink(url, "cleaned_reviews", "review_id",
      updateCols = Seq("data_quality_score"))
    val warehouse: BatchSink = new BatchSink {
      def write(df: DataFrame, id: Long): Unit = jdbc.write(df.select(
        col("review_id"), col("business_id"), col("user_id"),
        col("rating").cast("int").as("rating"), col("date").as("review_date"),
        col("word_count").cast("int").as("word_count"), col("language"),
        col("data_quality_score")), id)
    }
    def timed(name: String, s: BatchSink): BatchSink =
      if (c.traced) new TimedSink(s, sinkCalls(name)) else s
    val raw = Sources.asRawReviews(
      Sources.replayStream(spark, watch.toString), source = "bench")
    val q = new Pipeline(timed("cleaned", warehouse),
      timed("issues", new ParquetSink(issueDir, maxFiles = 4)),
      annotatedTopic = Some(timed("topic", new ParquetSink(topicDir, maxFiles = 4))))
      .start(raw, dir.resolve("ck").toString)

    val topicSchema = StructType(Seq(
      StructField("review_id", StringType), StructField("user_id", StringType),
      StructField("date", TimestampType), StructField("accepted", BooleanType),
      StructField("data_quality_score", DoubleType)))
    val windows = new java.util.concurrent.ConcurrentHashMap[Long, Long]
    val agent = Streams.hourlyStats(
        spark.readStream.schema(topicSchema).parquet(topicDir))
      .writeStream.outputMode("update")
      .option("checkpointLocation", dir.resolve("ck_stats").toString)
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.select(col("window_start"), col("total_reviews")).collect()
          .foreach(r => windows.put(r.getTimestamp(0).getTime, r.getLong(1)))
      }.start()
    Topology(q, agent, url, watch, issueDir, windows)
  }

  def run(c: Ctx): Outcome = {
    val out = new Outcome
    val spark = c.spark
    val t = c.tracer
    val ledger = new ObjectMapper().readTree(c.data.resolve("ledger.json").toFile)
    val nFiles = ledger.get("files").asInt

    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]
    spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress)
    })
    val sinkCalls = Seq("cleaned", "issues", "topic")
      .map(_ -> new ConcurrentLinkedQueue[(Long, Long)]).toMap

    // ---- set-up: table, sinks, both queries, warmup file drained. It runs
    // SetupReps times on fresh directories and DBs, setup_s takes the
    // median, and the last copy is the one measured.
    var topo: Topology = null
    val starts = (0 until Main.SetupReps).map { i =>
      if (topo != null) { topo.q.stop(); topo.agent.stop() }
      val s0 = System.nanoTime()
      topo = t.span("setup.pipeline") {
        val tp = start(c, c.work.resolve(s"rep$i"), sinkCalls)
        Files.copy(c.data.resolve("warmup.json"), tp.watch.resolve("warmup.json"))
        tp.q.processAllAvailable()
        tp
      }
      Stats.seconds(s0)
    }
    out.setupS = Stats.median(starts)
    out.layers("setup.pipeline_s") = out.setupS
    out.details("setup_pipeline_s") = starts
    val Topology(q, agent, url, watch, issueDir, windows) = topo
    // the stream thread sets lastProgress before the batch's listener
    // event is posted, so this is the set-up's last batch even when its
    // event is still in flight
    val setupBatch = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
    def release(name: String): Unit =
      Files.move(c.data.resolve(name), watch.resolve(name),
        StandardCopyOption.ATOMIC_MOVE)

    // ---- ramp: the first `preroll` files, each released once the one
    // before is committed, bring the JIT and the state store towards their
    // operating point (batch time falls by about a third over the first
    // ten batches after set-up). They are not measured.
    val preroll = ledger.get("preroll").asInt
    val released = new Array[Long](nFiles)
    for (k <- 0 until preroll) {
      release(f"f$k%05d.json")
      released(k) = System.currentTimeMillis()
      q.processAllAvailable()
    }
    // the agent lags the closed loop; left behind, it would take CPU from
    // the first measured batches
    agent.processAllAvailable()

    // ---- open loop: one generator thread. File k carries the reviews
    // that arrive in the interval after file k-1's and is due at the end
    // of its interval, counted from `first`.
    val intervalMs = ledger.get("interval_s").asDouble * 1000.0
    val first = System.currentTimeMillis() + 100
    def dueMs(k: Int): Double = first + (k - preroll + 1) * intervalMs
    c.counters.current = "etl"
    val gen = new Thread(() => {
      for (k <- preroll until nFiles) {
        val wait = math.round(dueMs(k)) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        release(f"f$k%05d.json")
        released(k) = System.currentTimeMillis()
      }
    }, "graftbench-generator")
    gen.start()
    gen.join()
    q.processAllAvailable()
    agent.processAllAvailable()
    c.counters.current = null
    out.metrics("retained_heap_mb") = Stats.retainedHeapMb
    q.stop()
    agent.stop()

    // ---- per-file latency, due time to batch commit (progress events)
    def commitMs(p: StreamingQueryProgress): Long =
      java.time.Instant.parse(p.timestamp).toEpochMilli +
        p.durationMs.get("triggerExecution")
    def batchS(p: StreamingQueryProgress): Double =
      p.durationMs.get("triggerExecution") / 1000.0
    val data = progress.asScala.toSeq
      .filter(p => p.id == q.id && p.batchId > setupBatch && p.numInputRows > 0)
      .sortBy(_.batchId)
    out.check("one micro-batch per file", data.size == nFiles,
      s"${data.size} data batches for $nFiles files")
    val n = math.min(data.size, nFiles)
    val measured = preroll until n
    val lat = measured.map(k => (commitMs(data(k)) - dueMs(k)) / 1000.0)
    val records = measured.map(data(_).numInputRows).sum
    out.ops = measured.size
    if (measured.nonEmpty) {
      out.metrics("latency_s") = Stats.median(lat)
      // service rate: committed reviews per second the query spent in its
      // batches, so it tracks the program, not the offered rate
      out.metrics("throughput_per_s") =
        records / measured.map(k => batchS(data(k))).sum
      out.metrics("slowdown_ratio") = Stats.growth(lat)
    }
    val arrivals = ledger.get("arrivals_s")
    val reviewLat = for (k <- measured; a <- arrivals.get(k).asScala)
      yield (commitMs(data(k)) - first -
        (a.asDouble * 1000.0 - preroll * intervalMs)) / 1000.0
    out.details("files") = nFiles
    out.details("records") = records
    out.details("offered_per_s") =
      measured.map(k => ledger.get("sizes").get(k).asDouble).sum /
        (measured.size * intervalMs / 1000.0)
    val batches = measured.map(k => batchS(data(k)))
    val backlogMax = backlog(data, released, measured)
    out.details("file_latency_s") = lat
    out.details("ramp_batch_s") = (0 until math.min(preroll, n)).map(k => batchS(data(k)))
    out.details("batch_s") = batches
    out.details("interval_over_batch_p50") = intervalMs / 1000.0 / Stats.median(batches)
    out.details("backlog_files_max") = backlogMax
    // includes the wait for the file to close, which the program cannot
    // shorten; kept for comparison with the reference's per-message view
    out.details("review_latency_p50_s") = Stats.median(reviewLat)

    checkOutputs(c, out, ledger, url, issueDir, windows)

    if (c.traced) {
      def dur(p: StreamingQueryProgress, k: String): Double =
        Option(p.durationMs.get(k)).map(_.toDouble / 1000.0).getOrElse(0.0)
      val win = measured.map(data(_))
      def meanOf(f: StreamingQueryProgress => Double) = Stats.mean(win.map(f))
      out.layers("source.latest_offset_s") = meanOf(dur(_, "latestOffset"))
      out.layers("source.get_batch_s") = meanOf(dur(_, "getBatch"))
      out.layers("pipeline.add_batch_s") = meanOf(dur(_, "addBatch"))
      out.layers("checkpoint.commit_s") =
        meanOf(p => dur(p, "walCommit") + dur(p, "commitOffsets"))
      win.foreach { p =>
        val s = java.time.Instant.parse(p.timestamp).toEpochMilli
        t.add("etl.batch", s, commitMs(p))
      }
      for ((name, calls) <- sinkCalls) {
        val xs = calls.asScala.toSeq.takeRight(win.size)
        xs.foreach { case (a, b) => t.add(s"sink.$name", a, b) }
        out.layers(s"sink.${name}_s") = Stats.mean(xs.map(x => (x._2 - x._1) / 1000.0))
      }
      val ops = win.flatMap(_.stateOperators.headOption)
      ops.lastOption.foreach { s =>
        out.layers("state.rows") = s.numRowsTotal.toDouble
        out.layers("state.mb") = s.memoryUsedBytes / 1048576.0
      }
      out.layers("state.commit_s") = Stats.mean(ops.map(_.commitTimeMs / 1000.0))
      out.layers("state.dropped_by_watermark") =
        ops.map(_.numRowsDroppedByWatermark).sum.toDouble
      out.layers("etl.backlog_files") = backlogMax
      val agentBatches = progress.asScala.toSeq
        .filter(p => p.id == agent.id && p.numInputRows > 0 &&
          java.time.Instant.parse(p.timestamp).toEpochMilli >= first)
      out.layers("agent.stats_batch_s") =
        Stats.mean(agentBatches.map(dur(_, "triggerExecution")))
      out.layers("gen.lag_s") =
        (preroll until nFiles).map(k => (released(k) - dueMs(k)) / 1000.0).max
      out.layers("clean.annotate_rows_per_s") = annotateRate(c, watch)
      out.layers ++= c.counters.perOp(Seq("etl"), win.size)
    }
    out
  }

  /** Most files released but not yet taken when a measured batch started
    * (0 when every file is taken before the next one is due). */
  private def backlog(data: Seq[StreamingQueryProgress], released: Array[Long],
      measured: Range): Double =
    measured.map { k =>
      val start = java.time.Instant.parse(data(k).timestamp).toEpochMilli
      math.max(0, released.count(r => r > 0 && r <= start) - k - 1)
    }.max.toDouble

  /** `Clean.annotate` forced on a static copy of one staged file. */
  private def annotateRate(c: Ctx, watch: Path): Double = {
    val raw = Sources.asRawReviews(
      Sources.jsonlReviews(c.spark, watch.resolve("f00000.json").toString))
      .persist()
    val rows = raw.count()
    val secs = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      c.tracer.span("clean.annotate")(Clean.annotate(raw).queryExecution.toRdd.count())
      Stats.seconds(t0)
    }
    raw.unpersist()
    rows / Stats.median(secs)
  }

  /** Warehouse rows, issues by type and the agent's totals against the
    * generator's ledger. */
  private def checkOutputs(c: Ctx, out: Outcome,
      ledger: com.fasterxml.jackson.databind.JsonNode, url: String,
      issueDir: String, windows: java.util.Map[Long, Long]): Unit = {
    val conn = java.sql.DriverManager.getConnection(url)
    val (rows, ratingSum) = try {
      val rs = conn.createStatement().executeQuery(
        "SELECT count(*), sum(CAST(rating AS BIGINT)) FROM cleaned_reviews")
      rs.next()
      (rs.getLong(1), rs.getLong(2))
    } finally conn.close()
    val wantRows = ledger.get("clean").asLong
    out.check("upserted rows", rows == wantRows, s"$rows, planted $wantRows")
    val wantSum = ledger.get("rating_sum_clean").asLong
    out.check("upserted rating sum", ratingSum == wantSum,
      s"$ratingSum, planted $wantSum")

    val got = c.spark.read.parquet(issueDir).groupBy("issue_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = ledger.get("issues").properties().asScala
      .map(e => e.getKey -> e.getValue.asLong).toMap
    for (k <- (got.keySet ++ want.keySet).toSeq.sorted)
      out.check(s"issues $k", got.getOrElse(k, 0L) == want.getOrElse(k, 0L),
        s"${got.getOrElse(k, 0L)}, planted ${want.getOrElse(k, 0L)}")
    out.details("issues") = got

    val total = windows.values.asScala.map(_.longValue).sum
    val fresh = ledger.get("fresh").asLong
    out.check("agent totals", total == fresh, s"$total reviews, planted $fresh")
  }
}
