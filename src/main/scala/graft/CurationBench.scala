package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.streaming.{CurationPipeline, ParquetSink, StreamGate,
  StreamSemGate, UpsertSink}

/** Curation-firehose throughput benchmark: drives the COMPOSED streaming
  * curation topology ([[graft.streaming.CurationPipeline]]: file replay →
  * per-row Gopher + benchmark-gram gate → stateful LSH near-dup →
  * semantic gate → keyed warehouse + reject/dup streams) and reports
  * sustained documents/second plus end-of-run state size — the evidence
  * that the only stateful stage (band buckets) is bounded by the
  * watermark window, not by stream history.
  *
  * Same harness discipline as [[StreamBench]]: file-based replay (paths
  * ship, not rows — per-batch cost stays flat no matter how much was
  * ingested), batch files staged up front and atomically renamed in,
  * tmpfs scratch when available, RocksDB + changelog checkpointing.
  *
  * Workload shape: ~95% unique Gopher-green docs (template + per-doc
  * content words), every 20th doc a near-copy of its predecessor (the
  * dup stream has real work), every 97th doc semantically parallel to a
  * benchmark vector, every 131st carrying a benchmark gram, every 11th
  * Gopher-short. Event time advances 0.1 s per doc so the watermark
  * moves and band state churns — the unbounded-stream shape.
  *
  * Usage: runMain graft.CurationBench [nDocs] [nBatches] [sink]. Emits
  * one JSON line (plus curation_bench_out.json). `sink` (or env
  * SPARK_GRAFT_CURATION_SINK) selects the warehouse leg: `map` (default,
  * the in-JVM test double) or `jdbc` — the REAL [[JdbcUpsertSink]]
  * against embedded Derby, exercising the transactional executor-side
  * two-step upsert at firehose volume (the r9 gap: the JDBC sink had
  * only ever seen 200k rows). JDBC mode adds a REPLAY leg after the
  * timed window: the final batch file is re-delivered under a new name
  * and the warehouse row count must not move — keyed idempotence under
  * at-least-once re-delivery, checked against the real database.
  */
object CurationBench {

  private[graft] val JdbcDdl =
    """CREATE TABLE curated_docs (
      |  doc_key VARCHAR(32) PRIMARY KEY,
      |  doc_id BIGINT,
      |  text VARCHAR(4096),
      |  ts TIMESTAMP,
      |  word_count INT,
      |  mean_word_len DOUBLE,
      |  alpha_frac DOUBLE,
      |  bench_cos DOUBLE)""".stripMargin

  private[graft] val BenchGram = "zyx benchmark holdout sentinel"

  private val tsFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss")
    .withZone(java.time.ZoneOffset.UTC)

  /** ~60-word doc text: CONTENT words (pseudo-random over a 100k vocab)
    * dominate, stopwords appear only often enough to pass the Gopher
    * stopword floor — so two random docs share almost no shingles and the
    * only near-dup pairs are the planted ones (a filler-heavy template
    * was measured to make EVERY doc pair: 5.4M pairs at 50k docs, the
    * classic boilerplate clique, which benchmarks the bucket cap instead
    * of the pipeline).
    */
  private[graft] def mkText(i: Long): String = {
    if (i % 11 == 3) return "far too short to pass the gopher gate"
    val near = i % 20 == 19 // near-copy of doc i-1, one word changed
    val base = if (near) i - 1 else i
    def c(s: Int, k: Int): String =
      if (near && s == 3 && k == 2) "altered"
      else {
        // splitmix-style bit mix: an AFFINE index (base*a + s*b + k*c)
        // aliases — docs whose hashes differ by one word-stride share
        // 8/9 of every sentence and near-dup spuriously (measured 27k
        // pairs at 50k docs vs the 2.5k planted)
        var z = base * 0x9E3779B97F4A7C15L + s * 0xBF58476D1CE4E5B9L +
          k * 0x94D049BB133111EBL
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        s"w${java.lang.Long.remainderUnsigned(z ^ (z >>> 31), 99991L)}"
      }
    val sb = new StringBuilder(512)
    var s = 0
    while (s < 6) {
      sb.append(s"the ${c(s, 0)} ${c(s, 1)} ${c(s, 2)} and ${c(s, 3)} " +
        s"${c(s, 4)} was ${c(s, 5)} in ${c(s, 6)} ${c(s, 7)} ${c(s, 8)} ")
      s += 1
    }
    if (i % 131 == 7) sb.append(BenchGram)
    sb.toString
  }

  private[graft] def mkEmb(i: Long): String =
    if (i % 97 == 13) "[3.0,0.0,0.0,0.0]" // parallel to the bench vector
    else s"[0.1,${1.0 + (i % 7) * 0.1},${(i % 5) * 0.3},${(i % 3) * 0.5}]"

  private[graft] def mkLine(i: Long): String = {
    val ts = tsFmt.format(
      java.time.Instant.ofEpochMilli(1704100000000L + i * 100L))
    s"""{"doc_id":$i,"text":"${mkText(i)}","ts":"$ts","emb":${mkEmb(i)}}"""
  }

  private[graft] def writeBatchFile(dir: Path, name: String,
      range: Range.Inclusive): Path = {
    val p = dir.resolve(name)
    val w = Files.newBufferedWriter(p)
    try range.foreach { i => w.write(mkLine(i.toLong)); w.write('\n') }
    finally w.close()
    p
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(1000000)
    val nBatches = args.drop(1).headOption.map(_.toInt).getOrElse(10)
    val spark = graft.streaming.Monitor.RocksDbScaleConf
      .foldLeft(Sessions.builder(Sessions.cpus)) {
        case (b, (k, v)) => b.config(k, v)
      }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val shm = Paths.get("/dev/shm")
    val base = if (Files.isWritable(shm))
      Files.createTempDirectory(shm, "graft-curbench")
    else Files.createTempDirectory("graft-curbench")
    val stage = Files.createDirectory(base.resolve("stage"))
    val watch = Files.createDirectory(base.resolve("in"))

    val batchSize = n / nBatches
    writeBatchFile(stage, "warmup.json", 0 to 999)
    val staged = (0 until nBatches).map { b =>
      writeBatchFile(stage, f"batch$b%05d.json",
        1000 + b * batchSize to 999 + (b + 1) * batchSize)
    }
    def release(p: Path): Unit =
      Files.move(p, watch.resolve(p.getFileName),
        StandardCopyOption.ATOMIC_MOVE)

    // static gate contexts: one benchmark doc holding the sentinel gram,
    // one benchmark vector on the contamination axis
    val benchmark = Seq((900000000L,
      s"a held out evaluation document containing the $BenchGram phrase"))
      .toDF("doc_id", "text")
    val semBench = Seq((900000000L, Seq(1.0, 0.0, 0.0, 0.0)))
      .toDF("bench_id", "bemb")
    val gate = StreamGate.rowGateCtx(benchmark, k = 3)
    val sem = StreamSemGate.benchIndex(semBench)

    val sinkMode = args.drop(2).headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_CURATION_SINK", "map"))
    val jdbcUrl = "jdbc:derby:memory:curbench;create=true"
    val (admitSink: graft.streaming.BatchSink, admittedCount: (() => Long)) =
      if (sinkMode == "jdbc") {
        val c = java.sql.DriverManager.getConnection(jdbcUrl)
        try c.createStatement().execute(JdbcDdl) finally c.close()
        val sink = new graft.streaming.JdbcUpsertSink(jdbcUrl,
          "curated_docs", "doc_key",
          Seq("word_count", "mean_word_len", "alpha_frac", "bench_cos"),
          batchSize = 500)
        (sink, () => {
          val cc = java.sql.DriverManager.getConnection(jdbcUrl)
          try {
            val rs = cc.createStatement()
              .executeQuery("SELECT COUNT(*) FROM curated_docs")
            rs.next(); rs.getLong(1)
          } finally cc.close()
        })
      } else {
        val sink = new UpsertSink("doc_key")
        (sink, () => sink.size.toLong)
      }
    val rejectDir = base.resolve("rej").toString
    val dupDir = base.resolve("dup").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("ts", TimestampType),
      StructField("emb", ArrayType(DoubleType))))
    val docs = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(watch.toString)
    // 30 min dedup window at 0.1 s/doc event time: ~18k docs in window ×
    // 8 bands of state, churning as the watermark advances
    val (qa, qd) = new CurationPipeline(admitSink,
      new ParquetSink(rejectDir, maxFiles = 8),
      new ParquetSink(dupDir, maxFiles = 8),
      dedupDelay = "30 minutes")
      .start(docs, gate, sem, base.resolve("ck").toString)

    val all = Seq(qa, qd)
    def drainAll(): Unit = all.foreach(_.processAllAvailable())

    release(stage.resolve("warmup.json"))
    drainAll()
    val t0 = System.nanoTime()
    val batchSec = staged.map { p =>
      val b0 = System.nanoTime()
      release(p)
      qa.processAllAvailable()
      (System.nanoTime() - b0) / 1e9
    }
    drainAll() // dup-query catch-up inside the timed window
    val sec = (System.nanoTime() - t0) / 1e9

    def stateRows(sq: org.apache.spark.sql.streaming.StreamingQuery): Long =
      Option(sq.lastProgress)
        .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L)
    val endState = all.map(stateRows)

    // JDBC idempotence replay: re-deliver the final batch's rows under a
    // fresh file name (the file source tracks paths, so a copy IS a
    // re-delivery of the same doc_ids) — the keyed upsert must leave the
    // warehouse row count unchanged
    val replay = if (sinkMode == "jdbc") {
      val before = admittedCount()
      writeBatchFile(stage, "replay.json",
        1000 + (nBatches - 1) * batchSize to 999 + nBatches * batchSize)
      release(stage.resolve("replay.json"))
      drainAll()
      val after = admittedCount()
      s""","replay_rows_before":$before,"replay_rows_after":$after,""" +
        s""""replay_idempotent":${before == after}"""
    } else ""
    all.foreach(_.stop())

    val total = nBatches * batchSize
    val rps = total / sec
    val sorted = batchSec.sorted
    val medianBatch = sorted(sorted.size / 2)
    val dupPairs =
      try spark.read.parquet(dupDir).count()
      catch { case _: org.apache.spark.sql.AnalysisException => 0L }
    val rejects =
      try spark.read.parquet(rejectDir).count()
      catch { case _: org.apache.spark.sql.AnalysisException => 0L }
    val line = s"""{"metric":"curation_throughput","value":$rps,""" +
      s""""unit":"docs/sec","docs":$total,"batches":$nBatches,""" +
      s""""seconds":$sec,"steady_state_rps":${batchSize / medianBatch},""" +
      s""""median_batch_sec":$medianBatch,""" +
      s""""admitted":${admittedCount()},"rejected":$rejects,""" +
      s""""dup_pairs":$dupPairs,"sink":"$sinkMode",""" +
      s""""state_rows":${endState.mkString("[", ",", "]")},""" +
      s""""batch_seconds":${batchSec.map(t => f"$t%.2f").mkString("[", ",", "]")}""" +
      replay + "}"
    Files.writeString(Paths.get("curation_bench_out.json"), line)
    println(line)
    spark.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
  }
}
