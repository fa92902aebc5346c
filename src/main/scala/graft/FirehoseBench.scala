package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.{EmbedSim, ImageDedup}
import graft.streaming.{CurationPipeline, JdbcUpsertSink, ParquetSink,
  StreamEmbedDedup, StreamGate, StreamMediaDedup, StreamSemGate,
  StreamTextDedup}

/** The COMPOSED multimodal firehose: every streaming curation tier live
  * in ONE topology against one checkpoint root and one warehouse —
  * text gate → stateful LSH near-dup → semantic gate → warehouse
  * ([[graft.streaming.CurationPipeline]]), PLUS the cross-modal media
  * dedup leg ([[graft.streaming.StreamMediaDedup.image]]) and the
  * embedding/semantic dedup leg ([[graft.streaming.StreamEmbedDedup]])
  * and the standing-index text leg ([[graft.streaming.StreamTextDedup]],
  * consuming the same doc firehose as the curation pipeline) — three
  * [[graft.streaming.IndexLeg]]s; where the r10 benches drove each tier
  * separately ([[CurationBench]], [[IngestBench]]), this
  * is the production shape: one Spark session, all legs contending for
  * the same cores, all verdict/warehouse writes keyed-idempotent into
  * the SAME embedded Derby database (tables curated_docs /
  * curated_media / curated_vectors), and one end-to-end replay leg
  * after the timed window: the final doc, media, AND vector batches are
  * re-delivered and every warehouse row count must hold still —
  * at-least-once delivery + keyed upsert = effective exactly-once,
  * asserted across every tier at once.
  *
  * Per timed step, one batch of EACH modality is released and all
  * queries drained, so `batch_seconds` measures the composed topology's
  * steady-state cost; the standing indexes (perceptual fingerprints,
  * IVF assignment) live in durable [[graft.streaming.FoldStore]]s under
  * the same root, growing as each batch's canonical assets fold in.
  *
  * Usage: runMain graft.FirehoseBench [nDocs] [nBatches] [nMedia]
  * [nVectors]. Emits one JSON line (plus firehose_bench_out.json).
  */
object FirehoseBench {

  private val MediaDdl =
    """CREATE TABLE curated_media (
      |  media_key VARCHAR(32) PRIMARY KEY,
      |  media_id BIGINT,
      |  ts TIMESTAMP,
      |  decoded BOOLEAN,
      |  is_dup BOOLEAN,
      |  matched_id BIGINT,
      |  score DOUBLE)""".stripMargin

  private val TextDdl =
    """CREATE TABLE curated_text (
      |  doc_key VARCHAR(32) PRIMARY KEY,
      |  doc_id BIGINT,
      |  ts TIMESTAMP,
      |  has_sig BOOLEAN,
      |  is_dup BOOLEAN,
      |  matched_id BIGINT,
      |  jaccard DOUBLE)""".stripMargin

  private val VectorDdl =
    """CREATE TABLE curated_vectors (
      |  vec_key VARCHAR(32) PRIMARY KEY,
      |  vec_id BIGINT,
      |  ts TIMESTAMP,
      |  centroid_id BIGINT,
      |  keep BOOLEAN,
      |  matched_id BIGINT,
      |  score DOUBLE)""".stripMargin

  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toInt).getOrElse(1000000)
    val nBatches = args.drop(1).headOption.map(_.toInt).getOrElse(10)
    val nMedia = args.drop(2).headOption.map(_.toInt).getOrElse(100000)
    val nVec = args.drop(3).headOption.map(_.toInt).getOrElse(100000)
    val spark = graft.streaming.Monitor.RocksDbScaleConf
      .foldLeft(Sessions.builder(Sessions.cpus)) {
        case (b, (k, v)) => b.config(k, v)
      }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val shm = Paths.get("/dev/shm")
    val base = if (Files.isWritable(shm))
      Files.createTempDirectory(shm, "graft-firehose")
    else Files.createTempDirectory("graft-firehose")
    val stage = Files.createDirectory(base.resolve("stage"))
    val watchDocs = Files.createDirectory(base.resolve("in-docs"))
    val watchMedia = Files.createDirectory(base.resolve("in-media"))
    val watchVec = Files.createDirectory(base.resolve("in-vec"))

    // ---- staged batches, all modalities, pre-timer -------------------
    val docBatch = nDocs / nBatches
    CurationBench.writeBatchFile(stage, "docs-warmup.json", 0 to 999)
    val docFiles = (0 until nBatches).map { b =>
      CurationBench.writeBatchFile(stage, f"docs$b%05d.json",
        1000 + b * docBatch to 999 + (b + 1) * docBatch)
    }
    val mediaBatch = nMedia / nBatches
    val mediaBase = ImageDedup.NewMediaBase
    def writeMediaBatch(name: String, lo: Long, hi: Long): Path = {
      val dir = stage.resolve(name)
      spark.range(lo, hi, 1, 8)
        .map { i => (mediaBase + i, IngestBench.encodeFor(i),
          new java.sql.Timestamp(1704100000000L + i * 100L)) }
        .toDF("media_id", "payload", "ts")
        .write.parquet(dir.toString)
      dir
    }
    val mediaWarmup =
      writeMediaBatch("media-warmup", nMedia + 1000000L, nMedia + 1001000L)
    val mediaFiles = (0 until nBatches).map { b =>
      writeMediaBatch(f"media$b%05d",
        b.toLong * mediaBatch, (b + 1).toLong * mediaBatch)
    }
    val vecBatch = nVec / nBatches
    val vecBase = 10000000L
    val nStanding = IngestBench.StandingVectors
    def writeVecBatch(name: String, lo: Long, hi: Long): Path = {
      val dir = stage.resolve(name)
      spark.range(lo, hi, 1, 8)
        .map { i => (vecBase + i,
          IngestBench.arrivalFor(i, nStanding).map(_.toFloat),
          new java.sql.Timestamp(1704100000000L + i * 100L)) }
        .toDF("vec_id", "embedding", "ts")
        .write.parquet(dir.toString)
      dir
    }
    val vecWarmup =
      writeVecBatch("vec-warmup", nVec + 1000000L, nVec + 1001000L)
    val vecFiles = (0 until nBatches).map { b =>
      writeVecBatch(f"vec$b%05d",
        b.toLong * vecBatch, (b + 1).toLong * vecBatch)
    }
    def release(p: Path, watch: Path): Unit =
      if (Files.isDirectory(p)) {
        val s = Files.list(p)
        try s.iterator().forEachRemaining { f =>
          if (f.getFileName.toString.endsWith(".parquet"))
            Files.move(f, watch.resolve(
              p.getFileName.toString + "-" + f.getFileName),
              StandardCopyOption.ATOMIC_MOVE)
        } finally s.close()
      } else Files.move(p, watch.resolve(p.getFileName),
        StandardCopyOption.ATOMIC_MOVE)

    // ---- the one warehouse: three keyed tables in one Derby ----------
    val jdbcUrl = "jdbc:derby:memory:firehose;create=true"
    val c = java.sql.DriverManager.getConnection(jdbcUrl)
    try {
      val st = c.createStatement()
      st.execute(CurationBench.JdbcDdl)
      st.execute(MediaDdl)
      st.execute(VectorDdl)
      st.execute(TextDdl)
    } finally c.close()
    def countOf(table: String): Long = {
      val cc = java.sql.DriverManager.getConnection(jdbcUrl)
      try {
        val rs = cc.createStatement()
          .executeQuery(s"SELECT COUNT(*) FROM $table")
        rs.next(); rs.getLong(1)
      } finally cc.close()
    }
    // content signature, not just a count: the replay-idempotence claim
    // is that every VERDICT BIT holds still under re-delivery (a
    // self-match flip would keep counts identical while overwriting
    // is_dup/keep/score — the exact failure the r12 replay shield
    // closes), so the assertion hashes every column of every row
    def sigOf(table: String): (Long, Long) = {
      val df = spark.read.format("jdbc").option("url", jdbcUrl)
        .option("dbtable", table).load()
      val cols = df.columns.sorted.map(c => col(c).cast("string"))
      // bit_xor, not sum: xxhash64 values span the full long range and
      // a sum over millions of rows overflows under ANSI mode; xor is
      // order-independent and closed over long
      val r = df.select(xxhash64(cols: _*).as("h"))
        .agg(count(lit(1)), expr("bit_xor(h)")).collect().head
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    val docSink = new JdbcUpsertSink(jdbcUrl, "curated_docs", "doc_key",
      Seq("word_count", "mean_word_len", "alpha_frac", "bench_cos"),
      batchSize = 500)
    val mediaSink = new JdbcUpsertSink(jdbcUrl, "curated_media",
      "media_key", Seq("decoded", "is_dup", "score"), batchSize = 500)
    val vecSink = new JdbcUpsertSink(jdbcUrl, "curated_vectors",
      "vec_key", Seq("keep", "score"), batchSize = 500)
    val textSink = new JdbcUpsertSink(jdbcUrl, "curated_text",
      "doc_key", Seq("is_dup", "jaccard"), batchSize = 500)

    // ---- the three legs, one checkpoint root --------------------------
    val ck = base.resolve("ck")
    val benchmark = Seq((900000000L,
      s"a held out evaluation document containing the " +
        s"${CurationBench.BenchGram} phrase"))
      .toDF("doc_id", "text")
    val semBench = Seq((900000000L, Seq(1.0, 0.0, 0.0, 0.0)))
      .toDF("bench_id", "bemb")
    val gate = StreamGate.rowGateCtx(benchmark, k = 3)
    val sem = StreamSemGate.benchIndex(semBench)
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("ts", TimestampType),
      StructField("emb", ArrayType(DoubleType))))
    val (qa, qd) = new CurationPipeline(docSink,
      new ParquetSink(base.resolve("rej").toString, maxFiles = 8),
      new ParquetSink(base.resolve("dup").toString, maxFiles = 8),
      dedupDelay = "30 minutes")
      .start(
        spark.readStream.schema(docSchema).option("maxFilesPerTrigger", 1)
          .json(watchDocs.toString),
        gate, sem, s"$ck/curation")

    // the standing-index TEXT leg consumes the SAME doc firehose the
    // curation pipeline does (its own checkpoint offsets): the standing
    // corpus is the first 20k generator docs, and since arriving doc ids
    // overlap that range with identical texts, the leg sees a heavy
    // "re-crawl of curated history" workload — those docs are flagged
    // against their standing selves and never fold (the generator's
    // boilerplate clique stays absorbed by the hot-band cap)
    val standingText = spark.range(0, 20000L, 1, 8)
      .map(i => (i, CurationBench.mkText(i)))
      .toDF("doc_id", "text")
    val textLeg = StreamTextDedup(textSink, standingText,
      ck.resolve("text-index").toString, spark)
    val qt = textLeg.start(
      spark.readStream.schema(docSchema).option("maxFilesPerTrigger", 1)
        .json(watchDocs.toString),
      s"$ck/textdedup")

    val mediaLeg = StreamMediaDedup.image(mediaSink,
      ImageDedup.hashRows(
        ImageDedup.imageTable(spark, IngestBench.StandingGroups)),
      ck.resolve("media-index").toString)
    val qm = mediaLeg.start(
      spark.readStream
        .schema("media_id LONG, payload BINARY, ts TIMESTAMP")
        .parquet(watchMedia.toString),
      s"$ck/media")

    val standingVec = spark.range(0, nStanding.toLong, 1, 8)
      .map(i => (i, IngestBench.vecFor(i)))
      .toDF("vec_id", "emb")
      .withColumn("norm", sqrt(EmbedSim.dot(col("emb"), col("emb"))))
      .persist()
    val seedMod = EmbedSim.centroidMod(nStanding.toLong)
    val centroids = EmbedSim.trainedCentroids(standingVec,
      standingVec.filter(col("vec_id") % seedMod === 0)
        .select(col("vec_id").as("centroid_id"), col("emb").as("cemb"),
          col("norm").as("cnorm")))
      .persist()
    val embedLeg = StreamEmbedDedup(vecSink, centroids,
      EmbedSim.assignTo(standingVec, centroids),
      ck.resolve("embed-index").toString)
    val qe = embedLeg.start(
      spark.readStream
        .schema("vec_id LONG, embedding ARRAY<FLOAT>, ts TIMESTAMP")
        .parquet(watchVec.toString),
      s"$ck/embed")

    val all = Seq(qa, qd, qt, qm, qe)
    def drainAll(): Unit = all.foreach(_.processAllAvailable())

    // ---- timed composed run -------------------------------------------
    release(stage.resolve("docs-warmup.json"), watchDocs)
    release(mediaWarmup, watchMedia)
    release(vecWarmup, watchVec)
    drainAll()
    val t0 = System.nanoTime()
    val batchSec = (0 until nBatches).map { b =>
      val b0 = System.nanoTime()
      release(docFiles(b), watchDocs)
      release(mediaFiles(b), watchMedia)
      release(vecFiles(b), watchVec)
      drainAll()
      (System.nanoTime() - b0) / 1e9
    }
    val sec = (System.nanoTime() - t0) / 1e9
    // the timed evidence survives any replay-leg failure: write it now
    Files.writeString(Paths.get("firehose_bench_out.json"),
      s"""{"metric":"firehose_timed_window","seconds":$sec,""" +
        s""""batch_seconds":${batchSec.map(t => f"$t%.2f")
          .mkString("[", ",", "]")}}""")

    // ---- end-to-end replay idempotence across every tier --------------
    val tables = Seq("curated_docs", "curated_media", "curated_vectors",
      "curated_text")
    val beforeSig = tables.map(sigOf)
    val before =
      (countOf("curated_docs"), countOf("curated_media"),
        countOf("curated_vectors"), countOf("curated_text"))
    CurationBench.writeBatchFile(stage, "docs-replay.json",
      1000 + (nBatches - 1) * docBatch to 999 + nBatches * docBatch)
    release(stage.resolve("docs-replay.json"), watchDocs)
    release(writeMediaBatch("media-replay",
      (nBatches - 1).toLong * mediaBatch, nBatches.toLong * mediaBatch),
      watchMedia)
    release(writeVecBatch("vec-replay",
      (nBatches - 1).toLong * vecBatch, nBatches.toLong * vecBatch),
      watchVec)
    drainAll()
    val afterSig = tables.map(sigOf)
    val after =
      (countOf("curated_docs"), countOf("curated_media"),
        countOf("curated_vectors"), countOf("curated_text"))
    all.foreach(_.stop())

    val totalItems = nBatches.toLong * (docBatch + mediaBatch + vecBatch)
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted; s(s.size / 2)
    }
    val line = s"""{"metric":"firehose_throughput",""" +
      s""""value":${totalItems / sec},"unit":"items/sec",""" +
      s""""docs":${nBatches * docBatch},"media":${nBatches * mediaBatch},""" +
      s""""vectors":${nBatches * vecBatch},"batches":$nBatches,""" +
      s""""seconds":$sec,"median_batch_sec":${median(batchSec)},""" +
      f""""median_batch_first_half":${median(batchSec.take(batchSec.size / 2))}%.2f,""" +
      f""""median_batch_second_half":${median(batchSec.drop(batchSec.size / 2))}%.2f,""" +
      s""""admitted_docs":${before._1},"media_rows":${before._2},""" +
      s""""vector_rows":${before._3},"text_rows":${before._4},""" +
      s""""media_index_assets":${mediaLeg.indexSize},""" +
      s""""vector_index_rows":${embedLeg.indexSize},""" +
      s""""text_index_docs":${textLeg.indexSize},""" +
      s""""replay_idempotent":${beforeSig == afterSig},""" +
      s""""replay_rows_held":${before == after},""" +
      s""""replay_after":[${after._1},${after._2},${after._3},${after._4}],""" +
      s""""batch_seconds":${batchSec.map(t => f"$t%.2f").mkString("[", ",", "]")}}"""
    Files.writeString(Paths.get("firehose_bench_out.json"), line)
    println(line)
    embedLeg.close()
    mediaLeg.close()
    textLeg.close()
    spark.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
  }
}
