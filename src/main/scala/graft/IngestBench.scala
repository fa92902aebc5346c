package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{AudioDedup, EmbedSim, ImageDedup, VideoDedup}
import graft.streaming.{IndexLeg, ParquetSink, StreamEmbedDedup,
  StreamMediaDedup, StreamTextDedup}

/** Streaming standing-index ingest benchmark: drives one
  * [[graft.streaming.IndexLeg]] (file replay → scan-side signatures →
  * pruned consult of the durable standing index → verdict sink →
  * canonical fold) at firehose volume and reports sustained items per
  * second, per-batch seconds (the flatness evidence — per-batch cost
  * must not grow with the index), verdict counts, planted recall, and
  * index growth.
  *
  * Harness: every batch is staged up front as parquet part files
  * (payload generation runs distributed, once, pre-timer) and released
  * into the watched directory by atomic moves (every part is a complete
  * parquet; a split batch is just two micro-batches); scratch lives on
  * tmpfs when available. One warmup batch, with ids beyond the timed
  * range, runs before the timer and is excluded from the counts.
  *
  * Workloads — in each, every 10th arriving item is a planted re-ingest
  * of a standing item and the rest are genuinely new (splitmix-keyed,
  * so unrelated items share almost nothing):
  *  - `text`: the planted doc is [[CurationBench.mkText]] of a standing
  *    id plus a one-word tail (shingle jaccard ≈ 0.9, the "curated
  *    history re-crawled" case the in-window
  *    [[graft.streaming.StreamNearDup]] cannot see). The generator's
  *    every-11th boilerplate doc (one identical 8-word string) is a
  *    deliberate stressor: its band buckets exceed MaxBucket in the
  *    STANDING index, so the hot-band cap absorbs the clique — planted
  *    recrawls of it are reported as their own bucket, not as recall;
  *  - `image` / `audio` / `video`: fingerprint-identical re-ingests of
  *    a standing group (BMP re-encode at +IncShift brightness,
  *    gain-scaled WAV, trimmed+brightened raw-DIB AVI excerpt) against
  *    a standing index of [[StandingGroups]] groups;
  *  - `embed`: a +0.002-per-coordinate copy of a standing vector
  *    (cosine ≈ 0.99999, kept inside the base's Voronoi cell), judged
  *    against frozen centroids trained once, pre-timer, on the standing
  *    corpus.
  *
  * Usage: runMain graft.IngestBench <text|image|audio|video|embed>
  * [nItems] [nBatches] [standing]. `standing` sizes the text and embed
  * corpora (default 20000); the media legs always stand on
  * [[StandingGroups]] groups. Emits one JSON line (plus
  * ingest_bench_out.json).
  */
object IngestBench {

  val StandingDocs = 20000
  val StandingVectors = 20000
  val Dim = 64

  /** Standing media groups (the index starts at 4x this many assets). */
  val StandingGroups = 600

  /** Arriving doc i: every 10th a near-copy of standing doc
    * (i/10) % standing, the rest fresh content keyed far from the
    * standing id range (CurationBench's splitmix word generator — two
    * unrelated docs share almost no shingles).
    */
  private[graft] def textFor(i: Long, standing: Int): String =
    if (i % 10 == 0)
      CurationBench.mkText((i / 10) % standing) + " recrawled"
    else CurationBench.mkText(1000000000L + i)

  /** Payload for arriving image i: every 10th a re-ingest of standing
    * group (i/10) % StandingGroups (+IncShift BMP re-encode —
    * fingerprint-identical to the standing asset), the rest new
    * patterned rasters whose multiplier structure comes from a splitmix
    * bit mix of i. The mix matters: the oracle corpora's small affine
    * multiplier families alias across ids (they repeat mod 19·17·13),
    * which at firehose volume makes unrelated images near-share dHashes
    * — measured 2.4x the planted dup count at just 5k images. ~23 bits
    * of structural entropy keep spurious near-dups to background level
    * (they still occur, as in any real corpus, and are reported
    * separately from planted recall).
    */
  private[graft] def encodeFor(i: Long): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(ImageDedup.BaseW,
      ImageDedup.BaseH, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val reIngest = i % 10 == 0
    var z = i * 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = z ^ (z >>> 27)
    val m1 = 73 + (z & 63); val m2 = 151 + ((z >> 6) & 63)
    val m3 = 29 + ((z >> 12) & 63); val m4 = 13 + ((z >> 18) & 31)
    val off = (z >> 23) & 0xff
    var y = 0
    while (y < ImageDedup.BaseH) {
      var x = 0
      while (x < ImageDedup.BaseW) {
        val l =
          if (reIngest)
            ImageDedup.luma((i / 10) % StandingGroups, 0, x, y) +
              ImageDedup.IncShift
          else
            ((off + x * m1 + y * m2 + x.toLong * y * m3 +
              ((x + y) % 7) * m4) % ImageDedup.LumaMod).toInt
        img.setRGB(x, y, (l << 16) | (l << 8) | l)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, if (reIngest) "bmp" else "png", bos)
    bos.toByteArray
  }

  /** Video payload for arriving clip i: every 10th a re-ingest of
    * standing group (i/10) % StandingGroups as a trimmed+brightened
    * raw-DIB excerpt (frame-hash set equal to the trimmed variant's →
    * containment 1.0 against v0/v1/v2), the rest genuinely new 10-frame
    * clips whose per-frame structure comes from a splitmix of (i, t) —
    * same entropy rationale as the image generator.
    */
  private[graft] def encodeVideoFor(i: Long): Array[Byte] = {
    val reIngest = i % 10 == 0
    val frames: Array[(Int, Int) => Int] =
      if (reIngest) {
        val g = (i / 10) % StandingGroups
        Array.tabulate(VideoDedup.NFrames - VideoDedup.TrimStart)(t =>
          (x, y) => VideoDedup.luma(g, 0, t + VideoDedup.TrimStart, x, y) +
            VideoDedup.IncShift)
      } else
        Array.tabulate(VideoDedup.NFrames) { t =>
          var z = (i * 31 + t) * 0x9E3779B97F4A7C15L
          z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
          z = z ^ (z >>> 27)
          val m1 = 73 + (z & 63); val m2 = 151 + ((z >> 6) & 63)
          val m3 = 29 + ((z >> 12) & 63); val m4 = 13 + ((z >> 18) & 31)
          val off = (z >> 23) & 0xff
          (x, y) =>
            ((off + x * m1 + y * m2 + x.toLong * y * m3 +
              ((x + y) % 7) * m4) % VideoDedup.LumaMod).toInt
        }
    graft.ops.Media.encodeAviLuma(VideoDedup.BaseW, VideoDedup.BaseH,
      frames)
  }

  /** Audio payload for arriving clip i: every 10th a re-ingest of
    * standing group (i/10) % StandingGroups at [[AudioDedup.IncGain]]x
    * gain (fingerprint-identical — "the same recording re-uploaded
    * louder"), the rest genuinely new clips whose per-frame amplitude
    * structure comes from a splitmix of (i, frame) — same entropy
    * rationale as the image generator.
    */
  private[graft] def encodeAudioFor(i: Long): Array[Byte] = {
    val reIngest = i % 10 == 0
    val nf = graft.functions.AudioFingerprintUtil.Frames
    val n = nf * AudioDedup.FrameK
    val data = new Array[Byte](n * 2)
    var k = 0
    while (k < n) {
      val f = k / AudioDedup.FrameK
      val a =
        if (reIngest)
          AudioDedup.amp((i / 10) % StandingGroups, 0, f) *
            AudioDedup.IncGain
        else {
          var z = (i * 131 + f) * 0x9E3779B97F4A7C15L
          z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
          z = z ^ (z >>> 27)
          ((z >>> 33) % AudioDedup.AmpMod).toInt
        }
      val sgn = if (k % 2 == 0) a else -a
      data(2 * k) = (sgn & 0xff).toByte
      data(2 * k + 1) = ((sgn >> 8) & 0xff).toByte
      k += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Deterministic splitmix vector for id i: coordinates in
    * [-0.5, 0.5), ~uniform, so pairwise cosines of unrelated ids
    * concentrate near 0 (sd ≈ 1/sqrt(Dim)).
    */
  private[graft] def vecFor(i: Long): Array[Double] = {
    val out = new Array[Double](Dim)
    var k = 0
    while (k < Dim) {
      var z = (i * Dim + k + 1) * 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z = z ^ (z >>> 31)
      out(k) = (z >>> 11).toDouble / (1L << 53).toDouble - 0.5
      k += 1
    }
    out
  }

  /** Arriving vector i: every 10th a perturbed copy of standing vector
    * (i/10) % standing (cos ≈ 0.99999 — must be dropped against it),
    * the rest fresh vectors keyed far from the standing id range.
    */
  private[graft] def arrivalFor(i: Long, standing: Int): Array[Double] =
    if (i % 10 == 0) vecFor((i / 10) % standing).map(_ + 0.002)
    else vecFor(1000000000L + i)

  /** One leg's side of the harness.
    *
    * @param newBase arriving item i carries id newBase + i
    * @param stage   (lo, hi) → the arriving rows (id, payload, ts) for
    *                generator indices [lo, hi)
    * @param counts  (timed-range verdicts, their planted subset) → the
    *                leg's JSON count fields
    */
  private final case class Workload(idCol: String, newBase: Long,
      unit: String, schema: String, leg: IndexLeg,
      stage: (Long, Long) => DataFrame,
      counts: (DataFrame, DataFrame) => Seq[(String, Long)])

  private def ts(i: Long) = new java.sql.Timestamp(1704100000000L + i * 100L)

  private def workload(spark: SparkSession, name: String, standing: Int,
      indexDir: String, sink: ParquetSink): Workload = {
    import spark.implicits._
    val newBase = 10000000L
    val mediaBase = ImageDedup.NewMediaBase
    def count(v: DataFrame, c: Column) = v.filter(c).count()
    name match {
      case "text" =>
        val docs = spark.range(0, standing.toLong, 1, 8)
          .map(i => (i, CurationBench.mkText(i)))
          .toDF("doc_id", "text")
        Workload("doc_id", newBase, "docs/sec",
          "doc_id LONG, text STRING, ts TIMESTAMP",
          StreamTextDedup(sink, docs, indexDir, spark),
          (lo, hi) => spark.range(lo, hi, 1, 8)
            .map(i => (newBase + i, textFor(i, standing), ts(i)))
            .toDF("doc_id", "text", "ts"),
          (v, p) => {
            // planted recrawls whose STANDING target is the boilerplate
            // clique are absorbed by the hot-band cap BY CONTRACT (the
            // batch tier's incremental operator misses them
            // identically), so they are their own bucket, not recall
            val isBoiler =
              (((col("doc_id") - newBase) / 10).cast("long") % standing) %
                11 === 3
            val contentful = p.filter(!isBoiler)
            Seq("dups" -> count(v, col("is_dup")),
              "no_sig" -> count(v, !col("has_sig")),
              "planted_contentful" -> contentful.count(),
              "planted_contentful_found" -> count(contentful, col("is_dup")),
              "planted_boilerplate_absorbed" -> count(p, isBoiler),
              "planted_boilerplate_found" ->
                count(p.filter(isBoiler), col("is_dup")))
          })
      case "image" | "audio" | "video" =>
        val (enc, leg) = name match {
          case "image" => (encodeFor _, StreamMediaDedup.image(sink,
            ImageDedup.hashRows(ImageDedup.imageTable(spark, StandingGroups)),
            indexDir))
          case "audio" => (encodeAudioFor _, StreamMediaDedup.audio(sink,
            AudioDedup.hashRows(AudioDedup.audioTable(spark, StandingGroups)),
            indexDir))
          case _ => (encodeVideoFor _, StreamMediaDedup.video(sink,
            VideoDedup.hashRows(VideoDedup.videoTable(spark, StandingGroups)),
            indexDir))
        }
        Workload("media_id", mediaBase, "assets/sec",
          "media_id LONG, payload BINARY, ts TIMESTAMP", leg,
          (lo, hi) => spark.range(lo, hi, 1, 8)
            .map(i => (mediaBase + i, enc(i), ts(i)))
            .toDF("media_id", "payload", "ts"),
          // every planted re-ingest is fingerprint-identical to its
          // standing asset, so each must be flagged
          (v, p) => Seq("dups" -> count(v, col("is_dup")),
            "undecodable" -> count(v, !col("decoded")),
            "planted_found" -> count(p, col("is_dup"))))
      case "embed" =>
        // the standing corpus and its frozen trained centroids, built
        // once, pre-timer (the "train once, amortize over ingest"
        // contract)
        val corpus = spark.range(0, standing.toLong, 1, 8)
          .map(i => (i, vecFor(i)))
          .toDF("vec_id", "emb")
          .withColumn("norm", sqrt(EmbedSim.dot(col("emb"), col("emb"))))
          .persist()
        val seedMod = EmbedSim.centroidMod(standing.toLong)
        val centroids = EmbedSim.trainedCentroids(corpus,
            corpus.filter(col("vec_id") % seedMod === 0)
              .select(col("vec_id").as("centroid_id"), col("emb").as("cemb"),
                col("norm").as("cnorm")))
          .persist()
        val nCentroids = centroids.count()
        Workload("vec_id", newBase, "vectors/sec",
          "vec_id LONG, embedding ARRAY<FLOAT>, ts TIMESTAMP",
          StreamEmbedDedup(sink, centroids,
            EmbedSim.assignTo(corpus, centroids), indexDir),
          (lo, hi) => spark.range(lo, hi, 1, 8)
            .map(i => (newBase + i,
              arrivalFor(i, standing).map(_.toFloat), ts(i)))
            .toDF("vec_id", "embedding", "ts"),
          (v, p) => Seq("centroids" -> nCentroids,
            "dropped" -> count(v, !col("keep")),
            "planted_dropped" -> count(p, !col("keep"))))
      case other =>
        throw new IllegalArgumentException(
          s"unknown leg '$other' (text|image|audio|video|embed)")
    }
  }

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(
      throw new IllegalArgumentException(
        "usage: IngestBench <text|image|audio|video|embed> " +
          "[nItems] [nBatches] [standing]"))
    val n = args.drop(1).headOption.map(_.toInt).getOrElse(100000)
    val nBatches = args.drop(2).headOption.map(_.toInt).getOrElse(10)
    val standing = name match {
      case "text" => args.drop(3).headOption.map(_.toInt)
        .getOrElse(StandingDocs)
      case "embed" => args.drop(3).headOption.map(_.toInt)
        .getOrElse(StandingVectors)
      case _ => StandingGroups
    }
    val spark = Sessions.builder(Sessions.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val shm = Paths.get("/dev/shm")
    val base = if (Files.isWritable(shm))
      Files.createTempDirectory(shm, "graft-ingestbench")
    else Files.createTempDirectory("graft-ingestbench")
    val stageDir = Files.createDirectory(base.resolve("stage"))
    val watch = Files.createDirectory(base.resolve("in"))
    val verdictDir = base.resolve("verdicts").toString
    val w = workload(spark, name, standing, base.resolve("index").toString,
      new ParquetSink(verdictDir, maxFiles = 8))

    val batchSize = n / nBatches
    def writeBatch(b: Int, lo: Long, hi: Long): Path = {
      val dir = stageDir.resolve(f"batch$b%05d")
      w.stage(lo, hi).write.parquet(dir.toString)
      dir
    }
    val warmup = writeBatch(-1, n.toLong + 1000000L, n.toLong + 1001000L)
    val staged = (0 until nBatches).map { b =>
      writeBatch(b, b.toLong * batchSize, (b + 1).toLong * batchSize)
    }
    def release(dir: Path): Unit = {
      val s = Files.list(dir)
      try s.iterator().forEachRemaining { p =>
        if (p.getFileName.toString.endsWith(".parquet"))
          Files.move(p, watch.resolve(
            dir.getFileName.toString + "-" + p.getFileName),
            StandardCopyOption.ATOMIC_MOVE)
      } finally s.close()
    }

    val q = w.leg.start(
      spark.readStream.schema(w.schema).parquet(watch.toString),
      base.resolve("ck").toString)
    release(warmup)
    q.processAllAvailable()
    // sampled AFTER the warmup batch folds, so index_end - index_start
    // covers exactly the timed stream's growth
    val indexStart = w.leg.indexSize
    val t0 = System.nanoTime()
    val batchSec = staged.map { p =>
      val b0 = System.nanoTime()
      release(p)
      q.processAllAvailable()
      (System.nanoTime() - b0) / 1e9
    }
    val sec = (System.nanoTime() - t0) / 1e9
    q.stop()

    val verdicts = spark.read.parquet(verdictDir)
      .filter(col(w.idCol) >= w.newBase && col(w.idCol) < w.newBase + n)
      .persist()
    val planted = verdicts.filter((col(w.idCol) - w.newBase) % 10 === 0)
    val counts = Seq("verdicts" -> verdicts.count(),
      "planted" -> planted.count()) ++ w.counts(verdicts, planted)
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted; s(s.size / 2)
    }
    val line = s"""{"metric":"ingest_throughput","leg":"$name",""" +
      s""""value":${n / sec},"unit":"${w.unit}","items":$n,""" +
      s""""batches":$nBatches,"standing":$standing,""" +
      s""""seconds":$sec,"median_batch_sec":${median(batchSec)},""" +
      f""""median_batch_first_half":${median(batchSec.take(batchSec.size / 2))}%.2f,""" +
      f""""median_batch_second_half":${median(batchSec.drop(batchSec.size / 2))}%.2f,""" +
      counts.map { case (k, v) => s""""$k":$v,""" }.mkString +
      s""""index_start":$indexStart,"index_end":${w.leg.indexSize},""" +
      s""""batch_seconds":${batchSec.map(t => f"$t%.2f").mkString("[", ",", "]")}}"""
    Files.writeString(Paths.get("ingest_bench_out.json"), line)
    println(line)
    w.leg.close()
    spark.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
  }
}
