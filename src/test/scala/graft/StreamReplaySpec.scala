package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.ops.{EmbedSim, ImageDedup, VideoDedup}
import graft.streaming.{StreamEmbedDedup, StreamMediaDedup, StreamTextDedup,
  UpsertSink}

/** Replay idempotence on verdict CONTENT for the three standing-index
  * streaming legs (the r12 replay shield; ADVICE r11 high): a batch
  * replayed AFTER its fold durably committed — the crash window between
  * `store.append` and the checkpoint commit, which is exactly the
  * window the durable fold guard exists for — must re-emit verdicts
  * BYTE-IDENTICAL to the original run. Without the shield the replay
  * pairs against an index containing its own kept rows, every kept item
  * self-matches (hamming 0 / cos 1 / jaccard 1) and flips to
  * dup-of-itself, and the keyed sink overwrites the correct verdict —
  * counts hold, bits flip. These specs compare the full verdict maps
  * (is_dup/keep + matched_id + score), not row counts.
  *
  * Also pinned: a re-delivery of the same CONTENT under a NEW batch id
  * (at-least-once file re-appearance, the IngestBench firehose replay-leg
  * shape) re-emits the same verdicts AND folds nothing — the
  * already-standing anti-join guard, without which the containment tier
  * would double per-pair shared counts and any per-list statistic would
  * double-count.
  */
class StreamReplaySpec extends AnyFunSuite with Matchers with TestSpark {

  private val t0 = new Timestamp(1700000000000L)

  private def mediaVerdicts(sink: UpsertSink) = {
    import scala.jdk.CollectionConverters._
    sink.store.values().asScala.map { r =>
      r.getLong(r.fieldIndex("media_id")) ->
        (r.getBoolean(r.fieldIndex("is_dup")),
          if (r.isNullAt(r.fieldIndex("matched_id"))) -1L
          else r.getLong(r.fieldIndex("matched_id")),
          if (r.isNullAt(r.fieldIndex("score"))) -1.0 // NaN != NaN
          else r.getDouble(r.fieldIndex("score")))
    }.toMap
  }

  test("media leg: a replay after a committed fold re-emits identical " +
      "verdicts (kept assets must NOT flip to dup-of-self), and a " +
      "new-id re-delivery neither flips verdicts nor refolds") {
    val n = 12
    for (modality <- Seq("image", "video")) withClue(s"$modality: ") {
      val sink = new UpsertSink("media_key")
      val dir = java.nio.file.Files.createTempDirectory("rp-ix").toString
      // video is the tier where a refold under a new id changes
      // verdicts: twin frame rows double the shared counts and push
      // overlap past 1
      val (leg, increment, selfScore) = modality match {
        case "image" => (StreamMediaDedup.image(sink,
            ImageDedup.hashRows(ImageDedup.imageTable(spark, n)), dir),
          ImageDedup.incrementTable(spark, n), 0.0)
        case _ => (StreamMediaDedup.video(sink,
            VideoDedup.hashRows(VideoDedup.videoTable(spark, n)), dir),
          VideoDedup.incrementTable(spark, n), 1.0)
      }
      try {
        // the increment has both kept (genuinely new) and dup assets
        val batch = increment.withColumn("ts", lit(t0))
        leg.processBatch(batch, 0L)
        val v1 = mediaVerdicts(sink)
        val size1 = leg.indexSize
        v1.values.map(_._1).toSet shouldBe Set(true, false) // both present

        // crash window: fold committed (lastFoldedId = 0), checkpoint
        // commit lost -> Spark re-runs THE SAME batch id
        leg.processBatch(batch, 0L)
        mediaVerdicts(sink) shouldBe v1 // overwrites carried identical bits
        leg.indexSize shouldBe size1

        // new-id re-delivery of the same content (at-least-once file
        // re-appearance): same verdicts, nothing refolds
        leg.processBatch(batch, 1L)
        mediaVerdicts(sink) shouldBe v1
        leg.indexSize shouldBe size1
        leg.store.lastFoldedId shouldBe 1L // the guard advanced, rows did not

        // a later copy of every kept asset matches its folded original
        // at the self score (hamming 0 / containment 1), never past it
        leg.processBatch(
          batch.withColumn("media_id", col("media_id") + 1000L), 2L)
        val v3 = mediaVerdicts(sink)
        val kept = v1.collect { case (id, (false, _, _)) => id }
        kept should not be empty
        kept.foreach { id =>
          (v3(id + 1000L)._1, v3(id + 1000L)._3) shouldBe ((true, selfScore))
        }
      } finally leg.close()
    }
  }

  test("text leg: replay after a committed fold re-emits identical " +
      "verdicts; new-id re-delivery folds nothing") {
    import spark.implicits._
    val standing = graft.Tables.load(spark, "/root/testdata/sf0.001",
      "documents").select("doc_id", "text")
    val sink = new UpsertSink("doc_key")
    val leg = StreamTextDedup(sink, standing,
      java.nio.file.Files.createTempDirectory("rp-tix").toString, spark)
    try {
      val standing0 = standing.orderBy("doc_id").limit(1)
        .collect().head.getString(1)
      val nearCopy = standing0.split(" ").zipWithIndex
        .map { case (w, i) => if (i == 1) "altered" else w }.mkString(" ")
      val newText = (1 to 60).map(i => s"q${i * 997 % 9973}").mkString(" ")
      val batch = Seq(
        (700000L, newText, t0),          // kept -> folds
        (700001L, nearCopy, t0),         // dup of standing
        (700002L, "too short", t0)).toDF("doc_id", "text", "ts")
      leg.processBatch(batch, 0L)
      val v1 = {
        import scala.jdk.CollectionConverters._
        sink.store.values().asScala.map { r =>
          r.getLong(r.fieldIndex("doc_id")) ->
            (r.getBoolean(r.fieldIndex("is_dup")),
              if (r.isNullAt(r.fieldIndex("matched_id"))) -1L
              else r.getLong(r.fieldIndex("matched_id")),
              r.getBoolean(r.fieldIndex("has_sig")))
        }.toMap
      }
      v1(700000L)._1 shouldBe false // kept — the bit the old code flipped
      val size1 = leg.indexSize

      leg.processBatch(batch, 0L) // same-id replay
      val v2 = {
        import scala.jdk.CollectionConverters._
        sink.store.values().asScala.map { r =>
          r.getLong(r.fieldIndex("doc_id")) ->
            (r.getBoolean(r.fieldIndex("is_dup")),
              if (r.isNullAt(r.fieldIndex("matched_id"))) -1L
              else r.getLong(r.fieldIndex("matched_id")),
              r.getBoolean(r.fieldIndex("has_sig")))
        }.toMap
      }
      v2 shouldBe v1
      leg.indexSize shouldBe size1

      leg.processBatch(batch, 1L) // new-id re-delivery
      leg.indexSize shouldBe size1 // already-standing guard: no twin rows
      leg.store.lastFoldedId shouldBe 1L
    } finally leg.close()
  }

  test("embed leg: replay after a committed fold re-emits identical " +
      "keep bits; new-id re-delivery folds nothing") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val cents = EmbedSim.ivfCentroids(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val standing = EmbedSim.standingAssigned(spark, dir, cents)
      val sink = new UpsertSink("vec_key")
      val leg = StreamEmbedDedup(sink, cents, standing,
        java.nio.file.Files.createTempDirectory("rp-eix").toString)
      try {
        val base = standing.orderBy(col("vec_id")).limit(1)
          .select(col("vec_id"), col("emb")).collect().head
        val baseEmb = base.getSeq[Double](1)
        val batch = Seq(
          (800000L, baseEmb.map(x => -x), t0),      // kept -> folds
          (800001L, baseEmb.map(x => x + 1e-9), t0)) // dup of standing
          .toDF("vec_id", "embedding", "ts")
        leg.processBatch(batch, 0L)
        def verdicts() = {
          import scala.jdk.CollectionConverters._
          sink.store.values().asScala.map { r =>
            r.getLong(r.fieldIndex("vec_id")) ->
              (r.getBoolean(r.fieldIndex("keep")),
                if (r.isNullAt(r.fieldIndex("matched_id"))) -1L
                else r.getLong(r.fieldIndex("matched_id")))
          }.toMap
        }
        val v1 = verdicts()
        v1(800000L)._1 shouldBe true // kept — the bit the old code flipped
        v1(800001L)._1 shouldBe false
        val size1 = leg.indexSize

        leg.processBatch(batch, 0L) // same-id replay
        verdicts() shouldBe v1
        leg.indexSize shouldBe size1

        leg.processBatch(batch, 1L) // new-id re-delivery
        verdicts() shouldBe v1
        leg.indexSize shouldBe size1 // no same-id twins planted
      } finally leg.close()
    } finally { cents.unpersist(); () }
  }
}
