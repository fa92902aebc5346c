package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.ops.Clean
import graft.schema.RawReview
import graft.streaming.{BatchSink, Pipeline, Streams, UpsertSink}

/** Structured Streaming behavior: the clean pipeline over a micro-batched
  * stream, watermarked dedup, windowed stats in update mode, and the
  * idempotent foreachBatch upsert (SURVEY §2.4, §2.9, E2/E3).
  */
class StreamingSpec extends AnyFunSuite with Matchers with TestSpark {

  private def ts(s: String) = Timestamp.valueOf(s)
  private def raw(id: String, date: String,
                  text: String = "this is a perfectly fine review of the place")
      : RawReview =
    RawReview(id, "b1", "u1", Some(4.0), text, ts(date),
      Some(1), Some(0), Some(0), "test")

  test("clean pipeline runs unchanged on a stream (stateless operators)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[RawReview]
    val q = Clean.annotate(in.toDF()).writeStream
      .format("memory").queryName("ann_out").outputMode("append").start()
    try {
      in.addData(raw("r1", "2024-01-01 10:00:00"),
        raw("r2", "2024-01-01 10:30:00", text = "the x"))
      q.processAllAvailable()
      val out = spark.table("ann_out")
      out.count() shouldBe 2
      out.filter($"review_id" === "r1").head().getAs[Boolean]("accepted") shouldBe true
      out.filter($"review_id" === "r2").head().getAs[String]("stage") shouldBe "too_short"
    } finally q.stop()
  }

  test("tagged dedup drops repeats of (review_id, date)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[RawReview]
    val q = Streams.dedupTagged(in.toDF()).filter(!col("_dup")).writeStream
      .format("memory").queryName("dedup_out").outputMode("append").start()
    try {
      in.addData(raw("r1", "2024-01-01 10:00:00"),
        raw("r1", "2024-01-01 10:00:00"), // exact dup -> dropped
        raw("r1", "2024-01-01 11:00:00")) // same id, new event time -> kept
      q.processAllAvailable()
      spark.table("dedup_out").count() shouldBe 2
    } finally q.stop()
  }

  test("hourly stats aggregate in update mode with event-time windows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[RawReview]
    val q = Streams.hourlyStats(Clean.annotate(in.toDF())).writeStream
      .format("memory").queryName("stats_out").outputMode("complete").start()
    try {
      in.addData(
        raw("r1", "2024-01-01 10:05:00"), raw("r2", "2024-01-01 10:55:00"),
        raw("r3", "2024-01-01 11:05:00"),
        raw("r4", "2024-01-01 10:10:00", text = "x")) // rejected, same hour
      q.processAllAvailable()
      val rows = spark.table("stats_out").orderBy("window_start").collect()
      rows.length shouldBe 2
      rows(0).getAs[Timestamp]("window_start") shouldBe ts("2024-01-01 10:00:00")
      rows(0).getAs[Long]("total_reviews") shouldBe 3
      rows(0).getAs[Long]("valid_reviews") shouldBe 2
      rows(1).getAs[Long]("total_reviews") shouldBe 1
    } finally q.stop()
  }

  test("foreachBatch routes one pass to two sinks and upserts idempotently") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[RawReview]
    val cleanedSink = new UpsertSink("review_id")
    val issuesSeen = new java.util.concurrent.atomic.AtomicLong
    val issueSink = new BatchSink {
      def write(df: DataFrame, id: Long): Unit = issuesSeen.addAndGet(df.count())
    }
    val checkpoint = Files.createTempDirectory("graft-route").toString
    val q = new Pipeline(cleanedSink, issueSink).start(in.toDF(), checkpoint)
    try {
      in.addData(raw("r1", "2024-01-01 10:00:00"),
        raw("r2", "2024-01-01 10:30:00", text = "the x"))
      q.processAllAvailable()
      // redeliver r1 under a new event time: a new dedup key, so it reaches
      // the sink again -> same key, same store size
      in.addData(raw("r1", "2024-01-01 11:00:00"))
      q.processAllAvailable()
      cleanedSink.size shouldBe 1 // r1 upserted twice under one key
      issuesSeen.get() should be >= 1L // r2's too_short
    } finally q.stop()
  }
}
