package graft

import java.nio.file.Files
import java.sql.{DriverManager, SQLException, Timestamp}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.ops.{Clean, Dedup}
import graft.schema.RawReview
import graft.streaming.{BatchSink, JdbcUpsertSink, Monitor, ParquetSink, Pipeline, Streams, UpsertSink}

/** The full reference topology end-to-end: replayed raw reviews ->
  * tagged dedup -> clean -> routed cleaned/issues (incl. per-duplicate
  * `duplicate` issues) -> idempotent warehouse. All sinks distributed —
  * no driver collects anywhere in the streaming path.
  */
class PipelineSpec extends AnyFunSuite with Matchers
    with org.scalatest.concurrent.Eventually with TestSpark {

  import org.scalatest.time.{Seconds, Span}
  implicit override val patienceConfig: PatienceConfig =
    PatienceConfig(timeout = Span(15, Seconds))

  private def ts(s: String) = Timestamp.valueOf(s)
  private def raw(id: String, date: String, text: String): RawReview =
    RawReview(id, s"b_$id", "u1", Some(4.0), text, ts(date),
      Some(1), Some(0), Some(0), "test")

  private def issuesDir(): String =
    Files.createTempDirectory("graft-issues").resolve("issues").toString

  private def readIssues(dir: String) =
    try spark.read.parquet(dir).collect()
    catch { case _: org.apache.spark.sql.AnalysisException =>
      Array.empty[org.apache.spark.sql.Row] }

  test("E1->E2->E3: stream in, dedup, clean, route, upsert; dup issues " +
      "emitted distributed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sink = new UpsertSink("review_id")
    val issueDir = issuesDir()
    val in = MemoryStream[RawReview]
    val checkpoint = Files.createTempDirectory("graft-ckpt").toString
    val monitor = Monitor.attach(spark)
    val q = new Pipeline(sink, new ParquetSink(issueDir))
      .start(in.toDF(), checkpoint)
    try {
      in.addData(
        raw("r1", "2024-01-01 10:00:00",
          "this place was absolutely great for the whole family"),
        raw("r1", "2024-01-01 10:00:00", "duplicate of the first record"),
        raw("r2", "2024-01-01 10:20:00", "the x"), // too_short -> issue only
        raw("r3", "2024-01-01 10:40:00",
          "a wonderful spot with the best service in town"))
      q.processAllAvailable()
      sink.size shouldBe 2 // r1 (first wins), r3; r2 rejected
      sink.store.containsKey("r1") shouldBe true
      sink.store.containsKey("r3") shouldBe true
      // the issue stream carries BOTH quality issues and the per-duplicate
      // emission the reference produces on a dedup hit (faust_app.py:115-124)
      val issues = readIssues(issueDir)
      issues.map(_.getAs[String]("issue_type")) should contain("too_short")
      val dups = issues.filter(_.getAs[String]("issue_type") == "duplicate")
      dups.length shouldBe 1
      dups.head.getAs[String]("review_id") shouldBe "r1"
      dups.head.getAs[Int]("severity") shouldBe 7
      dups.head.getAs[String]("og_value") should startWith("r1:")
      // replay the whole input: idempotent upsert, no growth
      in.addData(raw("r1", "2024-01-01 10:00:00",
        "this place was absolutely great for the whole family"))
      q.processAllAvailable()
      sink.size shouldBe 2
      // ...and the replayed r1 is a state hit -> one more duplicate issue
      readIssues(issueDir)
        .count(_.getAs[String]("issue_type") == "duplicate") shouldBe 2
      // T8 observability: the listener saw every micro-batch and input row
      // (5 raw records across the two addData rounds), without touching
      // the data path. Listener delivery is async — wait for the bus.
      eventually(monitor.rows.get() shouldBe 5L)
      monitor.batches.get() should be >= 2L
      monitor.lastProgressJson.get() should include("numInputRows")
    } finally {
      q.stop()
      spark.streams.removeListener(monitor)
    }
  }

  test("restart from checkpoint: offsets resume and dedup state survives " +
      "(T1/T7)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sink = new UpsertSink("review_id")
    val issueDir = issuesDir()
    val in = MemoryStream[RawReview]
    val checkpoint = Files.createTempDirectory("graft-restart").toString
    val pipe = new Pipeline(sink, new ParquetSink(issueDir))
    val originalText = "this place was absolutely great for the whole family"
    val q1 = pipe.start(in.toDF(), checkpoint)
    try {
      in.addData(
        raw("s1", "2024-01-01 10:00:00", originalText),
        raw("s2", "2024-01-01 10:05:00",
          "a wonderful spot with the best service in town"))
      q1.processAllAvailable()
    } finally q1.stop()
    sink.size shouldBe 2

    // second incarnation, SAME checkpoint: offsets + state store restored
    val q2 = pipe.start(in.toDF(), checkpoint)
    try {
      // a late duplicate of s1 with DIFFERENT text: only the RESTORED
      // dedup state can drop it — if state were lost, it would pass dedup
      // and the idempotent upsert would overwrite s1's text
      in.addData(
        raw("s1", "2024-01-01 10:00:00", s"$originalText but changed"),
        raw("s3", "2024-01-01 10:10:00",
          "the food was fine and the service was quick and friendly"))
      q2.processAllAvailable()
      sink.size shouldBe 3 // s3 arrives; the s1 duplicate does not grow it
      val s1Text = sink.store.get("s1").getAs[String]("text")
      s1Text should include(originalText)
      s1Text should not include "but changed"
      // the restored state turned the late s1 into a duplicate ISSUE too
      readIssues(issueDir)
        .count(_.getAs[String]("issue_type") == "duplicate") shouldBe 1
    } finally q2.stop()
  }

  test("E2E against the REAL JDBC warehouse sink (Derby), zero driver " +
      "collects") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val url = "jdbc:derby:memory:pipejdbc;create=true"
    val conn = DriverManager.getConnection(url)
    try conn.createStatement().execute(
      """CREATE TABLE cleaned_reviews (
        |  review_id VARCHAR(32) PRIMARY KEY,
        |  rating INT NOT NULL,
        |  data_quality_score DOUBLE)""".stripMargin)
    finally conn.close()
    try {
      val jdbc = new JdbcUpsertSink(url, "cleaned_reviews", "review_id",
        updateCols = Seq("data_quality_score"))
      // warehouse projection in front of the upsert — same BatchSink face
      val cleanedSink = new BatchSink {
        def write(df: org.apache.spark.sql.DataFrame, id: Long): Unit =
          jdbc.write(
            df.selectExpr("review_id", "rating", "data_quality_score"), id)
      }
      val issueDir = issuesDir()
      val in = MemoryStream[RawReview]
      val checkpoint = Files.createTempDirectory("graft-jdbc-pipe").toString
      val q = new Pipeline(cleanedSink, new ParquetSink(issueDir))
        .start(in.toDF(), checkpoint)
      try {
        in.addData(
          raw("j1", "2024-01-01 10:00:00",
            "this place was absolutely great for the whole family"),
          raw("j1", "2024-01-01 10:00:00", "a duplicate that must drop"),
          raw("j2", "2024-01-01 10:20:00",
            "a wonderful spot with the best service in town"))
        q.processAllAvailable()
        // replay j1: keyed idempotence through the real JDBC path
        in.addData(raw("j1", "2024-01-01 10:00:00",
          "this place was absolutely great for the whole family"))
        q.processAllAvailable()
        val c = DriverManager.getConnection(url)
        try {
          val rs = c.createStatement()
            .executeQuery("SELECT count(*) FROM cleaned_reviews")
          rs.next() shouldBe true
          rs.getInt(1) shouldBe 2
        } finally c.close()
        readIssues(issueDir)
          .count(_.getAs[String]("issue_type") == "duplicate") shouldBe 2
      } finally q.stop()
    } finally {
      try DriverManager.getConnection("jdbc:derby:memory:pipejdbc;drop=true")
      catch { case _: SQLException => () }
    }
  }
}
