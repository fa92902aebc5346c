package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.ops.Clean
import graft.sources.Sources
import graft.streaming.{Pipeline, Streams}

/** The reference's `test_quality.py` smoke, upgraded to assertions
  * (SURVEY §5b): the FIXTURES.md A1 rows — every clean_review branch —
  * ingested through the real JSONL source and asserted row by row.
  */
class FixtureSmokeSpec extends AnyFunSuite with Matchers with TestSpark {

  private val longText = "word " * 1200 // 6000 chars
  private val rows = Seq(
    """{"review_id":"r001","business_id":"b01","user_id":"u01","stars":5.0,"text":"Great food and friendly staff. The pasta was excellent and I will definitely come back!","date":"2024-06-01 12:30:00","useful":3,"funny":0,"cool":1}""",
    """{"review_id":"r002","business_id":"b01","user_id":"u02","stars":4.0,"text":null,"date":"2024-06-01 12:31:00"}""",
    """{"review_id":"r003","business_id":"b02","user_id":"u03","stars":0,"text":"Decent place overall, nothing special about the food.","date":"2024-06-01 12:32:00"}""",
    """{"review_id":"r004","business_id":"b02","user_id":"u04","stars":5.0,"text":"buy now!!! discount promo click here http://spam.example visit the site http://x.example","date":"2024-06-01 12:33:00"}""",
    """{"review_id":"r005","business_id":"b03","user_id":"u05","stars":3.0,"text":"the shop","date":"2024-06-01 12:34:00"}""",
    """{"review_id":"r006","business_id":"b03","user_id":"u06","stars":7.0,"text":"Rating is out of range but the text is perfectly fine here.","date":"2024-06-01 12:35:00"}""",
    s"""{"review_id":"r007","business_id":"b04","user_id":"u07","stars":4.0,"text":"${longText}the end.","date":"2024-06-01 12:36:00"}""",
    """{"review_id":"r008","business_id":"b04","user_id":"u08","stars":2.0,"text":"1234567890 the 123-456-7890 55 12 99 1234 5678 90123","date":"2024-06-01 12:37:00"}""")

  test("every documented fixture verdict holds through the real source") {
    val dir = Files.createTempDirectory("graft-fixture")
    Files.writeString(dir.resolve("reviews.json"), rows.mkString("\n"))
    val ann = Clean.annotate(
      Sources.asRawReviews(Sources.jsonlReviews(spark, dir.toString))
        .drop("ingestion_timestamp"))
    val byId = ann.collect().map(r => r.getAs[String]("review_id") -> r).toMap

    byId("r001").getAs[String]("stage") shouldBe "accepted"
    byId("r002").getAs[String]("stage") shouldBe "missing_value"
    byId("r003").getAs[String]("stage") shouldBe "missing_value" // rating-0 quirk
    byId("r004").getAs[String]("stage") shouldBe "spam_detected"
    byId("r005").getAs[String]("stage") shouldBe "too_short"
    byId("r006").getAs[String]("stage") shouldBe "out_of_range"
    byId("r007").getAs[String]("stage") shouldBe "accepted" // truncated, kept
    byId("r007").getAs[Int]("char_count") shouldBe 5000
    byId("r008").getAs[String]("stage") shouldBe "invalid_format"

    val sev = Clean.issues(ann).collect()
      .map(r => (r.getAs[String]("review_id"), r.getAs[String]("issue_type"),
        r.getAs[Int]("severity")))
    sev should contain(("r002", "missing_value", 10))
    sev should contain(("r003", "missing_value", 10))
    sev should contain(("r004", "spam_detected", 9))
    sev should contain(("r006", "out_of_range", 10))
    sev should contain(("r007", "too_long", 5))
    sev should contain(("r008", "invalid_format", 10))
  }

  test("the duplicate fixture row is dropped with a severity-7 issue") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ts = java.sql.Timestamp.valueOf("2024-06-01 12:30:00")
    val r = graft.schema.RawReview("r001", "b01", "u01", Some(5.0),
      "Great food and friendly staff.", ts, Some(3), Some(0), Some(1), "t")
    val in = MemoryStream[graft.schema.RawReview]
    val q = Streams.dedupTagged(in.toDF()).writeStream
      .format("memory").queryName("fixture_dup").outputMode("append").start()
    try {
      in.addData(r, r.copy(useful = Some(4)))
      q.processAllAvailable()
      val tagged = spark.table("fixture_dup")
      tagged.filter(!col("_dup")).count() shouldBe 1
      val issues = Pipeline.taggedDuplicateIssues(tagged).collect()
      issues.length shouldBe 1
      issues.head.getAs[Int]("severity") shouldBe 7
    } finally q.stop()
  }
}
