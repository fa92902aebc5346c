package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The streaming bench harness at small sizes, through the same
  * `IngestBench.run` that `main` calls. `firehose` is the one place the
  * composed five-query topology runs — curation admit + dup, the text,
  * image and embed standing-index legs — sharing one checkpoint root and
  * one Derby warehouse, so it is also the spec for that composition:
  * every table must hold still, row count and content hash, when the
  * last batch of every input is re-delivered.
  *
  * The count fields are pinned to what the former per-topology bench
  * mains printed for the same arguments (their generators are kept
  * byte-for-byte).
  */
class IngestBenchSpec extends AnyFunSuite with Matchers with TestSpark {

  test("reviews 2000 2: pipeline and agent counts, session left running") {
    val before = spark.streams.active.map(_.id).toSet
    val l = IngestBench.run(spark, "reviews", Seq("2000", "2"))
    l("items") shouldBe 2000L
    l("upserted") shouldBe 1200L
    l("issues") shouldBe 2400L
    l("session_rows") shouldBe 0L
    // one hourly window spans the whole run, so every agent micro-batch
    // emits one row; how many micro-batches the 2 s trigger cuts depends
    // on timing, but the warm-up is drained on its own before the timer
    l("stats_rows").asInstanceOf[Long] should (be >= 2L and be <= 3L)
    // dedup state: every distinct review id of warm-up + timed batches
    l("state_rows").asInstanceOf[Map[String, Long]]("pipeline") shouldBe 2700L
    spark.sparkContext.isStopped shouldBe false
    spark.streams.active.map(_.id).toSet shouldBe before
  }

  test("firehose 2000 2 200 200: composed topology is replay-idempotent") {
    val before = spark.streams.active.map(_.id).toSet
    val l = IngestBench.run(spark, "firehose", Seq("2000", "2", "200", "200"))
    l("items") shouldBe 2400L
    l("replay_idempotent") shouldBe true
    l("replay_rows_held") shouldBe true
    Seq("admitted_docs", "media_rows", "vector_rows", "text_rows",
      "media_index_assets", "vector_index_rows", "text_index_docs")
      .map(l) shouldBe Seq(2678L, 1200L, 1200L, 3000L, 3480L, 21080L, 20000L)
    l("drain_sec").asInstanceOf[Map[String, Double]].keys.toSeq shouldBe
      Seq("admit", "dup", "text", "media", "embed")
    spark.sparkContext.isStopped shouldBe false
    spark.range(3).count() shouldBe 3L
    spark.streams.active.map(_.id).toSet shouldBe before
  }
}
