package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** `SPARK_GRAFT_ONLY` selection, shared by Bench and Verify. */
class QuerySelectionSpec extends AnyFunSuite with Matchers {

  test("a misspelled name throws before any query is selected") {
    val e = the[IllegalArgumentException] thrownBy
      SparkEntry.selected(Some("q_video_dups, q_vidoe_dups_incr"))
    e.getMessage should include("q_vidoe_dups_incr")
    e.getMessage should not include "q_video_dups,"
  }

  test("a subset selects exactly its names, sorted; none selects all") {
    SparkEntry.selected(Some("q_video_dups_incr, q_clean_docs")) shouldBe
      Seq("q_clean_docs", "q_video_dups_incr")
    SparkEntry.selected(None) shouldBe SparkEntry.queries.keys.toSeq.sorted
  }
}
