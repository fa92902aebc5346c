package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.ops.TextDedup

/** r13 substring-family shared materialization: the registry memoizes ONE
  * word-split doc stream + ONE positional gram frame for the boilerplate
  * corpus and feeds all three substring variants from them. These pins
  * guarantee the shared frames are value-identical to the per-query
  * derivations they replaced.
  */
class SubstrSharedSpec extends AnyFunSuite with Matchers with TestSpark {

  private def df(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private val rows = Seq(
    1L -> "a b c s1 s2 s3 d e f",
    2L -> "x y s1 s2 s3 z",
    3L -> "s1 s2 s3 s1 s2 s3 q", // within-doc repeat: per-doc distinct matters
    4L -> "short",
    5L -> "")

  test("substrGramRowsFrom(substrGramPos) ≡ substrGramRows (multiset)") {
    val corpus = df(rows: _*)
    val k = 3
    val direct = TextDedup.substrGramRows(corpus, k)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val shared = TextDedup.substrGramRowsFrom(
        TextDedup.substrGramPos(TextDedup.substrWordRows(corpus), k))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    shared shouldBe direct
    // per-doc distinctness really holds (doc 3 repeats its gram)
    shared.length shouldBe shared.distinct.length
  }

  test("substringDedupFrom over shared frames ≡ substringDedup") {
    val corpus = df(rows: _*)
    val k = 3
    val direct = TextDedup.substringDedup(corpus, k)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).sorted
    val ww = TextDedup.substrWordRows(corpus)
    val viaShared = TextDedup.substringDedupFrom(ww,
        TextDedup.substrGramPos(ww, k), k)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).sorted
    viaShared shouldBe direct
  }

  test("substringDedupBpeFrom over the shared word stream ≡ substringDedupBpe") {
    val corpus = df(rows: _*)
    val direct = TextDedup.substringDedupBpe(corpus, k = 5)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).sorted
    val viaShared = TextDedup.substringDedupBpeFrom(
        TextDedup.substrWordRows(corpus), k = 5)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).sorted
    viaShared shouldBe direct
  }

  test("cap=0 disables the local cluster tier even on EMPTY edge sets") {
    // advisor note (r12): `n <= cap` admitted empty sets to the local
    // tier under cap=0; the star loop's round counter makes the tier
    // observable — the distributed path runs >= 1 round even on empty
    // input, the local tier reports 0
    import spark.implicits._
    val corpus = df(1L -> "a", 2L -> "b")
    val noPairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    spark.conf.set("spark.graft.cc.localMaxEdges", "0")
    try {
      val out = TextDedup.dedupClusters(corpus, noPairs)
      out.collect().map(_.getLong(0)).sorted shouldBe Array(1L, 2L)
      TextDedup.lastStarRounds should be >= 1
    } finally spark.conf.unset("spark.graft.cc.localMaxEdges")
  }
}
