package graft

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.ops.TextDedup

/** Connected-component dedup clusters: transitive closure over near-dup
  * pairs — the driver union-find tier, and large-star/small-star
  * contraction above its edge cap (forced with cap 0, so the tests pinning
  * round semantics exercise the distributed loop).
  */
class DedupClustersSpec extends AnyFunSuite with Matchers with TestSpark {

  private def corpusOf(ids: Long*) = {
    import spark.implicits._
    ids.toDF("doc_id").selectExpr("doc_id", "'t' AS text", "'s' AS source")
  }

  private def pairsOf(ps: (Long, Long)*) = {
    import spark.implicits._
    ps.toDF("doc_a", "doc_b")
  }

  /** Run `f` with the driver-local union-find tier capped at `cap` edges
    * (0 = force the distributed loop — the tests pinning round semantics
    * must exercise the loop, not the exact local tier).
    */
  private def withLocalCap[T](cap: Long)(f: => T): T = {
    spark.conf.set("spark.graft.cc.localMaxEdges", cap.toString)
    try f finally spark.conf.unset("spark.graft.cc.localMaxEdges")
  }

  test("chain merges into one cluster labeled by its min; " +
      "isolated docs stay singletons") {
    // 1-2, 2-3, 3-4 is a 3-hop chain: node 4 learns label 1 only after
    // multiple rounds. 7-8 is a separate pair; 9 is isolated.
    val out = TextDedup.dedupClusters(
      corpusOf(1L, 2L, 3L, 4L, 7L, 8L, 9L),
      pairsOf((1L, 2L), (2L, 3L), (3L, 4L))
        .unionAll(pairsOf((7L, 8L))))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3)))
    out shouldBe Array(
      (1L, 1L, 4L, true), (2L, 1L, 4L, false), (3L, 1L, 4L, false),
      (4L, 1L, 4L, false),
      (7L, 7L, 2L, true), (8L, 7L, 2L, false),
      (9L, 9L, 1L, true))
  }

  test("keepBest: highest quality wins per cluster, min doc_id on ties, " +
      "singletons keep themselves") {
    import spark.implicits._
    val clusters = TextDedup.dedupClusters(
      corpusOf(1L, 2L, 3L, 7L, 8L, 9L),
      pairsOf((1L, 2L), (2L, 3L)).unionAll(pairsOf((7L, 8L))))
    val quality = Seq(
      1L -> 0.2, 2L -> 0.9, 3L -> 0.5, // cluster 1: best = 2
      7L -> 0.4, 8L -> 0.4,            // tie: min doc_id = 7
      9L -> 0.1).toDF("doc_id", "quality")
    val out = TextDedup.keepBest(clusters, quality)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3)))
    out shouldBe Array(
      (1L, 2L, 0.9, 3L),
      (7L, 7L, 0.4, 2L),
      (9L, 9L, 0.1, 1L))
  }

  test("keepBest plan: argmax is a partial-agg groupBy, not a window") {
    import spark.implicits._
    val clusters = TextDedup.dedupClusters(
      corpusOf(1L, 2L), pairsOf((1L, 2L)))
    val quality = Seq(1L -> 0.5, 2L -> 0.6).toDF("doc_id", "quality")
    val plan = TextDedup.keepBest(clusters, quality)
      .queryExecution.executedPlan.toString
    plan should not include "Window"
    plan should include("partial_max")
  }

  test("no pairs: every doc is its own canonical singleton") {
    val out = TextDedup.dedupClusters(corpusOf(5L, 6L), pairsOf())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3)))
    out shouldBe Array((5L, 5L, 1L, true), (6L, 6L, 1L, true))
  }

  test("local union-find tier ≡ distributed loop") {
    val rnd = new scala.util.Random(20260819L)
    val n = 40
    val edges = (Seq.fill(30)(
      (1L + rnd.nextInt(n), 1L + rnd.nextInt(n)))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      ++ (1L until 10L).map(i => (i, i + 1))).distinct
    val nodes = 1L to n.toLong
    def run(f: => org.apache.spark.sql.DataFrame) =
      f.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toSeq
    val local = run(TextDedup.dedupClusters(corpusOf(nodes: _*),
      pairsOf(edges: _*)))
    TextDedup.lastStarRounds shouldBe 0
    withLocalCap(0) {
      val dist = run(TextDedup.dedupClusters(corpusOf(nodes: _*),
        pairsOf(edges: _*)))
      local shouldBe dist
      TextDedup.lastStarConverged shouldBe true
    }
  }

  test("random graphs match a driver-side union-find reference") {
    def randomTrials(seed: Long, k: Int): Seq[(Int, Seq[(Long, Long)])] = {
      val rnd = new scala.util.Random(seed)
      Seq.fill(k) {
        val n = 8 + rnd.nextInt(18)
        (n, Seq.fill(rnd.nextInt(n + 1))(
          (1L + rnd.nextInt(n), 1L + rnd.nextInt(n)))
          .filter { case (a, b) => a != b }
          .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
          .distinct)
      }
    }
    // trial 0 is a deterministic 12-node path (diameter 11: several star
    // rounds, each localCheckpoint'ed); then the two random trial sets
    val trials: Seq[(Int, Seq[(Long, Long)])] =
      (12, (1L until 12L).map(i => (i, i + 1))) +:
        (randomTrials(20260812L, 2) ++ randomTrials(20260813L, 3))
    trials.zipWithIndex.foreach { case ((n, edges), trial) => withLocalCap(0) {
      val nodes = (1L to n.toLong)
      // reference: plain union-find with min-root bookkeeping
      val parent = scala.collection.mutable.Map(nodes.map(i => i -> i): _*)
      def find(x: Long): Long =
        if (parent(x) == x) x
        else { val r = find(parent(x)); parent(x) = r; r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = nodes.map(i => i -> find(i)).toMap
      val got = TextDedup.dedupClusters(corpusOf(nodes: _*),
        pairsOf(edges: _*))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      withClue(s"trial $trial (n=$n, e=${edges.length}): ") {
        got shouldBe expected
      }
    } }
  }

  test("star variant: long chain converges in O(log n) rounds, " +
      "far below its diameter") {
    // a 32-node path has diameter 31: plain min-label propagation needs 31
    // rounds; large-star/small-star contraction must land well under that
    val n = 32
    val nodes = 1L to n.toLong
    withLocalCap(0) {
      val out = TextDedup.dedupClusters(
        corpusOf(nodes: _*),
        pairsOf((1L until n.toLong).map(i => (i, i + 1)): _*))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getBoolean(3)))
      out shouldBe nodes.map(i => (i, 1L, n.toLong, i == 1L)).toArray
      TextDedup.lastStarRounds should be > 0
      TextDedup.lastStarRounds should be < (n - 1)
      TextDedup.lastStarRounds should be <= 12
      TextDedup.lastStarConverged shouldBe true
    }
  }

  test("star variant: exhausting the round cap is flagged, not silent") {
    // one star round cannot contract a 32-chain to its minimum; the run
    // must report non-convergence (its labels are under-clustered)
    val n = 32
    val nodes = 1L to n.toLong
    withLocalCap(0) {
      val out = TextDedup.dedupClusters(
        corpusOf(nodes: _*),
        pairsOf((1L until n.toLong).map(i => (i, i + 1)): _*),
        maxRounds = 1)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      TextDedup.lastStarConverged shouldBe false
      out.values.toSet.size should be > 1 // under-clustered, as warned
    }
  }

  test("cluster_size is a partial-agg groupBy + join, not a window") {
    // Window.partitionBy(rep) has no map-side combine: one mega-cluster =
    // one unbounded task at scale. The DISTRIBUTED finalize step must
    // show an aggregate on rep and ZERO window nodes in the physical plan
    // (the local tier broadcasts precomputed sizes — no window either).
    withLocalCap(0) {
      val df = TextDedup.dedupClusters(
        corpusOf(1L, 2L, 3L), pairsOf((1L, 2L)))
      val plan = df.queryExecution.executedPlan.toString
      plan should not include "Window"
      plan should include regex "(?i)hashaggregate"
    }
    val localPlan = TextDedup.dedupClusters(
      corpusOf(1L, 2L, 3L), pairsOf((1L, 2L)))
      .queryExecution.executedPlan.toString
    localPlan should not include "Window"
  }

  test("the result stays readable after the call returns (cap 0)") {
    // the final labels must be materialized before the last round's edges
    // (a truncated-lineage checkpoint) are released: labels left lazy over
    // them fail on the first read, or on a later one once the async
    // unpersist lands
    withLocalCap(0) {
      val out = TextDedup.dedupClusters(
        corpusOf((1L to 10L) :+ 20L :+ 21L :+ 30L: _*),
        pairsOf((1L until 10L).map(i => (i, i + 1)) :+ ((20L, 21L)): _*))
      def rows = out.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getBoolean(3))).toSeq
      val first = rows
      Thread.sleep(200)
      rows shouldBe first
      first.map(_._2).distinct shouldBe Seq(1L, 20L, 30L)
    }
  }

  test("matches the clusters implied by the jaccard pairs on testdata") {
    val dir = "/root/testdata/sf0.001"
    val corpus = graft.ops.Corpus.withNearDups(spark, dir)
    val pairs = TextDedup.jaccardPairs(corpus)
    val out = TextDedup.dedupClusters(corpus, pairs)
    val rows = out.collect()
    // every corpus doc labeled exactly once
    rows.length shouldBe corpus.count()
    // every verified pair ends up in the same cluster
    val rep = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    pairs.select("doc_a", "doc_b").collect().foreach { p =>
      rep(p.getLong(0)) shouldBe rep(p.getLong(1))
    }
    // canonical = the minimum of its own cluster
    rows.filter(_.getBoolean(3)).foreach { r =>
      r.getLong(1) shouldBe r.getLong(0)
    }
  }
}
