package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Registry-wide [[Pin]] ownership and the construction-job ratchet.
  *
  * After `Queries.warmup` and one forced pass (which builds the session
  * memos no warmup builds), every registry query runs twice more at
  * sf0.001, each inside a query scope as Bench and Verify run it. A query
  * must leave no persistent RDD behind, and building its DataFrame may
  * submit at most its pinned number of Spark jobs.
  */
class RegistryPinSpec extends AnyFunSuite with Matchers with TestSpark {
  import RegistryPinSpec.Sample

  private val dir = "/root/testdata/sf0.001"

  /** Jobs submitted while the DataFrame is only being built (eager
    * checkpoints, range-partition samples, index-sizing counts), measured
    * at sf0.001 with headroom 0. A query not named here must build
    * without a job.
    */
  private val constructionJobs = Map(
    "q_ccnet_buckets" -> 10, "q_dedup_clusters" -> 8,
    "q_dedup_clusters_star" -> 8, "q_shard_pack" -> 4,
    "q_decontaminate_bloom" -> 3, "q_embed_dups_lsh" -> 3,
    "q_containment_pairs" -> 2, "q_decontaminate_auto" -> 2,
    "q_substring_dedup_incr" -> 2, "q_video_dups" -> 2,
    "q_video_dups_incr" -> 2, "q_chunk_dedup" -> 1, "q_keyterms" -> 1,
    "q_rare_tokens" -> 1, "q_substring_dedup_bpe" -> 1)

  private lazy val samples: Seq[Sample] = {
    val sc = spark.sparkContext
    val names = SparkEntry.queries.keys.toSeq.sorted
    def keys = sc.getPersistentRDDs.keySet.toSet
    def force(q: String) =
      Pin.scope(SparkEntry.queries(q)(spark, dir).queryExecution.toRdd.count())
    Queries.warmup(spark, dir)
    names.foreach(force)
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    // job groups keep jobs submitted by other threads out of the count
    def inGroup[T](g: String)(body: => T): T = {
      sc.setJobGroup(g, g)
      try body finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      val runs = for (pass <- 1 to 2; q <- names) yield {
        val before = keys
        Pin.scope {
          val df = inGroup(s"build:$pass:$q")(SparkEntry.queries(q)(spark, dir))
          df.queryExecution.toRdd.count()
        }
        (q, pass, keys -- before)
      }
      // listener delivery is asynchronous but ordered: once the sentinel
      // job's start is seen, every earlier job start has been too
      inGroup("registry-sentinel")(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains("registry-sentinel") &&
          System.nanoTime() < deadline) Thread.sleep(10)
      groups.contains("registry-sentinel") shouldBe true
      val jobs = groups.asScala.groupBy(identity).view.mapValues(_.size).toMap
      runs.map { case (q, pass, added) =>
        Sample(q, pass, added, jobs.getOrElse(s"build:$pass:$q", 0))
      }
    } finally sc.removeSparkListener(listener)
  }

  test("every registry query frees every block it pins when its scope " +
      "exits") {
    // nothing added: the ContextCleaner may still drop unreachable
    // session-owned blocks (a memo build's own checkpoints) meanwhile
    samples.foreach { s =>
      withClue(s"${s.query} pass ${s.pass}: ")(s.added shouldBe empty)
    }
  }

  test("building a registry query submits no more Spark jobs than its " +
      "pinned ceiling") {
    samples.foreach { s =>
      withClue(s"${s.query} pass ${s.pass}: ")(
        s.buildJobs should be <= constructionJobs.getOrElse(s.query, 0))
    }
    // every ceiling still names a registry query
    (constructionJobs.keySet -- SparkEntry.queries.keySet) shouldBe empty
  }
}

object RegistryPinSpec {
  final case class Sample(query: String, pass: Int,
      added: Set[Int], buildJobs: Int)
}
