package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CyclicBarrier}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The session memo's cell rule under concurrency, and its one clear.
  *
  * Four registry queries whose builds nest memo reads inside memo builds
  * (cluster labels over candidate pairs over signatures; PQ codes over
  * codebooks beside the IVF centroids; the standing subgram index over
  * the positional gram frame; the video index) are built from four
  * threads at once, beside `Queries.warmup`, which reads the same families
  * from their roots. Each durable index is built, loaded or merged exactly
  * as often as in a single-threaded run from an equally cold store, so no
  * memo key is built twice.
  */
class SessionMemoSpec extends AnyFunSuite with Matchers with TestSpark {

  private val dir = "/root/testdata/sf0.001"
  private val queries = Seq("q_dedup_keep_best", "q_knn_ivfpq",
    "q_substring_dedup_incr", "q_video_dups_incr")

  private def storeOps: Long =
    IndexStore.builds.get + IndexStore.loads.get + IndexStore.merges.get

  /** `body`'s IndexStore operation count, from a cleared memo and an
    * empty store root.
    */
  private def coldStoreOps(body: => Unit): Long = {
    val root = java.nio.file.Files.createTempDirectory("graft-memo").toString
    IndexStore.rootOverride = Some(root)
    Queries.clear()
    try {
      val before = storeOps
      body
      storeOps - before
    } finally { IndexStore.rootOverride = None; Queries.clear() }
  }

  private def build(q: String): Long =
    Pin.scope(SparkEntry.queries(q)(spark, dir).queryExecution.toRdd.count())

  test("concurrent readers of nested memos build every key once") {
    val sequential = coldStoreOps {
      Queries.warmup(spark, dir)
      queries.foreach(build)
    }
    val failures = new ConcurrentLinkedQueue[Throwable]()
    val concurrent = coldStoreOps {
      val calls = (() => Queries.warmup(spark, dir)) +:
        queries.map(q => () => { build(q); () })
      val start = new CyclicBarrier(calls.size)
      val threads = calls.map { call =>
        val t = new Thread(() =>
          try { start.await(); call() }
          catch { case e: Throwable => failures.add(e) })
        t.start(); t
      }
      threads.foreach(_.join())
      // every key is now a memo hit: reading them again touches no store
      val settled = storeOps
      queries.foreach(build)
      storeOps shouldBe settled
    }
    failures.asScala.toList shouldBe empty
    sequential should be > 0L
    concurrent shouldBe sequential
  }

  test("one Queries.clear drops the table handles and the pinned frames") {
    val sc = spark.sparkContext
    def keys = sc.getPersistentRDDs.keySet.toSet
    Queries.clear()
    val handle = Tables.load(spark, dir, "documents")
    Tables.load(spark, dir, "documents") should be theSameInstanceAs handle
    val before = keys
    build("q_clean_docs")
    val pinned = keys -- before
    pinned should not be empty
    Queries.clear()
    (keys intersect pinned) shouldBe empty
    (Tables.load(spark, dir, "documents") eq handle) shouldBe false
    Queries.clear()
  }
}
