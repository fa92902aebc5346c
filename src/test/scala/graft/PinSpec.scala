package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.ops.ImageDedup
import graft.streaming.{BatchSink, StreamMediaDedup, UpsertSink}

/** [[Pin]]'s ownership rules: a scope frees what was pinned in it on any
  * exit; outside a scope a pin is the bare call; a scope never frees a
  * pin it does not own (an already-cached plan, another scope's build, a
  * pin made on another thread).
  */
class PinSpec extends AnyFunSuite with Matchers with TestSpark {

  private def keys: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def frame(tag: Long): DataFrame =
    spark.range(0, 200, 1, 2).toDF("x").withColumn("y", col("x") * tag)

  private def cached(df: DataFrame): Boolean =
    df.storageLevel != StorageLevel.NONE

  private def checkpointRdd(df: DataFrame): Int =
    df.queryExecution.logical.asInstanceOf[LogicalRDD].rdd.id

  test("a scope frees its cache and checkpoint frames on exit, normally " +
      "or by exception") {
    val before = keys
    var c: DataFrame = null
    var k = -1
    Pin.scope {
      c = Pin.cache(frame(3))
      c.count()
      val ck = Pin.checkpoint(frame(5), eager = true)
      k = checkpointRdd(ck)
      keys should contain(k)
      cached(c) shouldBe true
    }
    cached(c) shouldBe false
    keys should not contain k
    (keys -- before) shouldBe empty

    an[IllegalStateException] should be thrownBy Pin.scope {
      c = Pin.cache(frame(7))
      c.count()
      k = checkpointRdd(Pin.checkpoint(frame(11), eager = true))
      throw new IllegalStateException("batch failed")
    }
    cached(c) shouldBe false
    keys should not contain k
    (keys -- before) shouldBe empty
  }

  test("release frees one frame early, and the scope does not own it " +
      "any more") {
    Pin.scope {
      val a = Pin.checkpoint(frame(13), eager = true)
      val b = Pin.cache(frame(17))
      b.count()
      Pin.release(a)
      keys should not contain checkpointRdd(a)
      cached(b) shouldBe true
    }
  }

  test("outside any scope a pin is the bare call and is kept") {
    val c = Pin.cache(frame(19))
    val ck = Pin.checkpoint(frame(23), eager = true)
    Pin.scope(()) // a later scope does not claim them either
    try {
      cached(c) shouldBe true
      keys should contain(checkpointRdd(ck))
    } finally { Pin.release(c); Pin.release(ck) }
    cached(c) shouldBe false
    keys should not contain checkpointRdd(ck)
  }

  test("a scope frees no pin it does not own: an already-cached plan, " +
      "another scope's build, a thread started inside it") {
    val outer = Pin.cache(frame(29))
    val session = new Pin.Scope
    var memo: DataFrame = null
    var fromThread: DataFrame = null
    try {
      Pin.scope {
        Pin.cache(frame(29)).count()
        memo = session(Pin.cache(frame(31)))
        val t = new Thread(() => fromThread = Pin.cache(frame(37)))
        t.start()
        t.join()
      }
      cached(outer) shouldBe true
      cached(memo) shouldBe true
      cached(fromThread) shouldBe true
      session.close()
      cached(memo) shouldBe false
    } finally Seq(outer, fromThread).foreach(Pin.release)
  }

  test("a session memo built inside a query scope outlives the query " +
      "and goes with Queries.clear") {
    Queries.clear()
    val before = keys
    Pin.scope(SparkEntry.queries("q_clean_docs")(spark,
      "/root/testdata/sf0.001").queryExecution.toRdd.count())
    val memo = keys -- before
    memo should not be empty
    Queries.clear()
    (keys intersect memo) shouldBe empty
  }

  test("a standing-index batch whose verdict sink throws frees every " +
      "frame it pinned, and its replay succeeds") {
    val n = 12
    val t0 = new Timestamp(1700000000000L)
    val verdicts = new UpsertSink("media_key")
    // materializes the verdicts, so every per-batch frame holds blocks,
    // then fails the first write only
    val flaky = new BatchSink {
      @volatile var failed = false
      def write(df: DataFrame, batchId: Long): Unit = {
        df.count()
        if (!failed) {
          failed = true
          throw new java.io.IOException("sink unavailable")
        }
        verdicts.write(df, batchId)
      }
    }
    val leg = StreamMediaDedup.image(flaky,
      ImageDedup.hashRows(ImageDedup.imageTable(spark, n)),
      java.nio.file.Files.createTempDirectory("pin-ix").toString)
    try {
      val batch = ImageDedup.incrementTable(spark, n).withColumn("ts", lit(t0))
      // nothing added (the ContextCleaner may drop unrelated unreachable
      // blocks meanwhile, so the set may shrink)
      val before = keys
      an[java.io.IOException] should be thrownBy leg.processBatch(batch, 0L)
      (keys -- before) shouldBe empty
      leg.processBatch(batch, 0L)
      (keys -- before) shouldBe empty
      verdicts.size should be > 0
    } finally leg.close()
  }
}
