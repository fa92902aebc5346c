package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.ops.{Clean, Reviews}
import graft.streaming.{Monitor, Streams, Warehouse}

/** S12 sort-on-write warehouse layout, S13 RocksDB state store, T8
  * monitoring listener.
  */
class WarehouseSpec extends AnyFunSuite with Matchers with TestSpark {

  test("warehouse write clusters by business_id and sorts date DESC within") {
    val cleaned = Clean.cleaned(Clean.annotate(Reviews.docsAsReviews(
      Tables.load(spark, "/root/testdata/sf0.001", "documents"))))
    val path = Files.createTempDirectory("graft-wh").toString + "/cleaned"
    Warehouse.write(cleaned, path, numPartitions = Some(4))
    val back = Warehouse.read(spark, path)
    back.count() shouldBe cleaned.count()
    // within each file, rows are sorted by (business_id, date desc)
    import org.apache.spark.sql.functions._
    val files = back.withColumn("f", input_file_name())
      .select("f", "business_id", "date").collect()
      .groupBy(_.getString(0))
    files.foreach { case (_, rows) =>
      val keys = rows.map(r => (r.getString(1),
        -r.getTimestamp(2).getTime))
      keys.toSeq shouldBe keys.toSeq.sorted
    }
  }

  test("bucketed tables co-locate the join: no shuffle exchange") {
    import org.apache.spark.sql.functions.col
    val orders = Tables.load(spark, "/root/testdata/sf0.001", "orders")
    val lineitem = Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("b_orders")
    lineitem.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("b_lineitem")
    try {
      val j = spark.table("b_lineitem")
        .join(spark.table("b_orders"),
          col("l_orderkey") === col("o_orderkey"))
      // bucketing IS the shuffle, done once at write time — the join plan
      // must carry no exchange (the 100 TB co-located-join technique)
      val plan = j.queryExecution.executedPlan.toString
      plan should not include "Exchange hashpartitioning"
      j.count() shouldBe lineitem.count()
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("streaming dedup runs on the RocksDB state store provider") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    spark.conf.set(Monitor.RocksDbConf._1, Monitor.RocksDbConf._2)
    try {
      val in = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[graft.schema.RawReview]
      val q = Streams.dedupTagged(in.toDF()).filter(!col("_dup")).writeStream
        .format("memory").queryName("rocks_out").outputMode("append").start()
      try {
        val ts = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
        val r = graft.schema.RawReview("r1", "b", "u", Some(4.0),
          "this is the fine text", ts, None, None, None, "t")
        in.addData(r, r, r.copy(review_id = "r2"))
        q.processAllAvailable()
        spark.table("rocks_out").count() shouldBe 2
      } finally q.stop()
    } finally spark.conf.unset(Monitor.RocksDbConf._1)
  }

  test("monitor listener observes progress") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val m = Monitor.attach(spark)
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Int]
    val q = in.toDF().writeStream.format("memory")
      .queryName("mon_out").outputMode("append").start()
    try {
      in.addData(1, 2, 3)
      q.processAllAvailable()
      // listener events arrive via an async bus with BOUNDED queues — under
      // full-suite load an individual event can be dropped outright, so
      // keep feeding batches until delivery instead of waiting on one event
      val deadline = System.currentTimeMillis() + 30000
      while (m.rows.get() < 3 && System.currentTimeMillis() < deadline) {
        in.addData(4)
        q.processAllAvailable()
        Thread.sleep(100)
      }
      // >= : the async listener bus may also deliver a late progress event
      // from a previously-stopped query in this shared session
      m.rows.get() should be >= 3L
      m.batches.get() should be >= 1L
      m.lastProgressJson.get() should include("numInputRows")
    } finally {
      q.stop(); spark.streams.removeListener(m)
    }
  }
}
