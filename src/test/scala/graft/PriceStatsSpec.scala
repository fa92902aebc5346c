package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** q_price_stats exactness on hand-built lineitem tables: every flag is
  * one edge case, and the query must match a driver-side reference —
  * sort the non-null values, pos = p·(n−1), interpolate
  * (hi−pos)·v[lo] + (pos−lo)·v[hi] (Spark `Percentile.getPercentile`,
  * DuckDB `quantile_cont`), round to 2 dp.
  */
class PriceStatsSpec extends AnyFunSuite with Matchers with TestSpark {

  /** (flag, price, quantity, partkey, suppkey) */
  private type Line = (String, Option[Double], Option[Double], Option[Long],
    Option[Long])

  private val schema = StructType(Seq(
    StructField("l_returnflag", StringType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_quantity", DoubleType),
    StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType)))

  private def writeLineitem(lines: Seq[Line]): String = {
    val dir = Files.createTempDirectory("graft-price-stats").toString
    val rows = lines.map { case (f, p, q, pk, sk) =>
      Row(f, p.orNull, q.orNull, pk.orNull, sk.orNull)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .write.parquet(s"$dir/lineitem.parquet")
    dir
  }

  private def percentile(vs: Seq[Double], p: Double): Option[Double] =
    if (vs.isEmpty) None else {
      val v = vs.sorted
      val pos = p * (v.size - 1)
      val lo = math.floor(pos).toLong
      val hi = math.ceil(pos).toLong
      val (vl, vh) = (v(lo.toInt), v(hi.toInt))
      Some(if (hi == lo || vl == vh) vl
        else (hi - pos) * vl + (pos - lo) * vh)
    }

  private def round2(d: Option[Double]): Option[Double] =
    d.map(x => BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP)
      .toDouble)

  private def distinctOrNull(ks: Seq[Option[Long]]): Option[Long] = {
    val n = ks.flatten.distinct.size.toLong
    if (n > 0) Some(n) else None
  }

  /** flag -> (p50_price, p95_price, p50_qty, n_parts, n_supps); a flag
    * with no non-null statistic at all has no output row. */
  private def reference(lines: Seq[Line]) =
    lines.groupBy(_._1).toSeq.flatMap { case (f, ls) =>
      val prices = ls.flatMap(_._2)
      val qtys = ls.flatMap(_._3)
      val out = (round2(percentile(prices, 0.5)),
        round2(percentile(prices, 0.95)), round2(percentile(qtys, 0.5)),
        distinctOrNull(ls.map(_._4)), distinctOrNull(ls.map(_._5)))
      val empty = prices.isEmpty && qtys.isEmpty && out._4.isEmpty &&
        out._5.isEmpty
      if (empty) None else Some(f -> out)
    }.sortBy(_._1)

  private def run(dir: String) =
    SparkEntry.queries("q_price_stats")(spark, dir).collect().toSeq.map { r =>
      def d(i: Int) = if (r.isNullAt(i)) None else Some(r.getDouble(i))
      def l(i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
      r.getString(0) -> (d(1), d(2), d(3), l(4), l(5))
    }

  private def line(f: String, p: Double, q: Double, pk: Long = 1L,
      sk: Long = 1L): Line = (f, Some(p), Some(q), Some(pk), Some(sk))

  private val cases: Seq[Line] = Seq(
    // even n: p50 interpolates between two distinct middle values
    line("E", 10.0, 1.0, 1), line("E", 20.5, 4.0, 2), line("E", 31.25, 2.0, 3),
    line("E", 100.0, 8.0, 4),
    // p95 interpolation: pos = 0.95·6 = 5.7 lands between v5 and v6
    line("F", 1.0, 1.0), line("F", 4.0, 1.0), line("F", 9.0, 1.0),
    line("F", 16.0, 2.0), line("F", 25.0, 3.0), line("F", 36.37, 5.0),
    line("F", 49.11, 7.0),
    // ties spanning the target ranks: p50 pos 2.5 sits inside a run of
    // 3.0s; the tie run of 7.0s ends exactly at p95's floor rank
    line("T", 1.0, 2.0), line("T", 3.0, 2.0), line("T", 3.0, 2.0),
    line("T", 3.0, 6.0), line("T", 7.0, 6.0), line("T", 7.0, 6.0),
    line("T", 7.0, 6.0), line("T", 7.0, 6.0), line("T", 7.0, 6.0),
    line("T", 7.0, 6.0), line("T", 7.0, 6.0), line("T", 7.0, 6.0),
    line("T", 7.0, 6.0), line("T", 7.0, 6.0), line("T", 7.0, 6.0),
    line("T", 7.0, 6.0), line("T", 7.0, 6.0), line("T", 7.0, 6.0),
    line("T", 7.0, 6.0), line("T", 12.5, 9.0),
    // a single-row flag
    line("S", 42.42, 3.0, 9, 9),
    // prices all null, quantities set
    ("P", None, Some(5.0), Some(1L), Some(2L)),
    ("P", None, Some(6.5), Some(2L), Some(2L)),
    ("P", None, None, Some(3L), Some(3L)),
    // part keys all null (n_parts reads NULL, not 0)
    ("K", Some(5.0), Some(1.0), None, Some(7L)),
    ("K", Some(6.0), Some(2.0), None, Some(8L)),
    // zero and negative values
    line("Z", -10.25, 0.0), line("Z", 0.0, -2.0), line("Z", 0.0, 0.0),
    line("Z", 3.5, -1.0), line("Z", -1.0, 4.0), line("Z", -0.75, 0.0),
    // no non-null statistic at all: the flag has no output row
    ("N", None, None, None, None))

  test("exact interpolated percentiles match the driver reference on edge cases") {
    val dir = writeLineitem(cases)
    val got = run(dir)
    got shouldBe reference(cases)
    // the cases above pin the edges they name
    val byFlag = got.toMap
    byFlag("E")._1 shouldBe Some(25.88)  // (20.5 + 31.25) / 2, rounded
    byFlag("P")._1 shouldBe None
    byFlag("P")._3 shouldBe Some(5.75)
    byFlag("K")._4 shouldBe None
    byFlag("K")._5 shouldBe Some(2L)
    byFlag.contains("N") shouldBe false
  }

  test("randomized tables with heavy ties match the driver reference") {
    val rnd = new scala.util.Random(12)
    val lines: Seq[Line] = (0 until 2000).map { _ =>
      val f = Seq("A", "B", "C")(rnd.nextInt(3))
      // few distinct cent-quantized values: every target rank hits a tie
      val p = if (rnd.nextInt(20) == 0) None
        else Some((rnd.nextInt(400) - 50) / 4.0)
      val q = if (rnd.nextInt(20) == 0) None else Some(rnd.nextInt(7).toDouble)
      (f, p, q, Some(rnd.nextInt(300).toLong), Some(rnd.nextInt(40).toLong))
    }
    run(writeLineitem(lines)) shouldBe reference(lines)
  }

  test("building the query submits no Spark job and plans no RDD leaf") {
    val dir = writeLineitem(cases)
    // the table handle (and its parquet schema read) is session-scoped,
    // resolved before the query is built
    Tables.load(spark, dir, "lineitem")
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    val sc = spark.sparkContext
    // job groups keep jobs submitted by other threads out of the count
    def inGroup[T](g: String)(body: => T): T = {
      sc.setJobGroup(g, g)
      try body finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      val df = inGroup("price-stats-build") {
        SparkEntry.queries("q_price_stats")(spark, dir)
      }
      // listener delivery is asynchronous but ordered: once the sentinel
      // job's start is seen, every earlier job start has been too
      inGroup("price-stats-sentinel")(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains("price-stats-sentinel") &&
          System.nanoTime() < deadline) Thread.sleep(10)
      groups.contains("price-stats-sentinel") shouldBe true
      groups.toArray.count(_ == "price-stats-build") shouldBe 0
      df.queryExecution.analyzed.collectLeaves()
        .collect { case l: LogicalRDD => l } shouldBe empty
    } finally sc.removeSparkListener(listener)
  }
}
