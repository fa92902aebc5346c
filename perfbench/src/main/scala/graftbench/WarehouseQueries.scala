package graftbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Queries, SparkEntry}

/** `warehouse_queries`: one client runs a fixed slice of
  * `SparkEntry.queries` over the generated warehouse corpus in a closed
  * loop, in an order shuffled by the seed.
  *
  * After `Queries.warmup` (set-up), an untimed pass computes every query's
  * row count and order-insensitive content hash and checks them against
  * the pins, and a second untimed pass warms the JIT. Timed queries follow
  * until the run's seconds are spent (at least two full passes); each
  * forces the compiled plan with
  * `queryExecution.toRdd.count()`, as graft.Bench does, and checks the row
  * count again.
  */
object WarehouseQueries {

  /** The measured slice: both shuffle-chain leaders of the registry's
    * profile (q_price_stats; q_ccnet_buckets, which also localCheckpoints
    * its bigram table), the other localCheckpoint user (q_keyterms),
    * consumers of the annotated-docs and MinHash-signature memos, and
    * short relational/window queries where planning and per-stage
    * overhead dominate. The whole registry (100 queries, ~50 s a pass on
    * 4 cores) does not fit one run. */
  val Slice: Seq[String] = Seq(
    "q_price_stats", "q_ccnet_buckets", "q_keyterms", "q_asof_purchase",
    "q_clean_docs", "q_jaccard_pairs", "q_rolling_spend", "q_top_quality")

  final case class Pin(rows: Long, hash: String)

  def readPins(p: Path): Map[String, Pin] =
    Files.readAllLines(p).asScala.map(_.trim).filter(_.nonEmpty)
      .filterNot(_.startsWith("#")).map { l =>
        val Array(q, rows, hash) = l.split("\\s+")
        q -> Pin(rows.toLong, hash)
      }.toMap

  /** Row count and an order-insensitive hash of the rows' JSON form. */
  def contentPin(df: DataFrame): Pin = {
    val cols = df.columns.toSeq.map(c => col(s"`$c`"))
    val r = df.select(xxhash64(to_json(struct(cols: _*))).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
      .head()
    Pin(r.getLong(0), String.valueOf(r.get(1)))
  }

  def run(c: Ctx): Outcome = {
    val out = new Outcome
    val spark = c.spark
    val sc = spark.sparkContext
    val dir = c.data.toString
    val t = c.tracer
    val registry = SparkEntry.queries

    // set-up runs SetupReps times (memos dropped in between) and reports
    // the median, so one slow start does not decide setup_s
    val warmups = (0 until Main.SetupReps).map { i =>
      if (i > 0) Queries.clear()
      val w0 = System.nanoTime()
      t.span("setup.warmup")(Queries.warmup(spark, dir))
      Stats.seconds(w0)
    }
    out.setupS = Stats.median(warmups)
    out.layers("setup.warmup_s") = out.setupS
    out.details("setup_warmup_s") = warmups

    val rng = new scala.util.Random(c.seed)
    val pins = readPins(c.pins)
    val found = scala.collection.mutable.LinkedHashMap[String, Pin]()
    for (q <- rng.shuffle(Slice)) {
      try {
        val got = contentPin(registry(q)(spark, dir))
        found(q) = got
        out.check(q, pins.get(q).contains(got),
          s"content ${got.rows} rows ${got.hash}, pinned ${pins.get(q)}")
      } catch { case e: Exception => out.check(q, ok = false, e.toString) }
    }
    // in the pins file's format, so re-pinning after an intended change
    // (once tools/check_oracle.py passes) is copying these lines
    out.details("content") = found.toSeq.sortBy(_._1)
      .map { case (q, p) => s"$q ${p.rows} ${p.hash}" }
    // a second untimed pass: one pass leaves the JIT still compiling the
    // query paths, and the first timed pass then runs measurably slower
    for (q <- rng.shuffle(Slice))
      try registry(q)(spark, dir).queryExecution.toRdd.count()
      catch { case e: Exception => out.check(q, ok = false, e.toString) }

    val samples = scala.collection.mutable.LinkedHashMap[String, Vector[Double]](
      Slice.map(_ -> Vector.empty[Double]): _*)
    val buckets = scala.collection.mutable.ArrayBuffer[String]()
    val pinnedMb = scala.collection.mutable.ArrayBuffer[Double]()
    val pinnedRdds = scala.collection.mutable.ArrayBuffer[Double]()
    val deadline = System.nanoTime() + (c.seconds * 1e9).toLong
    var pass = 0
    // the deadline is checked before each query, so the window overruns
    // the run's seconds by one query, not by up to a whole pass
    def open = pass < 2 || System.nanoTime() < deadline
    while (open) {
      for (q <- rng.shuffle(Slice) if open) {
        val group = s"${StageCounters.GroupPrefix}$q#$pass"
        buckets += group
        sc.setJobGroup(group, q, interruptOnCancel = false)
        val q0 = System.nanoTime()
        try {
          val rows = t.span("query") {
            if (!c.traced) registry(q)(spark, dir).queryExecution.toRdd.count()
            else {
              val df = t.span("plan.build")(registry(q)(spark, dir))
              val qe = df.queryExecution
              t.span("plan.analyze")(qe.analyzed)
              t.span("plan.optimize")(qe.optimizedPlan)
              t.span("plan.physical")(qe.executedPlan)
              t.span("exec")(qe.toRdd.count())
            }
          }
          val sec = Stats.seconds(q0)
          samples(q) :+= sec
          out.check(q, pins.get(q).exists(_.rows == rows),
            s"$rows rows, pinned ${pins.get(q).map(_.rows)}")
        } catch { case e: Exception => out.check(q, ok = false, e.toString) }
        finally sc.clearJobGroup()
        if (c.traced) {
          val infos = sc.getRDDStorageInfo
          pinnedMb += infos.map(i => i.memSize + i.diskSize).sum / 1048576.0
          pinnedRdds += infos.length.toDouble
        }
      }
      pass += 1
    }

    out.metrics("retained_heap_mb") = Stats.retainedHeapMb
    val timed = samples.filter(_._2.nonEmpty)
    val med = timed.map { case (q, xs) => q -> Stats.median(xs) }
    val runs = timed.values.map(_.size).sum
    out.ops = runs
    if (med.nonEmpty) {
      // the geometric mean weighs every query alike and, unlike the median
      // of eight, does not jump when the middle query changes
      out.metrics("latency_s") =
        math.exp(Stats.mean(med.values.map(math.log).toSeq))
      out.metrics("throughput_per_s") = med.size / med.values.sum
      val halves = timed.values.filter(_.size >= 2).toSeq.map { xs =>
        val h = xs.size / 2
        (Stats.median(xs.take(h)), Stats.median(xs.drop(xs.size - h)))
      }
      out.metrics("slowdown_ratio") = halves.map(_._2).sum / halves.map(_._1).sum
    }
    out.details("passes") = pass
    out.details("pass_s") = (0 until pass).map(i =>
      timed.values.flatMap(_.lift(i)).sum)
    out.details("query_total_s") = med.values.sum
    out.details("query_median_s") = med.toMap
    if (c.traced) {
      def per(name: String) = t.seconds(name).sum / math.max(runs, 1)
      out.layers("plan.build_s") = per("plan.build")
      out.layers("plan.analyze_s") = per("plan.analyze")
      out.layers("plan.optimize_s") = per("plan.optimize")
      out.layers("plan.physical_s") = per("plan.physical")
      out.layers("exec_s") = per("exec")
      out.layers ++= c.counters.perOp(buckets, runs)
      out.layers("store.pinned_mb_after") = Stats.mean(pinnedMb.toSeq)
      out.layers("store.pinned_rdds_after") = Stats.mean(pinnedRdds.toSeq)
    }
    out
  }
}
