package graft
import java.nio.file.{Files, Paths}
/** Benchmark main: times every registry query at SPARK_GRAFT_SF_DIR and
  * emits ONE JSON metric line on stdout (unprefixed — build.sbt sets
  * run/outputStrategy := StdoutOutput) plus a copy at bench_out.json for
  * out-of-band pickup. Failed queries are NOT silently folded into the
  * total: they report a sentinel time of -1 and land in an "errors" map.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional comma-separated query subset, for local iteration on one
    // operator without paying the full 48-query sweep (driver never sets it)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val spark = Sessions.builder(Sessions.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // --- cross-boot calibration probes (SCALING.md §r7 methodology) ---
    // Boot-to-boot variance on identical code measured 20-50% (dominant
    // co-load / CPU-steal noise), which forbade cross-boot comparisons.
    // Two fixed probes at bench start price THIS boot: a pure-CPU probe
    // (codegen'd xxhash64 fold over spark.range — 32-thread arithmetic,
    // no I/O) and a pure-scan probe (column sum over a FIXED parquet
    // input, independent of the bench SF so probe cost never scales with
    // the sweep under measurement). Each runs twice, min taken (first
    // run eats JIT). normalized_total = total * (ref_cpu + ref_scan) /
    // (probe_cpu + probe_scan), with refs pinned from the boot that
    // measured them — cross-boot comparisons quote normalized totals,
    // same-boot comparisons keep using raw ones.
    import org.apache.spark.sql.functions.{col, sum, xxhash64}
    def timed(f: => Unit): Double = {
      val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9
    }
    def probe2(f: => Unit): Double = math.min(timed(f), timed(f))
    val probeCpuSec = probe2 {
      // % bounds the summand so the 1.5e9-row ANSI sum cannot overflow
      spark.range(0L, 1500000000L, 1L, 32)
        .select(sum(xxhash64(col("id")) % 1000000L)).collect()
    }
    val probeScanDir = "/root/testdata/sf0.01"
    val probeScanSec = probe2 {
      val li = spark.read.parquet(s"$probeScanDir/lineitem.parquet")
      li.select(sum(col("l_extendedprice") * col("l_quantity"))).collect()
      ()
    }
    // pinned on the 2026-08-15 boot that introduced the probes
    val RefCpu = 0.66
    val RefScan = 0.29
    // cache-build cost is its own line item, not noise attributed to the
    // first query that happens to touch a shared memoized subplan
    val w0 = System.nanoTime()
    Queries.warmup(spark, sfDir)
    val warmupSec = (System.nanoTime() - w0) / 1e9
    // one untimed pass over every query: a fresh JVM otherwise charges
    // JIT + codegen to whichever queries run first (measured: the same
    // query 3.97 s cold vs 0.72 s warm), making per-query times reflect
    // alphabetical position instead of plan cost. Disclosed as its own
    // field; the timed pass below is steady-state.
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // Execute the COMPILED physical plan, not Dataset.count(): count()
    // re-optimizes the logical plan under a count aggregate, and Catalyst
    // legitimately deletes work a consumer wouldn't need — e.g. a final
    // enrich-by-left-join against a unique-keyed aggregate folds to a
    // count over the parquet scan, so q_lm_score "cost" 0.14 s while
    // materializing its rows costs ~30x that. The driver's correctness
    // path (Verify) writes full parquet; the bench must price the same
    // full-result contract. toRdd counts InternalRows per partition —
    // full plan (joins, aggs, output sort), no driver data transfer.
    def force(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.toRdd.count()
    val p0 = System.nanoTime()
    selected.foreach { case (_, fn) =>
      try force(fn(spark, sfDir)) catch { case _: Throwable => () }
    }
    val warmPassSec = (System.nanoTime() - p0) / 1e9
    // 3 timed passes per query, report the per-query MEDIAN: a single
    // timed pass is noise-fragile on a co-loaded box (round-3 driver run
    // showed phantom 3-9x "regressions" — q_business_stats 1.97 s vs
    // 0.24 s on a same-commit re-run). Median of 3 rejects one outlier
    // pass outright; min/max are kept as dispersion evidence. Passes are
    // interleaved query-major (pass loop outside) so a transient box-wide
    // stall hits one pass of many queries, not all passes of one query.
    // env-overridable for the big-SF sweeps (sf10 × 3 passes is hours;
    // a single steady-state pass after the warm pass is the standard
    // one-boot slope evidence there). The driver never sets it.
    val nPasses = sys.env.get("SPARK_GRAFT_PASSES").map(_.toInt).getOrElse(3)
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val names = selected.map(_._1)
    // each sample carries provenance: (duration, pass index, start offset
    // since the timed phase began) — so a dispersion outlier can be
    // checked for co-occurrence with other queries' outliers in the SAME
    // pass/time window (a box-wide stall) instead of being inferred
    // (round-5 adjudication of the 39.6 s q_dedup_clusters max needed
    // exactly this field)
    final case class Sample(sec: Double, pass: Int, at: Double)
    val samples = scala.collection.mutable.LinkedHashMap[String, Vector[Sample]](
      names.map(_ -> Vector.empty[Sample]): _*)
    val timed0 = System.nanoTime()
    // surface dead cached blocks to the ContextCleaner every ~30 queries
    // (still outside any individual query's timing window):
    // localCheckpoint blocks from completed plans are unreachable once
    // their DataFrames drop out of scope, but with a near-idle large heap
    // the driver may not GC for many minutes, so the blocks linger in the
    // storage pool and queries contaminate each other (measured at sf3:
    // q_ccnet_buckets 51.7 -> 81.6 -> 120.0 s across passes in the full
    // sweep vs flat 38 s standalone).
    // TWO gc cycles with a real drain window: block cleanup is async —
    // the first gc enqueues the dead RDDs' weak references, the
    // ContextCleaner thread then issues unpersist/removeBlock RPCs, and
    // a second gc catches objects freed by the first wave; 200 ms was
    // too short for the RPCs to land (sf3 full sweep still grew
    // 55 -> 78 s on q_ccnet_buckets across passes)
    def reclaim(): Unit = {
      System.gc(); Thread.sleep(700)
      System.gc(); Thread.sleep(700)
    }
    // reclaim every ~30 queries, not only at pass boundaries: one pass
    // of 91 queries itself generates tens of GB of dead checkpoint
    // blocks at sf3+, so queries late in the alphabet otherwise run
    // under pressure the early ones never saw
    val reclaimEvery = 30
    for (pass <- 1 to nPasses; (name, qi) <- names.zipWithIndex) {
      if (qi % reclaimEvery == 0) reclaim()
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      try {
        force(fn(spark, sfDir))
        samples(name) :+= Sample((System.nanoTime() - t0) / 1e9, pass,
          (t0 - timed0) / 1e9)
      }
      catch { case e: Throwable =>
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
          .replaceAll("[\"\\\\\\n\\r\\t]", " ").take(200)
      }
    }
    def median(v: Vector[Sample]): Double =
      if (v.isEmpty) -1.0 else v.map(_.sec).sorted.apply(v.size / 2)
    val results = names.map(n => n -> median(samples(n)))
    def jstr(s: String) = "\"" + s + "\""
    val qs = results.map { case (k, v) => jstr(k) + ":" + v }
      .mkString("{", ",", "}")
    def r2(d: Double) = math.round(d * 100) / 100.0
    val disp = names.map { n =>
      val v = samples(n)
      if (v.isEmpty)
        jstr(n) + ":{\"min\":-1.0,\"max\":-1.0,\"n\":0}"
      else {
        val mn = v.minBy(_.sec)
        val mx = v.maxBy(_.sec)
        jstr(n) + ":{\"min\":" + mn.sec + ",\"max\":" + mx.sec +
          ",\"n\":" + v.size +
          ",\"min_pass\":" + mn.pass + ",\"max_pass\":" + mx.pass +
          ",\"min_at\":" + r2(mn.at) + ",\"max_at\":" + r2(mx.at) + "}"
      }
    }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => jstr(k) + ":" + jstr(v) }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum + warmupSec
    // a query is failed only if NO pass succeeded; a transient single-pass
    // error still lands in "errors" for visibility but keeps its median
    val nFailed = names.count(n => samples(n).isEmpty)
    val normalizedTotal =
      total * (RefCpu + RefScan) / (probeCpuSec + probeScanSec)
    // overridden-config runs are stamped (r13): absent under default
    // config (the driver never sets SPARK_GRAFT_CONF), so driver output
    // is unchanged; an A/B run's line is mechanically identifiable
    val confStamp = Sessions.envOverrides
      .map(s => s""","conf_env":${jstr(s.replaceAll("[\"\\\\]", " "))}""")
      .getOrElse("")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"dispersion":$disp,"passes":$nPasses,"warmup_sec":$warmupSec,"warm_pass_sec":$warmPassSec,"probe_cpu_sec":${r2(probeCpuSec)},"probe_scan_sec":${r2(probeScanSec)},"normalized_total":${r2(normalizedTotal)},"errors":$errJson,"n_failed":$nFailed$confStamp,"sf":"$sfDir"}"""
    Files.writeString(Paths.get("bench_out.json"), line)
    // pin the FULL per-query map per run: BENCH_r0N.json keeps only a
    // truncated tail, so round-over-round per-query regressions were
    // tail-parsed instead of diffed. Every run (driver's included)
    // appends its complete line here, stamped with wall time + commit,
    // making history mechanically diffable (jq '.queries.q_x').
    try {
      val sha =
        try {
          val p = new ProcessBuilder("git", "rev-parse", "--short", "HEAD")
            .redirectErrorStream(true).start()
          val out = new String(p.getInputStream.readAllBytes()).trim
          if (p.waitFor() == 0) out else "unknown"
        } catch { case _: Exception => "unknown" }
      val stamped = line.dropRight(1) +
        s""","ts":"${java.time.Instant.now()}","commit":"$sha"}"""
      Files.writeString(Paths.get("bench_history.jsonl"), stamped + "\n",
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    } catch { case _: Exception => () } // history is best-effort
    println(line)
    Queries.clear()
    spark.stop()
  }
}
