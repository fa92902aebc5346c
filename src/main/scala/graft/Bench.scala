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
    // operator without paying the full registry sweep (driver never sets it)
    val names = SparkEntry.selected(sys.env.get("SPARK_GRAFT_ONLY"))
    val spark = Sessions.builder(Sessions.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
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
    names.foreach { name =>
      try Pin.scope(force(SparkEntry.queries(name)(spark, sfDir)))
      catch { case _: Throwable => () }
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
    // one Pin scope per query: its blocks are freed when it ends, so no
    // query runs under the dead blocks of the ones before it
    for (pass <- 1 to nPasses; name <- names) {
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      try {
        Pin.scope(force(fn(spark, sfDir)))
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
    // overridden-config runs are stamped (r13): absent under default
    // config (the driver never sets SPARK_GRAFT_CONF), so driver output
    // is unchanged; an A/B run's line is mechanically identifiable
    val confStamp = Sessions.envOverrides
      .map(s => s""","conf_env":${jstr(s.replaceAll("[\"\\\\]", " "))}""")
      .getOrElse("")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"dispersion":$disp,"passes":$nPasses,"warmup_sec":$warmupSec,"warm_pass_sec":$warmPassSec,"cores":${Sessions.cpus},"mem_gb":${r2(Runtime.getRuntime.maxMemory.toDouble / (1L << 30))},"errors":$errJson,"n_failed":$nFailed$confStamp,"sf":"$sfDir"}"""
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
