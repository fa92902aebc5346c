package graftbench

import java.nio.file.{Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.Sessions

/** Everything a workload run needs: its arguments, the shared probes and
  * the session. */
final case class Ctx(
    seed: Long,
    seconds: Double,
    work: Path,
    data: Path,
    pins: Path,
    spark: SparkSession,
    tracer: Tracer,
    counters: StageCounters) {
  def traced: Boolean = tracer.enabled
}

/** What a workload run measured and checked. `metrics` are the
  * end-to-end metrics, `layers` the per-layer ones; `setupS` is the
  * workload's share of set-up after the session exists. Each workload
  * sets `retained_heap_mb` when its measured window ends. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  var ops = 0
  var setupS = 0.0
  val metrics = mutable.LinkedHashMap[String, Double]()
  val layers = mutable.LinkedHashMap[String, Double]()
  val details = mutable.LinkedHashMap[String, Any]()
  val failures = mutable.ArrayBuffer[String]()

  /** Record one checked operation; a wrong output counts as a failure. */
  def check(what: String, ok: Boolean, detail: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      if (failures.size < 20) failures += s"$what: $detail"
    }
  }
}

/** JVM side of the benchmark: one workload run per JVM.
  *
  * Usage: graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --work DIR --data DIR --pins FILE --cpus N
  *
  * Prints one line `GRAFTBENCH {json}` with the measured metrics, the
  * output checks and the run's stamp; perfbench/run.py turns it into the
  * benchmark's result line.
  */
object Main {
  /** How many times a workload repeats its set-up; setup_s is the median. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work"))
    val cpus = opt("cpus").toInt
    System.setProperty("derby.stream.error.file",
      work.resolve("derby.log").toString)

    val tracer = new Tracer(traced, s"$workload-$seed")
    val t0 = System.nanoTime()
    val spark = tracer.span("setup.session")(session(workload, cpus, work))
    val sessionS = Stats.seconds(t0)
    spark.sparkContext.setLogLevel("ERROR")
    val counters = new StageCounters(tracer)
    spark.sparkContext.addSparkListener(counters)

    val ctx = Ctx(seed, opt("seconds").toDouble, work,
      Paths.get(opt("data")), Paths.get(opt("pins")), spark, tracer,
      counters)
    val out = workload match {
      case "warehouse_queries" => WarehouseQueries.run(ctx)
      case "review_etl" => ReviewEtl.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    out.metrics("setup_s") = sessionS + out.setupS
    out.layers("peak_rss_mb") = Stats.peakRssMb
    out.layers("setup.session_s") = sessionS
    out.layers("trace.overhead_s") =
      tracer.overheadSeconds / math.max(out.ops, 1)
    if (traced) tracer.write(work.resolve("spans.jsonl"))

    val stamp = Map(
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "jdk" -> System.getProperty("java.version"),
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"))
    val self = if (traced) tracer.selfSeconds else Map.empty[String, Double]
    println("GRAFTBENCH " + Json.write(Map(
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "failures" -> out.failures.toSeq,
      "metrics" -> out.metrics.toMap,
      "layers" -> out.layers.toMap,
      "details" -> out.details.toMap,
      "self_s" -> self,
      "stamp" -> stamp)))
    spark.stop()
  }

  /** The benchmark's explicit session: local[cpus] with the engine's own
    * settings from Sessions, scratch kept in the run's work directory, and
    * RocksDB state for the stateful review stream. */
  private def session(workload: String, cpus: Int, work: Path)
      : SparkSession = {
    val b = Sessions.builder(cpus.toString)
      .appName(s"graftbench-$workload")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    if (workload == "review_etl") {
      graft.streaming.Monitor.RocksDbScaleConf.foreach { case (k, v) =>
        b.config(k, v)
      }
      b.config("spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB",
        "256")
    }
    b.getOrCreate()
  }
}
