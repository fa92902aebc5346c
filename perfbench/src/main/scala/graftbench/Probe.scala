package graftbench

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{ObjectMapper, SerializationFeature}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame

import graft.streaming.BatchSink

/** One timed interval of a traced run, in wall-clock nanoseconds. */
final case class Span(id: Int, name: String, start: Long, end: Long,
    parent: Int, run: String) {
  def seconds: Double = (end - start) / 1e9
}

/** Times a [[BatchSink]]'s writes from outside (traced runs only). */
final class TimedSink(inner: BatchSink, calls: ConcurrentLinkedQueue[(Long, Long)])
    extends BatchSink {
  def write(df: DataFrame, batchId: Long): Unit = {
    val t0 = System.currentTimeMillis()
    try inner.write(df, batchId)
    finally calls.add((t0, System.currentTimeMillis()))
  }
}

/** In-memory span recorder. Spans nest per thread (the innermost open span
  * is the parent of the next). Disabled, `span` only runs its body, so an
  * untraced run pays nothing. The spans are written out when the run ends.
  */
final class Tracer(val enabled: Boolean, run: String) {
  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicInteger
  private val open = ThreadLocal.withInitial[List[Int]](() => Nil)
  private val overheadNs = new AtomicLong

  // epoch nanoseconds on a monotonic clock, so spans line up with the
  // epoch-millisecond times Spark's progress events carry
  private val wallBase = System.currentTimeMillis() * 1000000L
  private val nanoBase = System.nanoTime()
  private def wall: Long = wallBase + (System.nanoTime() - nanoBase)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val b0 = System.nanoTime()
      val id = ids.getAndIncrement()
      val parent = open.get.headOption.getOrElse(-1)
      open.set(id :: open.get)
      val t0 = wall
      overheadNs.addAndGet(System.nanoTime() - b0)
      try body
      finally {
        val t1 = wall
        val b1 = System.nanoTime()
        open.set(open.get.tail)
        spans.add(Span(id, name, t0, t1, parent, run))
        overheadNs.addAndGet(System.nanoTime() - b1)
      }
    }

  /** Record an interval measured elsewhere (progress events, sink
    * wrappers), as a root span; times are epoch milliseconds. */
  def add(name: String, startMs: Long, endMs: Long): Unit =
    if (enabled)
      spans.add(Span(ids.getAndIncrement(), name, startMs * 1000000L,
        endMs * 1000000L, -1, run))

  def addOverhead(ns: Long): Unit = overheadNs.addAndGet(ns)
  def overheadSeconds: Double = overheadNs.get / 1e9

  def all: Seq[Span] = spans.asScala.toSeq

  def seconds(name: String): Seq[Double] =
    all.filter(_.name == name).map(_.seconds)

  /** Total self time per span name: duration minus the part covered by
    * its direct children. */
  def selfSeconds: Map[String, Double] = {
    val ss = all
    val childSum = ss.filter(_.parent >= 0).groupBy(_.parent)
      .map { case (p, cs) => p -> cs.map(_.seconds).sum }
    ss.groupBy(_.name).map { case (n, xs) =>
      n -> xs.map(s => s.seconds - childSum.getOrElse(s.id, 0.0)).sum
    }
  }

  def write(path: Path): Unit = {
    val lines = all.sortBy(_.start).map { s =>
      Json.write(Map("id" -> s.id, "name" -> s.name, "start_ns" -> s.start,
        "end_ns" -> s.end, "parent" -> s.parent, "run" -> s.run))
    }
    Files.createDirectories(path.getParent)
    Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

/** Spark work counters, summed per bucket. A job's bucket is its job group
  * when the group starts with `GroupPrefix` (one per warehouse query run),
  * and otherwise whatever bucket is current when the job starts (the
  * measured window of a streaming workload). Jobs with no bucket are not
  * counted.
  */
final class StageCounters(tracer: Tracer) extends SparkListener {
  final class Acc {
    val jobs, stages, tasks, cpuNs, gcMs, shuffleRead, shuffleWrite, input,
      spill = new AtomicLong
  }
  private val accs = new ConcurrentHashMap[String, Acc]
  private val stageBucket = new ConcurrentHashMap[Int, String]
  @volatile var current: String = null

  private def acc(b: String): Acc = accs.computeIfAbsent(b, _ => new Acc)

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    f
    tracer.addOverhead(System.nanoTime() - t0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(StageCounters.GroupPrefix))
    group.orElse(Option(current)).foreach { b =>
      acc(b).jobs.incrementAndGet()
      e.stageIds.foreach(id => stageBucket.put(id, b))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    timed {
      Option(stageBucket.get(e.stageInfo.stageId))
        .foreach(b => acc(b).stages.incrementAndGet())
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    for (b <- Option(stageBucket.get(e.stageId)); m <- Option(e.taskMetrics)) {
      val a = acc(b)
      a.tasks.incrementAndGet()
      a.cpuNs.addAndGet(m.executorCpuTime)
      a.gcMs.addAndGet(m.jvmGCTime)
      a.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      a.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      a.input.addAndGet(m.inputMetrics.bytesRead)
      a.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Per-op means over the given buckets, as per-layer metrics. */
  def perOp(buckets: Iterable[String], ops: Int): Map[String, Double] = {
    val as = buckets.toSeq.flatMap(b => Option(accs.get(b)))
    def sum(f: Acc => AtomicLong): Double = as.map(a => f(a).get).sum.toDouble
    val n = math.max(ops, 1).toDouble
    val mb = 1024.0 * 1024.0
    Map(
      "spark.jobs" -> sum(_.jobs) / n,
      "spark.stages" -> sum(_.stages) / n,
      "spark.tasks" -> sum(_.tasks) / n,
      "spark.task_cpu_s" -> sum(_.cpuNs) / 1e9 / n,
      "spark.gc_s" -> sum(_.gcMs) / 1e3 / n,
      "spark.shuffle_read_mb" -> sum(_.shuffleRead) / mb / n,
      "spark.shuffle_write_mb" -> sum(_.shuffleWrite) / mb / n,
      "spark.input_mb" -> sum(_.input) / mb / n,
      "spark.spill_mb" -> sum(_.spill) / mb / n)
  }
}

object StageCounters {
  val GroupPrefix = "graftbench:"
}

/** Order statistics and small helpers shared by the workloads. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the "inclusive" method). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toVector
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Mean of the second half over the mean of the first half. With three
    * samples a half, the median of each half swung twice as much across
    * seeds as the mean. */
  def growth(xs: Seq[Double]): Double = {
    val h = xs.size / 2
    mean(xs.drop(xs.size - h)) / mean(xs.take(h))
  }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb: Double =
    Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** Heap still in use after two full collections: what the program
    * keeps (memos, pinned blocks, state), independent of how far the
    * collector let the heap grow. */
  def retainedHeapMb: Double = {
    // the second collection also frees the cached blocks the
    // ContextCleaner released after the first one
    System.gc()
    Thread.sleep(500)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

/** JSON for the result line and the span file (Jackson, from Spark's jars),
  * with map keys sorted so equal results print equal lines. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    .configure(SerializationFeature.ORDER_MAP_ENTRIES_BY_KEYS, true)

  def write(v: Any): String = mapper.writeValueAsString(v)
}
