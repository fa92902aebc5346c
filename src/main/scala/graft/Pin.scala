package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one place graft pins and frees blocks: every `persist` and
  * `localCheckpoint` in the engine is a [[cache]] or [[checkpoint]] here.
  *
  * Owners: a pin belongs to the [[Scope]] current on its thread — one
  * registry query in Bench, Verify and PlanAudit; one `foreachBatch` body
  * in `Pipeline`, `IndexLeg` and `CurationPipeline`; or a long-lived
  * `IndexLeg` (its spec's frames, e.g. `StreamEmbedDedup`'s centroids) or
  * `StreamGate.BenchmarkGrams`, whose `close()`/`unpersist()` closes it;
  * or the session: `Queries` memo entries build in its scope and live
  * until `Queries.clear`, not with the query that happened to build them.
  *
  * Release rule: a scope frees its frames, newest first, when it exits
  * normally or by exception — a CacheManager unpersist plus
  * `rdd.unpersist` on a `localCheckpoint` frame's `LogicalRDD`, which
  * `Dataset.unpersist` never reaches. [[release]] frees one frame early.
  *
  * Constraints: outside any scope a pin is exactly the call it replaces
  * and keeps no reference. Pins register at the call site, never by a
  * `getPersistentRDDs` diff: that set is SparkContext-wide and would free
  * a concurrent query's blocks (a firehose's five streaming queries,
  * `Pipeline` beside the stats agent). Caching an already-cached plan
  * registers nothing, so a scope never frees a memo's or a caller's pin.
  * The current scope is a plain `ThreadLocal`: threads started inside a
  * scope (the `graft-sink` pool, `Queries.warmup`'s builders) must not
  * inherit a scope that will be dead. A frame must not outlive its scope.
  */
object Pin {

  /** An owner: the frames pinned while it was current, newest first. */
  final class Scope {
    private var frames = List.empty[DataFrame]

    /** Run `body` with this scope current on the calling thread. */
    def apply[T](body: => T): T = {
      val outer = current.get
      current.set(this)
      try body finally current.set(outer)
    }

    def close(): Unit =
      synchronized { val fs = frames; frames = Nil; fs }.foreach(free)

    private[Pin] def add(df: DataFrame): Unit = synchronized { frames ::= df }
    private[Pin] def drop(df: DataFrame): Unit =
      synchronized { frames = frames.filterNot(_ eq df) }
  }

  private val current = new ThreadLocal[Scope]

  /** Run `body` in a fresh scope and free its pins when it exits. */
  def scope[T](body: => T): T = {
    val s = new Scope
    try s(body) finally s.close()
  }

  /** `df.persist(MEMORY_AND_DISK)`, owned by the current scope. */
  def cache(df: DataFrame): DataFrame = {
    val s = current.get
    if (s != null && df.storageLevel == StorageLevel.NONE) s.add(df)
    df.persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** `df.localCheckpoint(eager)`, owned by the current scope. */
  def checkpoint(df: DataFrame, eager: Boolean): DataFrame = {
    val out = df.localCheckpoint(eager)
    Option(current.get).foreach(_.add(out))
    out
  }

  /** Free `df` now, not when its scope exits. */
  def release(df: DataFrame): Unit = {
    Option(current.get).foreach(_.drop(df))
    free(df)
  }

  private def free(df: DataFrame): Unit = {
    df.unpersist(blocking = false)
    df.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ => ()
    }
  }
}
