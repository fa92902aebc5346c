package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed per-key ranking: every row's exact 0-based position under
  * a total order within its key group, plus the group's row count —
  * WITHOUT a per-key window (which funnels each key's ENTIRE group
  * through one task: ranking a 100 TB corpus per source would put
  * terabytes through single cores).
  *
  * Same two-phase prefix-sum shape as [[Packing.seqPack]], counting rows
  * instead of summing tokens:
  *
  *   1. range-partition by (key, order...) — each physical partition
  *      holds a contiguous slice of every key's semantic order;
  *   2. the within-group running count runs per (partition, key) —
  *      thousands of bounded parallel window groups;
  *   3. per-(partition, key) subtotals are a tiny frame; their per-key
  *      running sum over partition order gives each group's base rank,
  *      and their per-key total the group size;
  *   4. bases broadcast back: rank = base + local position.
  *
  * Big-side cost: one range exchange + one (partition, key) window
  * exchange + a broadcast join — task size bounded by partition size
  * regardless of key skew.
  */
object Ranked {

  /** Input columns plus `_rank0` (0-based rank of the row within its
    * `key` group under `order`) and `_nkey` (the group's row count).
    * `order` must be a total order within each key group (include a
    * unique tiebreak) or ranks among ties are partition-dependent.
    *
    * The ranged frame is materialized EAGERLY (localCheckpoint) before
    * either branch consumes it: `repartitionByRange` re-samples its
    * boundaries per execution (the sampling seed derives from the RDD
    * id), so if exchange reuse ever failed to kick in (reuse disabled,
    * AQE edge cases), the two branches could see DIVERGENT partition
    * boundaries whose (pid, key) pairs still collide — a silent
    * mis-rank the left-join raise_error below cannot catch. Freezing
    * `_pid` in materialized data makes both branches consume the same
    * physical rows by construction, and doubles as the guarantee that
    * the (potentially expensive) upstream chain runs exactly once.
    */
  def perKey(df: DataFrame, key: String, order: Seq[Column]): DataFrame = {
    val n = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val ranged = df
      .repartitionByRange(n, (col(key) +: order): _*)
      .withColumn("_pid", spark_partition_id())
      // deserialized storage (MEMORY_AND_DISK, the default) — both
      // rank branches re-read this checkpoint and the serialized
      // tier's per-read deserialization measured q_ccnet_buckets
      // 17.3 → 27.3 s at sf1 (r7 same-condition A/B); see SCALING.md.
      // Stays EAGER (r13 re-measured): a lazy A/B on both consumers
      // (q_ccnet_buckets, q_shard_pack) was median-worse back-to-back
      // (3.16->3.51, 1.48->1.70 on comparable windows), unlike the
      // r13 q_price_stats histogram (OPTIMIZATION_r13.md §3) — the two
      // rank branches race to materialize a lazy checkpoint under AQE's
      // concurrent stage submission, while eager materializes once up
      // front
      .transform(graft.Pin.checkpoint(_, eager = true))
    val wLocal = Window.partitionBy(col("_pid"), col(key))
      .orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = ranged.withColumn("_local",
      coalesce(count(lit(1)).over(wLocal), lit(0L)))
    // tiny frame: one row per partition x overlapping key
    val wBase = Window.partitionBy(col(key)).orderBy(col("_pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wTot = Window.partitionBy(col(key))
    val bases = ranged.groupBy(col("_pid"), col(key))
      .agg(count(lit(1)).as("_c"))
      .withColumn("_base", coalesce(sum(col("_c")).over(wBase), lit(0L)))
      .withColumn("_nkey", sum(col("_c")).over(wTot))
      .select(col("_pid"), col(key), col("_base"), col("_nkey"))
    // both branches consume the SAME checkpointed rows, so _pid cannot
    // diverge; the raise_error guard stays as defense in depth
    local.join(broadcast(bases), Seq("_pid", key), "left")
      .withColumn("_base", when(col("_base").isNull,
        raise_error(lit("Ranked.perKey: range boundaries diverged " +
          "between the prefix-sum branches"))).otherwise(col("_base")))
      .withColumn("_rank0", col("_base") + col("_local"))
      .drop("_pid", "_local", "_base")
  }
}
