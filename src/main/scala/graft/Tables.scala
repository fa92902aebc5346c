package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** Parquet table loader for the driver testdata layout
  * (`/root/testdata/sf{N}/<name>.parquet`, see TESTDATA.md). */
object Tables {

  /** The unexecuted handle for `name`, resolved once per (session, dir)
    * in the session memo ([[Queries.cell]], keyed `<name>.parquet`;
    * `Queries.clear()` drops it). r13: every spark.read.parquet(path) call
    * builds a fresh InMemoryFileIndex (a filesystem listing) and re-reads
    * parquet footers for schema inference — measured ~0.1 s PER CALL at
    * sf0.1, paid at DataFrame CONSTRUCTION time by every query on every
    * bench pass (~1.5 loads × 100 queries × every pass; q_region_revenue
    * alone paid 5 loads ≈ 0.5 s/pass). At 100 TB the re-listing is
    * strictly worse (guide §6: file listing is driver-side,
    * single-process work; §5: the driver should do almost no data work)
    * — production engines resolve a catalog table once per session for
    * exactly this reason. No rows are cached or persisted: every action
    * still scans the parquet files.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    Queries.cell(spark, dir, s"$name.parquet")(
      spark.read.parquet(s"$dir/$name.parquet"))

  /** `events.ts` has shipped in two physical parquet encodings across
    * testdata generations, so the loader normalizes BOTH to the same
    * session-UTC TIMESTAMP the rest of the engine (and the DuckDB oracle,
    * which reads the identical file) sees:
    *  - TIMESTAMP(NANOS): Spark cannot read it natively; Sessions set
    *    `spark.sql.legacy.parquet.nanosAsLong=true` so `ts` arrives as
    *    nanos-since-epoch LONG and we floor-divide to micros — exactly
    *    DuckDB's ns->us truncation.
    *  - timestamp[us] (isAdjustedToUTC=false): Spark infers TIMESTAMP_NTZ;
    *    the session timezone is pinned to UTC (Sessions.builder), so the
    *    NTZ->TIMESTAMP cast reinterprets the wall-clock as the same UTC
    *    instant DuckDB reads.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val df = load(spark, dir, "events")
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
  }
}
