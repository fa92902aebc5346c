package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

/** Structured Streaming wiring (SURVEY §2.9 / E1-E3). The reference's Faust
  * topology maps 1:1:
  *  - Kafka topics -> streaming DataFrames (here file/memory sources; the
  *    kafka format is config-only and broker-gated, see `kafkaSource`);
  *  - the dedup table (1h tumbling, 2h TTL, faust_app.py:77-80) ->
  *    [[dedupTagged]], event-time state held until watermark expiry
  *    (divergence noted in SURVEY §7: Faust forgets dups across window
  *    boundaries, Spark keeps keys until watermark expiry);
  *  - clean/route fork (faust_app.py:95-170) -> one annotated stream
  *    ([[graft.ops.Clean.annotate]]), filtered per sink inside
  *    [[Pipeline]]'s foreachBatch (single pass + persist, exactly the
  *    reference's one-consume-two-produces shape);
  *  - hourly stats table (faust_app.py:173-189) -> event-time window agg in
  *    update mode;
  *  - Postgres micro-batch upsert (postgres_sink.py:136-176) ->
  *    foreachBatch idempotent keyed upsert + checkpoint (T1/T7: offsets
  *    commit after sink success in both systems).
  */
object Streams {

  /** Streaming dedup that TAGS duplicates instead of dropping them: output
    * is the input schema plus a boolean `_dup` column. Same state semantics
    * as `dropDuplicatesWithinWatermark` (keys held until the event-time
    * watermark passes the key's event time + delay), but the duplicates
    * stay visible downstream — which is what the reference's agent needs
    * to emit a `duplicate` issue per dropped record (faust_app.py:113-124:
    * the table hit doesn't just skip, it produces to the quality_issues
    * topic). `dropDuplicatesWithinWatermark` can't do that (drops are
    * silent), hence flatMapGroupsWithState keyed by the composite
    * (review_id, date) with an event-time timeout.
    *
    * State is one boolean per in-flight key — identical footprint to the
    * built-in dedup operator; eviction via watermark timeout, checkpointed
    * and restart-safe like any stateful op (T1).
    */
  def dedupTagged(raw: DataFrame, delay: String = "2 hours")
      : org.apache.spark.sql.Dataset[Row] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.Encoders
    val delayMs = parseDelayMs(delay)
    val withWm = raw.withWatermark("date", delay)
    val outSchema = org.apache.spark.sql.types.StructType(
      raw.schema.fields :+ org.apache.spark.sql.types.StructField(
        "_dup", org.apache.spark.sql.types.BooleanType, nullable = false))
    implicit val outEnc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    implicit val boolEnc = Encoders.scalaBoolean
    implicit val keyEnc = Encoders.tuple(Encoders.STRING, Encoders.STRING)
    def tag(r: Row, dup: Boolean): Row = Row.fromSeq(r.toSeq :+ dup)
    withWm.groupByKey { r: Row =>
      (r.getAs[String]("review_id"),
        String.valueOf(r.getAs[java.sql.Timestamp]("date")))
    }.flatMapGroupsWithState(
      OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
      (_: (String, String), rows: Iterator[Row], state: GroupState[Boolean]) =>
        if (state.hasTimedOut) {
          state.remove()
          Iterator.empty
        } else {
          // rows per (review_id, date) key per micro-batch: tiny by contract
          val buf = rows.toVector
          val seen = state.exists
          state.update(true)
          val evMs = buf.head.getAs[java.sql.Timestamp]("date").getTime
          // timeout when the watermark passes eventTime+delay; must stay
          // strictly ahead of the current watermark to be settable
          state.setTimeoutTimestamp(
            math.max(evMs + delayMs, state.getCurrentWatermarkMs() + 1))
          if (seen) buf.iterator.map(tag(_, dup = true))
          else buf.iterator.zipWithIndex.map { case (r, i) => tag(r, i > 0) }
        }
    }
  }

  private[streaming] def parseDelayMs(delay: String): Long = {
    val Array(n, unit) = delay.trim.split("\\s+")
    val base = unit.toLowerCase match {
      case u if u.startsWith("hour") => 3600000L
      case u if u.startsWith("min") => 60000L
      case u if u.startsWith("sec") => 1000L
      case u if u.startsWith("milli") => 1L
      case u => throw new IllegalArgumentException(s"unsupported unit: $u")
    }
    n.toLong * base
  }

  /** Hopping-window event stats on the stream — the sliding-window
    * surface of T3 (the reference's tables only tumble; Faust's
    * `.hopping()` is the unwired sibling). The SAME native
    * `window(ts, size, slide)` generator as the batch
    * [[graft.ops.TimeWindows.hopping]], so batch/streaming parity is
    * provable by value (TimeWindowsSpec); distinct aggregates are not
    * supported over streams, so the streaming surface carries the count
    * + exact quantized value sum only. Watermark-evicted state: each
    * window closes `delay` after its end passes the watermark.
    */
  def hoppingStats(events: DataFrame, delay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", delay)
      .groupBy(
        window(col("ts"),
          s"${graft.ops.TimeWindows.HopSizeMinutes} minutes",
          s"${graft.ops.TimeWindows.HopSlideMinutes} minutes").as("_w"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(graft.ops.Relational.qsum(col("value"), 100), 2)
          .as("total_value"))
      .select(col("_w.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Stream-stream interval self-join: each click joins the purchases
    * that follow it within [[graft.ops.Relational]]'s funnel window
    * (strictly after, inclusive +1 h — the same boundary the batch funnel
    * pins). This is the streaming semantic the rest of T-coverage didn't
    * demonstrate: BOTH sides are unbounded, so Spark keeps join state per
    * side and needs the event-time range condition + watermarks to bound
    * it — a click can be dropped from state once the watermark passes
    * click_ts + 1 h (no purchase can match it anymore), and a purchase
    * once it is `delay` old. Without the range condition this state grows
    * forever; the condition is the 100 TB contract, not an optimization.
    *
    * Works identically on batch frames (the operators are the same), so
    * batch/streaming parity is provable by value (`StreamJoinSpec`).
    */
  def conversionJoin(events: DataFrame, delay: String = "1 hour"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", delay)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("_pu"), col("ts").as("purchase_ts"),
        col("value"))
      .withWatermark("purchase_ts", delay)
    clicks.join(purchases,
      col("user_id") === col("_pu") &&
        col("purchase_ts") > col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("click_id"), col("user_id"), col("click_ts"),
        col("purchase_ts"), col("value"))
  }

  /** LEFT-OUTER stream-stream interval join: [[conversionJoin]] keeps
    * only converting clicks, but the production funnel needs the
    * NON-converting majority too (the reference's routing fork always
    * emits both outcomes — faust_app.py:131-170's accept AND reject
    * paths). Same keys, same strictly-after / inclusive-+1h range
    * condition, same per-side watermarks bounding two-sided state; a
    * click with no purchase in its window is emitted EXACTLY ONCE with
    * null purchase columns — when the watermark passes the end of its
    * match window and the engine can prove no future purchase can join,
    * i.e. on state eviction, which is why the watermark is a correctness
    * contract here, not just a state bound. Batch parity: the identical
    * frame through a batch left join, proven by value on closed windows
    * in StreamJoinSpec (incl. exactly-once across checkpoint restart).
    */
  def conversionJoinLeft(events: DataFrame,
      delay: String = "1 hour"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", delay)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("_pu"), col("ts").as("purchase_ts"),
        col("value"))
      .withWatermark("purchase_ts", delay)
    clicks.join(purchases,
        col("user_id") === col("_pu") &&
          col("purchase_ts") > col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"),
        "leftOuter")
      .select(col("click_id"), col("user_id"), col("click_ts"),
        col("purchase_ts"), col("value"),
        col("purchase_ts").isNotNull.as("converted"))
  }

  /** Stream-STATIC broadcast join: live hourly event counts scored
    * against a batch-trained per-type moment frame
    * ([[graft.ops.Anomaly.moments]]) — the train-offline / score-online
    * split every production anomaly alert runs (and the one join shape
    * T-coverage still lacked: the static side is planned once, broadcast,
    * and holds NO streaming state). Emits only windows breaching
    * [[graft.ops.Anomaly.ZThreshold]], in append mode as the watermark
    * closes them; z values are bit-identical to the batch
    * `hourlyAnomaly` by construction (same integer-moment algebra).
    */
  def anomalyAlerts(events: DataFrame, moments: DataFrame,
                    delay: String = "2 hours"): DataFrame = {
    val hourly = events
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n_events"))
    val z = graft.ops.Anomaly.zScore(col("n_events"))
    hourly.join(broadcast(moments), "event_type")
      .filter(z > graft.ops.Anomaly.ZThreshold ||
        z < -graft.ops.Anomaly.ZThreshold)
      .select(col("event_type"), col("hour"),
        col("n_events").cast("long").as("n_events"),
        round(z, 4).as("z_score"))
  }

  /** Hourly windowed ReviewStats in update mode (A1/A3). */
  def hourlyStats(annotated: DataFrame, delay: String = "2 hours"): DataFrame =
    annotated
      .withWatermark("date", delay)
      .groupBy(window(col("date"), "1 hour"))
      .agg(
        count(lit(1)).as("total_reviews"),
        sum(when(col("accepted"), 1L).otherwise(0L)).as("valid_reviews"),
        round(avg(when(col("accepted"), col("data_quality_score"))), 2)
          .as("avg_quality_score"))
      .select(col("window.start").as("window_start"), col("total_reviews"),
        col("valid_reviews"), col("avg_quality_score"))

  /** Kafka source/sink wiring (S4/S7/S8) — config-only in Spark; gated on a
    * broker being reachable (none in CI, so tests use memory/file sources;
    * the option surface is what the reference's topics map onto).
    */
  def kafkaSource(spark: SparkSession, bootstrap: String, topic: String,
                  startingOffsets: String = "earliest"): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .load()
}
