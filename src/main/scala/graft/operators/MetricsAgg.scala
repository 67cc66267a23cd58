package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Metrics / billing aggregation layer — SURVEY §2.6 (A1–A5, A8).
  *
  * The reference materializes partial aggregates into ClickHouse
  * AggregatingMergeTree MVs (`webapps/console/prisma/metrics.sql`):
  * `sumState(events)` + `uniqState(messageId)` keyed by minute + 7 dims,
  * then report endpoints run `sumMerge`/`uniqMerge` with `date_trunc`.
  *
  * In Spark the partial/final split is native to the physical hash
  * aggregate (partial map-side combine -> final after one shuffle), and
  * `approx_count_distinct` (HyperLogLog++) is the `uniq` analogue whose
  * sketches merge the same way — so the whole MV machinery collapses to
  * plain `groupBy().agg()` over the metrics stream, plus an incrementally
  * maintained pre-agg table for the streaming path (foreachBatch upsert).
  */
object MetricsAgg {

  /** A1/A5 exact variant (count distinct) — oracle-checkable form. */
  def activeEventsExact(rows: DataFrame, grain: String = "day"): DataFrame =
    rows.groupBy(
        col("workspace_id"),
        date_trunc(grain, col("timestamp")).as("period"))
      .agg(countDistinct(col("message_id")).as("count"))

  /** A1 with MERGEABLE sketches — the exact analogue of ClickHouse
    * `AggregateFunction(uniq)` state columns: the pre-agg table stores
    * binary DataSketches HLL sketches per (workspace, hour); report
    * queries union-merge them across any coarser grain
    * (`uniqState` -> `hll_sketch_agg`, `uniqMerge` -> `hll_union_agg`).
    * This is what makes the metrics MV incrementally maintainable at
    * 100 TB: micro-batches append partial sketches, readers merge. */
  def activeEventsSketch(rows: DataFrame): DataFrame =
    rows.groupBy(
        col("workspace_id"),
        date_trunc("hour", col("timestamp")).as("period"))
      .agg(hll_sketch_agg(col("message_id")).as("uniq_sketch"))

  /** Merge stored sketches to a day-grain estimate (`uniqMerge`). */
  def mergeActiveEvents(preAgg: DataFrame): DataFrame =
    preAgg.groupBy(
        col("workspace_id"),
        date_trunc("day", col("period")).as("period"))
      .agg(hll_sketch_estimate(hll_union_agg(col("uniq_sketch")))
        .as("active_events"))

  /** A3: final report query — event-stat style day rollup with filters
    * (ref `event-stat.ts:40-56`): sumMerge over the pre-agg. */
  def eventStatReport(preAgg: DataFrame, workspaceId: String): DataFrame =
    preAgg
      .filter(col("workspace_id") === workspaceId)
      .groupBy(date_trunc("day", col("period")).as("period"), col("status"))
      .agg(sum(col("events")).as("events"))
      .orderBy(col("period").desc, col("events").desc)

  /** Billing quota admission — the reference's plan limits (cloud free
    * tier "200k events/month", ref `README.md:62`; billing counts ride
    * the A1 active-events pipeline) enforced DETERMINISTICALLY: per
    * (workspace, month), events are admitted in (timestamp, id) arrival
    * order until `quota`, the rest are flagged over-quota — so a replay
    * of the same month bills the same events, and the cutoff event is
    * reproducible for dispute audits.
    *
    * A naive `row_number() over (partition by workspace, month)` puts
    * each workspace-month — few groups, each potentially billions of
    * rows — on ONE reducer. Instead the global sequence comes from the
    * two-phase prefix pattern ([[Sampling.tokenBudget]]): range-shuffle
    * on (workspace, month, ts, id), per-partition `row_number` windows
    * bounded by partition size, and partition offsets from a
    * counts-sized side frame (partitions × groups rows) — the hot-key
    * window never materializes.
    *
    * `localCheckpoint` pins one range layout: RangePartitioner samples
    * boundaries per execution, and the counts pass and the output pass
    * must see the same placement.
    *
    * Returns (workspace_id, month, event id, ts, seq, billable);
    * `seq` is the 1-based admission sequence within the month. */
  /** Streaming twin of [[quotaAdmission]]: a running admission counter
    * per (workspace, month) in keyed state, so the live pipeline can
    * flag each event billable/over-quota AS IT ARRIVES. Admission order
    * is arrival order — micro-batch sequence, then (ts, id) within the
    * batch: a stream cannot re-order history, so this is the
    * reference's actual runtime billing semantics (counters increment
    * in processing order), while the batch operator is the
    * replay/dispute form that re-derives admission from timestamps.
    * For in-order input the two agree (StreamingSpec proves the fold
    * parity). State is one Long per live (workspace, month); month
    * keys go cold on their own — production would add an event-time
    * timeout at month end + late grace to reap them.
    *
    * Input columns are read as (workspace_id, ts, event_id); returns
    * (workspace_id, month, event_id, seq, billable) per event. */
  def streamingQuotaFlags(events: DataFrame, quota: Long): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("workspace_id").cast("string"),
        date_format(date_trunc("month", col("ts")), "yyyy-MM").as("month"),
        col("ts"), col("event_id").cast("long"))
      .as[(String, String, java.sql.Timestamp, Long)]
      .groupByKey { case (ws, month, _, _) => (ws, month) }
      .flatMapGroupsWithState[Long, (String, String, Long, Long, Boolean)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case ((ws, month), rows, state) =>
          val before = state.getOption.getOrElse(0L)
          val ordered = rows.toIndexedSeq.sortBy(r => (r._3.getTime, r._4))
          state.update(before + ordered.size)
          ordered.iterator.zipWithIndex.map { case (r, i) =>
            val seq = before + i + 1
            (ws, month, r._4, seq, seq <= quota)
          }
      }
      .toDF("workspace_id", "month", "event_id", "seq", "billable")
  }

  def quotaAdmission(events: DataFrame, wsCol: Column, tsCol: Column,
                     idCol: Column, quota: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = events.sparkSession
    val n = spark.sessionState.conf.numShufflePartitions
    val ranged = events
      .select(wsCol.as("workspace_id"), tsCol.as("ts"),
        idCol.as("event_id"))
      .withColumn("month", date_trunc("month", col("ts")))
      .repartitionByRange(n, col("workspace_id"), col("month"),
        col("ts"), col("event_id"))
      .withColumn("_part", spark_partition_id())
      .localCheckpoint()
    val w = Window.partitionBy(col("_part"), col("workspace_id"),
        col("month"))
      .orderBy(col("ts"), col("event_id"))
    val local = ranged.withColumn("_rn", row_number().over(w))
    // partitions × groups rows — the offset window is over a frame the
    // size of the partition count, not the data
    val wOff = Window.partitionBy(col("workspace_id"), col("month"))
      .orderBy(col("_part"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = ranged.groupBy(col("_part"), col("workspace_id"),
        col("month"))
      .agg(count(lit(1)).as("_n"))
      .withColumn("_off", coalesce(sum(col("_n")).over(wOff), lit(0L)))
      .drop("_n")
    local.join(broadcast(offsets),
        Seq("_part", "workspace_id", "month"))
      .withColumn("seq", col("_rn") + col("_off"))
      .withColumn("billable", col("seq") <= quota)
      .select(col("workspace_id"), col("month"), col("event_id"),
        col("ts"), col("seq"), col("billable"))
  }
}
