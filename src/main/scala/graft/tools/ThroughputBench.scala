package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.DriverEventsAdapter
import graft.streaming.EventPipeline

/** Sustained streaming-throughput benchmark — the number a 100 TB
  * operator asks for first and batch query times cannot answer: how many
  * events/second does the FULL pipeline (envelope parse → user
  * recognition → layout → dedup-MERGE sink) sustain, and what does a
  * micro-batch cost end to end?
  *
  * Method: the sf events table becomes the envelope stream
  * ([[DriverEventsAdapter]] — the same synthesis every gate uses), plus
  * a fraction of re-sent duplicate lines so the MERGE dedup has real
  * work. Events are sliced into `numBatches` CONTIGUOUS TIME RANGES,
  * one json-lines file per slice in timestamp order — so event time
  * advances batch over batch exactly like a tailing topic, the UR/dedup
  * watermark moves, and state actually evicts (a random slicing would
  * freeze the watermark at the global minimum and state would only
  * grow). `maxFilesPerTrigger=1` makes each file one micro-batch.
  *
  * Measurement comes from the engine's own `StreamingQueryProgress`
  * (recentProgress): per batch input rows, trigger wall time, and the
  * stateful operator's row/memory footprint. Steady state excludes the
  * first batch (source planning + state-store init land there).
  *
  * The reference's envelope is operational (rotor: 10 in-flight
  * requests × 8 Kafka partitions, `rotor.ts:25,231`) — it publishes no
  * events/sec number, so this benchmark is graded round over round, on
  * an artifact recorded with a load stamp ([[graft.Bench]]).
  */
object ThroughputBench {

  case class StagedInput(dir: String, batchRows: Seq[Long])
  case class BatchStat(batchId: Long, inputRows: Long, durMs: Long,
                       stateRows: Long, stateBytes: Long)
  case class Report(mode: String, batches: Seq[BatchStat],
                    totalRows: Long, totalSec: Double,
                    steadyEventsPerSec: Double,
                    p50Ms: Long, p95Ms: Long) {
    def json: String = {
      def r1(v: Double) = math.rint(v * 10) / 10
      s"""{"mode":"$mode","batches":${batches.length},""" +
        s""""events":$totalRows,"sec":${r1(totalSec)},""" +
        s""""events_per_sec":${math.rint(steadyEventsPerSec)},""" +
        s""""batch_p50_ms":$p50Ms,"batch_p95_ms":$p95Ms,""" +
        s""""state_rows_final":${batches.lastOption.map(_.stateRows).getOrElse(0L)}}"""
    }
  }

  private def tmp(p: String) =
    Files.createTempDirectory(p).toFile.getAbsolutePath

  /** Stage the sf events as `numBatches` time-ordered json-lines files
    * (one micro-batch each), `dupFraction` of lines re-sent verbatim
    * into a LATER slice (a duplicate delivered after the original —
    * the at-least-once redelivery shape the MERGE must collapse). */
  def stageBatches(spark: SparkSession, sfDir: String, numBatches: Int,
                   dupFraction: Double = 0.1): StagedInput = {
    val in = tmp("graft-tp-in")
    val env = DriverEventsAdapter.load(spark, sfDir)
    val json = env.select(col("timestamp"),
      to_json(struct(env.columns.map(col): _*)).as("value"))
    // contiguous time slices via ntile over the timestamp order — a
    // prep-only global sort of the staged input, not a pipeline stage
    val w = org.apache.spark.sql.expressions.Window.orderBy(
      col("timestamp"), col("value"))
    val sliced = json.withColumn("b", ntile(numBatches).over(w) - 1)
    val dups = sliced.where(abs(hash(col("value"))) % 1000 <
        (dupFraction * 1000).toInt)
      .withColumn("b", least(col("b") + 1, lit(numBatches - 1)))
    val staged = sliced.unionByName(dups).persist()
    val counts = try {
      (0 until numBatches).map { b =>
        val stage = tmp("graft-tp-st")
        val slice = staged.filter(col("b") === b).sort("timestamp")
          .select("value").persist()
        val n = try {
          slice.coalesce(1).write.mode("overwrite").text(stage)
          slice.count()
        } finally { slice.unpersist(false); () }
        val part = new java.io.File(stage).listFiles()
          .find(f => f.getName.startsWith("part-") &&
            f.getName.endsWith(".txt")).get
        val dst = new java.io.File(in, f"b$b%04d.txt")
        Files.move(part.toPath, dst.toPath)
        dst.setLastModified(1700000000000L + b * 60000L)
        n
      }
    } finally { staged.unpersist(false); () }
    StagedInput(in, counts)
  }

  /** Drive the pipeline over a staged input; returns per-batch stats
    * from the engine's progress records. `mode` = "recognized" (full
    * rotor shape: UR in-stream, MERGE dedup at the sink) or "dedup"
    * (the [[EventPipeline.start]] shape: watermark dedup in-stream). */
  def run(spark: SparkSession, input: StagedInput, mode: String,
          statePartitions: Int = 8,
          stateStore: String = "rocksdb",
          compactEvery: Int = 0): Report = {
    val wh = tmp("graft-tp-wh"); val cp = tmp("graft-tp-cp")
    val q = mode match {
      case "recognized" =>
        EventPipeline.startRecognized(spark, input.dir, wh, cp,
          maxFilesPerTrigger = 1, statePartitions = statePartitions,
          stateStore = stateStore, urWatermark = "10 minutes",
          compactEvery = compactEvery)
      case "recognized_variant" =>
        // open props parsed ONCE into Spark 4 VariantType after
        // recognition — the storage-path streaming number (SCALE.md
        // round 8 has the batch side)
        EventPipeline.startRecognized(spark, input.dir, wh, cp,
          maxFilesPerTrigger = 1, statePartitions = statePartitions,
          stateStore = stateStore, urWatermark = "10 minutes",
          compactEvery = compactEvery, openProps = "variant")
      case "dedup" =>
        EventPipeline.start(spark, input.dir, wh, cp,
          options = graft.sinks.SinkOptions(deduplicate = true),
          maxFilesPerTrigger = 1, statePartitions = statePartitions,
          stateStore = stateStore, dedupWatermark = "10 minutes",
          compactEvery = compactEvery)
      case "conversations" =>
        // the alignment-data pipeline mode: session-window SFT
        // assembly in-stream, transcripts landing via the router sink
        EventPipeline.startConversations(spark, input.dir, wh, cp,
          maxFilesPerTrigger = 1, statePartitions = statePartitions,
          stateStore = stateStore, watermark = "10 minutes",
          compactEvery = compactEvery)
      case "preference_pairs" =>
        // the DPO/RLHF pair-mining mode: tumbling-day extremes
        // in-stream, (chosen, rejected) pairs landing via the router
        EventPipeline.startConversations(spark, input.dir, wh, cp,
          mode = "preference_pairs",
          maxFilesPerTrigger = 1, statePartitions = statePartitions,
          stateStore = stateStore, watermark = "10 minutes",
          compactEvery = compactEvery)
      case "best_of_n" =>
        // the rejection-sampling mode: one struct + a count of state
        // per open group, accepted/rejected verdicts via the router
        EventPipeline.startConversations(spark, input.dir, wh, cp,
          mode = "best_of_n",
          maxFilesPerTrigger = 1, statePartitions = statePartitions,
          stateStore = stateStore, watermark = "10 minutes",
          compactEvery = compactEvery)
      case "grpo_stats" =>
        // the GRPO group-baseline mode: O(1) aggregates (count, sum,
        // decimal sum of squares) per open group, closed-day group
        // statistics via the router
        EventPipeline.startConversations(spark, input.dir, wh, cp,
          mode = "grpo_stats",
          maxFilesPerTrigger = 1, statePartitions = statePartitions,
          stateStore = stateStore, watermark = "10 minutes",
          compactEvery = compactEvery)
      case "leaderboard" =>
        // the live Bradley-Terry mode: extremes state per open group
        // plus a per-batch count-delta landing and K-sized exact refit
        graft.streaming.Leaderboard.start(spark, input.dir, wh, cp,
          watermark = "10 minutes", maxFilesPerTrigger = 1,
          statePartitions = statePartitions, stateStore = stateStore)
      case other => throw new IllegalArgumentException(
        s"unknown mode '$other' (recognized | " +
          "recognized_variant | dedup | conversations | " +
          "preference_pairs | best_of_n | grpo_stats | leaderboard)")
    }
    try q.awaitTermination() finally q.stop()
    // progress numInputRows double-counts a source referenced by more
    // than one plan branch (quarantine split), so per-batch EVENT counts
    // come from the staged files (batch b == file b under
    // maxFilesPerTrigger=1 + AvailableNow in mtime order); wall time and
    // state footprint come from the engine's progress records
    val stats = q.recentProgress.toSeq
      .filter(_.numInputRows > 0)
      .map { p =>
        val so = p.stateOperators.headOption
        BatchStat(p.batchId,
          input.batchRows.lift(p.batchId.toInt).getOrElse(p.numInputRows),
          Option(p.durationMs.get("triggerExecution")).map(_.toLong)
            .getOrElse(0L),
          so.map(_.numRowsTotal).getOrElse(0L),
          so.map(_.memoryUsedBytes).getOrElse(0L))
      }
      .sortBy(_.batchId)
    report(mode, stats)
  }

  /** The "month of ops in twenty minutes" composite: the recognized
    * pipeline with EVERY maintenance path live on its natural cadence —
    * compaction every 3rd batch, a registered daily-rollup MV on the
    * streamed table auto-refreshing whenever the commit watch flags it
    * stale ([[graft.plans.MvRewrite.MvCatalog.watchCommits]] /
    * `refreshStale`), history vacuum every 4th batch, and a zero-copy
    * snapshot at the midpoint. The proof is the per-batch latency
    * table: maintenance-carrying batches must stay inside the idle
    * run's variance band (no latency cliff when the cadences
    * compose). All maintenance runs in the [[EventPipeline
    * .startRecognized]] `onBatch` hook — AFTER the batch's idempotent
    * commit, exactly where a production deployment schedules it. */
  def runSoak(spark: SparkSession, input: StagedInput,
              statePartitions: Int = 8): Report = {
    import org.apache.spark.sql.functions._
    import graft.plans.MvRewrite.{MvCatalog, MvDef}
    val wh = tmp("graft-soak-wh"); val cp = tmp("graft-soak-cp")
    val mvPath = tmp("graft-soak-mv") + "/daily.parquet"
    val n = input.batchRows.length
    val router = new graft.sinks.SinkRouter(wh,
      graft.sinks.SinkOptions(deduplicate = true))
    var rawPath: String = null
    def mainTable(): Option[String] =
      Option(new java.io.File(wh).listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && !f.getName.startsWith("_") &&
          !f.getName.startsWith("."))
        .sortBy(_.getName).headOption.map(_.getName)
    val hook: Long => Unit = { batchId =>
      mainTable().foreach { t =>
        val tp = s"$wh/$t"
        if (rawPath == null) {
          // first landed batch: build + register the daily rollup MV,
          // bound to the table's commit log for staleness
          spark.read.parquet(tp)
            .groupBy(col("type"),
              date_trunc("day", col("timestamp")).as("period"))
            .agg(count(lit(1)).as("cnt"))
            .write.mode("overwrite").parquet(mvPath)
          MvCatalog.register(spark, spark.read.parquet(tp), tp, MvDef(
            name = "soak_daily", mvPath = mvPath,
            groupKeys = Seq((col("type"), "type")),
            timeKey = Some((col("timestamp"), "period", "day")),
            countCol = Some("cnt")))
          MvCatalog.watchCommits(tp, router.historyDir, t)
          rawPath = tp
        } else if (batchId % 3 == 1) {
          val refreshed = MvCatalog.refreshStale(spark)
          println(s"# soak b$batchId mv_refreshed=${refreshed.size}")
        }
        if (batchId % 4 == 3) {
          router.vacuumHistory(keepLast = 20)
          println(s"# soak b$batchId vacuumed")
        }
        if (batchId == n / 2) {
          router.snapshot(t, s"soak-mid-$batchId")
          println(s"# soak b$batchId snapshot")
        }
      }
    }
    try {
      val q = EventPipeline.startRecognized(spark, input.dir, wh, cp,
        options = graft.sinks.SinkOptions(deduplicate = true),
        maxFilesPerTrigger = 1, statePartitions = statePartitions,
        stateStore = "rocksdb", urWatermark = "10 minutes",
        compactEvery = 3, compactMaxFiles = 4, onBatch = hook)
      try q.awaitTermination() finally q.stop()
      val stats = q.recentProgress.toSeq
        .filter(_.numInputRows > 0)
        .map { p =>
          val so = p.stateOperators.headOption
          BatchStat(p.batchId,
            input.batchRows.lift(p.batchId.toInt).getOrElse(p.numInputRows),
            Option(p.durationMs.get("triggerExecution")).map(_.toLong)
              .getOrElse(0L),
            so.map(_.numRowsTotal).getOrElse(0L),
            so.map(_.memoryUsedBytes).getOrElse(0L))
        }
        .sortBy(_.batchId)
      report("recognized_soak", stats)
    } finally if (rawPath != null) MvCatalog.unregister(rawPath)
  }

  private def report(mode: String, stats: Seq[BatchStat]): Report = {
    // steady state: drop batch 0 (source planning, state-store and sink
    // class init land there)
    val steady = if (stats.length > 1) stats.tail else stats
    val steadySec = steady.map(_.durMs).sum / 1000.0
    val eps = if (steadySec > 0) steady.map(_.inputRows).sum / steadySec
              else 0.0
    val durs = stats.map(_.durMs).sorted
    def pct(p: Double): Long =
      if (durs.isEmpty) 0L
      else durs(math.min(durs.length - 1,
        math.ceil(p * durs.length).toInt - 1).max(0))
    Report(mode, stats, stats.map(_.inputRows).sum,
      stats.map(_.durMs).sum / 1000.0, eps, pct(0.5), pct(0.95))
  }

  /** Standalone probe: stages the input, runs BOTH pipeline shapes, and
    * prints one JSON line per mode plus a per-batch table (the SCALE.md
    * evidence). `args`: [sfDir] [numBatches] [statePartitions]. */
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val numBatches = args.lift(1).map(_.toInt).getOrElse(10)
    val stateParts = args.lift(2).map(_.toInt).getOrElse(8)
    val compactEvery = args.lift(3).map(_.toInt).getOrElse(0)
    // arg 5: comma-separated modes (default the two pipeline shapes);
    // "recognized_soak" runs the maintenance composite
    val modes = args.lift(4).map(_.split(',').toSeq)
      .getOrElse(Seq("recognized", "dedup"))
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val in = stageBatches(spark, sfDir, numBatches)
    modes.foreach { mode =>
      val rep =
        if (mode == "recognized_soak")
          runSoak(spark, in, statePartitions = stateParts)
        else run(spark, in, mode, statePartitions = stateParts,
          compactEvery = compactEvery)
      println(s"THROUGHPUT ${rep.json}")
      println(f"# ${"batch"}%6s ${"rows"}%8s ${"ms"}%8s " +
        f"${"stateRows"}%10s ${"stateMB"}%8s")
      rep.batches.foreach { b =>
        println(f"# ${b.batchId}%6d ${b.inputRows}%8d ${b.durMs}%8d " +
          f"${b.stateRows}%10d ${b.stateBytes / 1e6}%8.1f")
      }
    }
    spark.stop()
  }
}
