package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.UserRecognition
import graft.operators.UserRecognition.URConfig

/** User-recognition state-growth probe — the one stateful operator whose
  * footprint grows with ANONYMOUS traffic (ref `user-recognition.ts:16`:
  * 30-day lookback buffer). The scale question: does event-time TTL
  * eviction actually BOUND the state, or does a long-running stream
  * accumulate forever?
  *
  * Method: N micro-batches of worst-case traffic — every event
  * anonymous (never identified, so nothing evicts early), keys skewed
  * (a hot head buffers many events per key), event time advancing
  * `hoursPerBatch` per batch. With a `lookbackDays` TTL the state must
  * climb for ~`lookbackDays*24/hoursPerBatch` batches and then PLATEAU:
  * each new batch's arrivals are balanced by timeout-expired evictions
  * of the batch that fell out of the lookback horizon. Recorded from
  * the engine's own progress (state rows + bytes per batch).
  *
  * A plateau here generalizes: state is O(events inside the lookback
  * window), independent of stream lifetime — the property that makes a
  * 30-day buffer safe on a year-running pipeline.
  */
object UrStateProbe {

  case class Sample(batchId: Long, stateRows: Long, stateBytes: Long,
                    inputRows: Long)

  def run(spark: SparkSession, numBatches: Int, eventsPerBatch: Int,
          hoursPerBatch: Int, lookbackDays: Int,
          statePartitions: Int = 4,
          stateStore: String = "rocksdb"): Seq[Sample] = {
    val in = Files.createTempDirectory("ur-probe-in").toString
    val base = 1700000000000L
    // skewed anonymous keys: 20% of keys take 80% of events (hot keys
    // grow long per-key buffers); keys are
    // batch-scoped so every batch adds NEW state
    (0 until numBatches).foreach { b =>
      val lines = (0 until eventsPerBatch).map { i =>
        val key = if (i % 5 < 4) s"hot-$b-${i % 7}" else s"cold-$b-$i"
        val ts = java.time.Instant.ofEpochMilli(
          base + b.toLong * hoursPerBatch * 3600000L + i.toLong * 10L)
        s"""{"message_id":"m$b-$i","type":"track","timestamp":"$ts","anonymous_id":"$key"}"""
      }
      val f = new java.io.File(in, f"b$b%04d.txt")
      Files.write(f.toPath, lines.mkString("\n").getBytes("UTF-8"))
      f.setLastModified(base + b * 60000L); ()
    }
    val session = spark.newSession()
    session.conf.set("spark.sql.shuffle.partitions",
      statePartitions.toString)
    if (stateStore == "rocksdb") {
      session.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider")
      session.conf.set("spark.sql.streaming.stateStore.rocksdb." +
        "changelogCheckpointing.enabled", "true")
    }
    val raw = session.readStream.format("text")
      .option("maxFilesPerTrigger", "1").load(in)
    val env = raw.select(
      get_json_object(col("value"), "$.message_id").as("message_id"),
      get_json_object(col("value"), "$.anonymous_id").as("anonymous_id"),
      get_json_object(col("value"), "$.user_id").as("user_id"),
      to_timestamp(get_json_object(col("value"), "$.timestamp"))
        .as("timestamp"))
    val out = Files.createTempDirectory("ur-probe-out").toString
    val cp = Files.createTempDirectory("ur-probe-cp").toString
    val q = UserRecognition
      .streamingResolveConfigured(env,
        URConfig(lookbackDays = lookbackDays), watermark = "1 hour")
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", cp)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("parquet")
      .option("path", out)
      .start()
    try q.awaitTermination() finally q.stop()
    q.recentProgress.toSeq
      .filter(p => p.numInputRows > 0 || p.stateOperators.nonEmpty)
      .map { p =>
        val so = p.stateOperators.headOption
        Sample(p.batchId, so.map(_.numRowsTotal).getOrElse(0L),
          so.map(_.memoryUsedBytes).getOrElse(0L),
          p.numInputRows)
      }
      .sortBy(_.batchId)
  }

  /** `args`: [numBatches] [eventsPerBatch] [hoursPerBatch]
    * [lookbackDays]. Defaults model 16 six-hour batches against a 1-day
    * lookback: state must plateau after ~batch 5. */
  def main(args: Array[String]): Unit = {
    val numBatches = args.lift(0).map(_.toInt).getOrElse(16)
    val perBatch = args.lift(1).map(_.toInt).getOrElse(20000)
    val hours = args.lift(2).map(_.toInt).getOrElse(6)
    val lookback = args.lift(3).map(_.toInt).getOrElse(1)
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val samples = run(spark, numBatches, perBatch, hours, lookback)
    println(f"# ${"batch"}%6s ${"stateRows"}%10s ${"stateMB"}%8s ${"input"}%8s")
    samples.foreach { s =>
      println(f"# ${s.batchId}%6d ${s.stateRows}%10d " +
        f"${s.stateBytes / 1e6}%8.1f ${s.inputRows}%8d")
    }
    val horizon = lookback * 24 / hours + 2
    val post = samples.drop(horizon).map(_.stateRows)
    if (post.nonEmpty)
      println(s"PLATEAU max=${post.max} min=${post.min} " +
        s"ratio=${if (post.min > 0) f"${post.max.toDouble / post.min}%.2f" else "inf"}")
    spark.stop()
  }
}
