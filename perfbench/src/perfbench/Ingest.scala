package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.Instant

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.perfbench.SparkInternals
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.operators.UserRecognition.URConfig
import graft.sinks.SinkOptions
import graft.sources.DriverEventsAdapter
import graft.streaming.EventPipeline

/** `ingest_bulk` and `ingest_live`: JSON-lines micro-batches through
  * [[EventPipeline.startRecognized]] (narrow parse -> user recognition
  * on RocksDB -> segment single-table layout -> dedup MERGE sink).
  *
  *  - bulk: a pre-staged backlog drained with AvailableNow and one file
  *    per trigger (closed loop over the backlog);
  *  - live: one small file is published, the client waits for the
  *    micro-batch that consumed it, then publishes the next (closed
  *    loop, one client).
  *
  * The first data batch of a query (query start, state-store init) is
  * timed in `wall_s` but kept out of the per-batch samples. */
final class Ingest(spark: SparkSession, tracer: Tracer, plan: JsonNode,
                   runDir: Path) extends Workload {
  import Main.Op

  private val live = plan.get("workload").asText() == "ingest_live"
  private val urConfig = URConfig(lookbackDays = plan.get("ur_lookback_days").asInt())
  private val watermark = plan.get("ur_watermark").asText()
  private val StagingRepeats = 3

  /** Envelope each generated row ([[DriverEventsAdapter.toEnvelope]]),
    * then write one time-ordered json-lines file per micro-batch:
    * a slice's own events, its redeliveries, then its corrupt lines. */
  def stage(stream: JsonNode, dir: Path): Seq[Path] = {
    val raw = spark.read.parquet(stream.get("events").asText())
    val env = DriverEventsAdapter.toEnvelope(raw)
    val json = env.select(col("message_id"), col("timestamp"),
      to_json(struct(env.columns.map(col).toIndexedSeq: _*)).as("value"))
    val keys = raw.select(concat(lit("m"), col("event_id")).as("message_id"),
      col("slice"), col("redeliver_to"))
    val j = json.join(keys, "message_id")
    val lines = j.select(col("slice").as("b"), lit(0).as("redo"),
        col("timestamp"), col("message_id"), col("value"))
      .unionByName(j.filter(col("redeliver_to") >= 0)
        .select(col("redeliver_to").as("b"), lit(1).as("redo"),
          col("timestamp"), col("message_id"), col("value")))
      .orderBy("b", "redo", "timestamp", "message_id")
      .select("b", "value").collect()
    val n = stream.get("batches").asInt()
    val files = Array.fill(n)(Vector.newBuilder[String])
    lines.foreach(r => files(r.getInt(0)) += r.getString(1))
    stream.get("corrupt").elements().asScala.foreach { c =>
      files(c.get("slice").asInt()) += c.get("line").asText()
    }
    Main.deleteTree(dir)
    files.indices.map { b =>
      val p = dir.resolve(f"b$b%05d.txt")
      Main.writeLines(p, files(b).result())
      p
    }
  }

  private def lineCount(p: Path): Long = {
    val s = Files.lines(p)
    try s.count() finally s.close()
  }

  /** Publish a staged file into the stream's input dir: a copy under a
    * hidden name, then an atomic rename (the file source skips hidden
    * names, so it never sees a partial file). */
  private def publish(src: Path, input: Path, mtimeMs: Long): Unit = {
    val tmp = input.resolve("." + src.getFileName + ".tmp")
    Files.copy(src, tmp, StandardCopyOption.REPLACE_EXISTING)
    tmp.toFile.setLastModified(mtimeMs)
    Files.move(tmp, input.resolve(src.getFileName.toString),
      StandardCopyOption.ATOMIC_MOVE): Unit
  }

  /** Run the pipeline over `files`; one unit per data micro-batch. */
  def drain(files: Seq[Path], tag: String): (Seq[Op], Map[String, Any]) = {
    val base = runDir.resolve(tag)
    Main.deleteTree(base)
    val input = Files.createDirectories(base.resolve("input"))
    val wh = base.resolve("warehouse").toString
    val cp = base.resolve("checkpoint").toString
    val t0 = System.currentTimeMillis() - 3600 * 1000L
    if (!live) files.zipWithIndex.foreach { case (f, i) =>
      publish(f, input, t0 + i * 1000L)
    }
    Probe.resetStreaming()
    val lines = files.map(lineCount)
    val started = tracer.nowMs
    var q: StreamingQuery = null
    var failure: Option[String] = None
    val call = tracer.open("EventPipeline.startRecognized", "call")
    try {
      q = EventPipeline.startRecognized(spark, input.toString, wh, cp,
        options = SinkOptions(deduplicate = true), urConfig = urConfig,
        urWatermark = watermark,
        trigger = if (live) Trigger.ProcessingTime(0L) else Trigger.AvailableNow(),
        maxFilesPerTrigger = 1, statePartitions = 4, stateStore = "rocksdb",
        compactEvery = 0)
      if (live) {
        files.zipWithIndex.foreach { case (f, i) =>
          publish(f, input, System.currentTimeMillis())
          while (Probe.dataBatchesDone < i + 1 && q.isActive) Thread.sleep(1)
        }
        q.processAllAvailable()
        q.stop()
      } else q.awaitTermination()
      q.exception.foreach(e => failure = Some(Main.stackOf(e)))
    } catch {
      case e: Throwable => failure = Some(Main.stackOf(e))
        if (q != null) q.stop()
    } finally tracer.close(call)
    val wallMs = tracer.nowMs - started
    SparkInternals.awaitListeners(spark.sparkContext)
    val prog = Probe.drainProgress().filter(p => q != null && p.id == q.id)
      .sortBy(_.batchId)
    recordBatches(prog, call.id)
    val data = prog.filter(_.numInputRows > 0)
    val units = files.indices.map { i =>
      data.lift(i) match {
        case Some(p) =>
          Op("batch", s"b$i", ok = true,
            Some(p.durationMs.get("triggerExecution").toDouble),
            Map("lines" -> lines(i), "batch_id" -> p.batchId, "first" -> (i == 0)))
        case _ => Op("batch", s"b$i", ok = false, None,
          Map("lines" -> lines(i)), failure.orElse(Some("batch not run")))
      }
    }
    (units, Map("wall_ms" -> wallMs, "warehouse" -> wh) ++ failure.map("error" -> _))
  }

  /** Batch spans from the engine's progress records, with each
    * `durationMs` phase as a child span laid out in execution order. */
  private def recordBatches(prog: Seq[StreamingQueryProgress], parent: String): Unit =
    prog.foreach { p =>
      val start = Instant.parse(p.timestamp).toEpochMilli.toDouble
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
      val total = d.getOrElse("triggerExecution", 0.0)
      val id = s"batch:${p.id}:${p.batchId}"
      val so = p.stateOperators.headOption
      tracer.record(id, parent, s"batch ${p.batchId}", "batch", start, start + total,
        (Seq("batch_id" -> p.batchId, "input_rows" -> p.numInputRows) ++
          d.toSeq.map { case (k, v) => s"d_$k" -> v } ++
          so.toSeq.flatMap(s => Seq(
            "state_rows_total" -> s.numRowsTotal,
            "state_memory_bytes" -> s.memoryUsedBytes,
            "state_commit_ms" -> s.commitTimeMs,
            "state_update_ms" -> s.allUpdatesTimeMs,
            "state_removal_ms" -> s.allRemovalsTimeMs,
            "state_rows_dropped_by_watermark" -> s.numRowsDroppedByWatermark))): _*)
      val order = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
        "addBatch", "commitOffsets")
      val phases = order.filter(d.contains) ++
        d.keys.filterNot(k => k == "triggerExecution" || order.contains(k)).toSeq.sorted
      var t = start
      phases.foreach { k =>
        val e = math.min(t + d(k), start + total)
        tracer.record(s"$id:$k", id, k, "phase", t, e)
        t = e
      }
    }

  def run(trace: Boolean): Map[String, Any] = {
    // set-up: stage the backlog, repeated for a median; then one untimed
    // warm-up drain of the whole backlog
    var staged: Seq[Path] = Nil
    val stagingMs = (1 to StagingRepeats).map { i =>
      val t = tracer.nowMs
      staged = stage(plan.get("stream"), runDir.resolve(s"backlog$i"))
      tracer.nowMs - t
    }
    val t = tracer.nowMs
    val (warmUnits, warmInfo) = tracer.span("warmup", "workload")(_ => drain(staged, "warm"))
    warmUnits.find(!_.ok).foreach(u => sys.error(s"warm-up failed: ${u.error.getOrElse("")}"))
    val warmMs = tracer.nowMs - t
    val phases = Main.phasePlan(trace).map { case (tag, traced) =>
      val ((units, info), cpuMs) = tracer.span(tag, "workload", "traced" -> traced) { _ =>
        Probe.phase(spark, traced)(drain(staged, tag))
      }
      Map("traced" -> traced, "units" -> units.map(Main.opJson),
        "info" -> Map("rep_wall_ms" -> Seq(info("wall_ms")),
          "warehouses" -> Seq(info("warehouse")), "cpu_ms" -> cpuMs))
    }
    Map("setup_ms" -> stagingMs.map(_ + warmMs), "warmup_ms" -> warmMs,
      "warmup_warehouse" -> warmInfo("warehouse"), "phases" -> phases)
  }
}
