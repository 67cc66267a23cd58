package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.{Layouts, MetricsAgg}
import graft.schema.EventSchema
import graft.sinks.{SinkOptions, SinkRouter}

/** The streaming event pipeline — SURVEY §3.1 re-expressed as ONE
  * Structured Streaming query per destination class (not per connection;
  * connection fan-out is a column, J4):
  *
  *   source (kafka/file JSON) -> envelope parse -> dedup-within-watermark
  *   -> enrichment -> layout -> foreachBatch sink router (+ metrics
  *   side-agg maintained per micro-batch, the MV-equivalent).
  *
  * Kafka is the production source (`spark.readStream.format("kafka")`);
  * tests drive the identical DataFrame graph through a file source —
  * every transform is defined on DataFrames, so batch (`spark.read`) and
  * streaming (`readStream`) share the code path (SURVEY §7.1).
  *
  * Scale: the only stateful stage is `dropDuplicatesWithinWatermark`
  * (keyed on message_id, RocksDB at scale); layouts are narrow; the sink
  * groups by table inside foreachBatch. Backpressure is micro-batch
  * natural; `maxFilesPerTrigger`/`maxOffsetsPerTrigger` bound batch size.
  */
object EventPipeline {

  /** The layout projection by name — applied inside `transform`, or (in
    * [[start]]) deferred into foreachBatch so per-batch config rerouting
    * can precede it. */
  def applyLayout(deduped: DataFrame, layout: String): DataFrame = layout match {
    case "segment-single-table" => Layouts.segmentSingleTable(deduped)
    case "segment" => Layouts.segmentMultiTable(deduped)
    case "jitsu-legacy" => Layouts.jitsuLegacy(deduped)
    case "passthrough" => Layouts.passthrough(deduped)
    case other => throw new IllegalArgumentException(s"unknown layout $other")
  }

  /** Build the transform graph from a raw-JSON event stream (batch or
    * streaming DataFrame with a `value` string column): the batch/replay
    * path, EventSchema.fromJson + the timestamp default; nothing is
    * classified corrupt here (the streaming modes quarantine corrupt
    * lines, see [[corruptLines]]).
    *
    * `dedupWatermark` bounds the dedup state AND is the late-data
    * cutoff: a stateful operator filters input older than the watermark,
    * so events arriving later than this are DROPPED by the dedup stage.
    * For live ingestion (roughly time-ordered arrival) the 1-hour
    * default is right — state stays small and the sink MERGE catches any
    * residual duplicates. For bulk backfills/replays, where batch N+1
    * can carry events far older than batch N's max timestamp, pass a
    * watermark wider than the replayed span (or withDedup=false and let
    * the sink MERGE dedup) — otherwise old events are silently lost
    * (StreamingSpec's multi-batch test demonstrates both sides). */
  def transform(raw: DataFrame, layout: String = "segment-single-table",
                withDedup: Boolean = true,
                dedupWatermark: String = "1 hour"): DataFrame = {
    import raw.sparkSession.implicits._
    val parsed = defaultTimestamp(EventSchema.fromJson(
      raw.select(col("value").cast("string").as("value")).as[String]))
    val deduped =
      if (!withDedup) parsed
      else if (parsed.isStreaming)
        parsed.withWatermark("timestamp", dedupWatermark)
          .dropDuplicatesWithinWatermark("message_id")
      else parsed.dropDuplicates("message_id")
    applyLayout(deduped, layout)
  }

  /** Corrupt = unparseable JSON or no `type` — the protocol's one
    * mandatory field (`analytics.d.ts`: every event carries its type).
    * `probe` must use from_json (PERMISSIVE yields an all-null struct
    * for malformed input, and field-coercion rules must match the full
    * envelope parse — a get_json_object probe would disagree on e.g. a
    * numeric `type`). Shared by every streaming mode so they all
    * classify identically. */
  private val typeProbe: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("type",
        org.apache.spark.sql.types.StringType)))
  private def isCorruptStruct(e: org.apache.spark.sql.Column) =
    e.isNull || e.getField("type").isNull

  private def textLines(session: SparkSession, inputDir: String,
                        maxFilesPerTrigger: Int): DataFrame =
    session.readStream.format("text")
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .load(inputDir)

  private def envelopeFields(names: String*) =
    org.apache.spark.sql.types.StructType(
      EventSchema.envelope.fields.filter(f => names.contains(f.name)))

  /** The source lines that fail the corrupt probe, as (payload, error =
    * "parse_error"). Corrupt rows must stay OUT of the watermarked
    * branch: they carry no event time, and stamping them with
    * processing time would drag the event-time watermark to wall-clock
    * now — one bad line in a historical backfill would then silently
    * expire every older event in later batches. This branch re-scans
    * the source (union children are independent) but parses only a
    * one-field `type` probe, not the full envelope, so the second pass
    * costs a text scan + a trivial from_json. */
  private def corruptLines(raw: DataFrame): DataFrame = {
    val value = col("value").cast("string")
    raw.select(value.as("payload"), from_json(value, typeProbe).as("p"))
      .filter(isCorruptStruct(col("p")))
      .select(col("payload"), lit("parse_error").as("error"))
  }

  private def openPropsParser(openProps: String): DataFrame => DataFrame =
    openProps match {
      case "json" => identity
      case "variant" => env => env
        .withColumn("properties", try_parse_json(col("properties")))
        .withColumn("traits", try_parse_json(col("traits")))
      case other =>
        throw new IllegalArgumentException(s"unsupported openProps: $other")
    }

  /** A batch of (payload, error, ...) rows as ONE frame to route: the
    * rows with a null `error` through `events`, the rest as dead letters
    * — rare, so in one partition: the union then adds one task per
    * stage, not one per batch partition. */
  private def withDeadLetters(cached: DataFrame)(
      events: DataFrame => DataFrame): DataFrame = {
    val isBad = col("error").isNotNull
    events(cached.filter(!isBad)).unionByName(SinkRouter.quarantine(
      cached.filter(isBad).coalesce(1), col("payload"), col("error")),
      allowMissingColumns = true)
  }

  /** The one foreachBatch body of every pipeline mode: once per (stream
    * = checkpoint, batchId), the batch is persisted (so `rows` can split
    * it without re-running the stateful plan) and lands through ONE
    * [[SinkRouter.write]]. Compaction and `onBatch` are idempotent
    * maintenance, so they run outside the replay marker. */
  private def sinkStream(stream: DataFrame, spark: SparkSession,
                         router: SinkRouter, checkpointDir: String,
                         trigger: Trigger, compactEvery: Int,
                         compactMaxFiles: Int,
                         onBatch: Long => Unit = _ => ())(
      rows: (DataFrame, Long) => DataFrame): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        router.runOnce(batchId, streamId = checkpointDir) {
          val cached = batch.persist()
          try router.write(rows(cached, batchId))
          finally { cached.unpersist(false); () }
        }
        if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1)
          router.compactAll(spark, compactMaxFiles)
        onBatch(batchId)
        ()
      }
      .start()

  /** Missing event time defaults to received_at, else processing time
    * (the reference ingest stamps receivedAt and uses it as the event
    * timestamp fallback). */
  private def defaultTimestamp(df: DataFrame): DataFrame =
    df.withColumn("timestamp",
      coalesce(col("timestamp"), col("received_at"), current_timestamp()))

  /** Billing quota enforcement INSIDE the pipeline (ref free tier
    * "200k events/mo", README.md:62): per (write_key, month), a
    * running admitted count flags each event `billable` before it
    * lands. The counter is NOT streaming state — it is a per-batch
    * delta file under `_quota/<stream>/delta-<batchId>` (idempotent:
    * a replayed batch overwrites its own delta), and a batch's offset
    * is the sum of strictly-earlier deltas — so the counter survives
    * restarts with the checkpoint's batch ids, the same recovery
    * contract as the runOnce markers. Within a batch, admission order
    * is (timestamp, message_id); across batches, arrival order — the
    * [[graft.operators.MetricsAgg.streamingQuotaFlags]] semantics with
    * a durable counter instead of state-store state. The per-batch
    * window is bounded by micro-batch size. Returns
    * (message_id, billable). */
  private def quotaFlags(env: DataFrame, warehouseDir: String,
                         streamId: String, batchId: Long,
                         quota: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = env.sparkSession
    val qdir = s"$warehouseDir/_quota/${SinkRouter.streamScope(streamId)}"
    // batch-scoped commit (the CommitLog layout-as-log style): a
    // replayed batch overwrites its own delta; readers consult only
    // strictly-earlier scopes
    val priorDirs = graft.sinks.CommitLog
      .listPriorDeltas(spark, qdir, "delta-", batchId).map(_.toString)
    val prior =
      if (priorDirs.nonEmpty)
        spark.read.parquet(priorDirs: _*)
          .groupBy(col("_qws"), col("_qmonth"))
          .agg(sum(col("_qn")).as("_qprior"))
      else spark.emptyDataFrame
        .select(lit("").as("_qws"), lit("").as("_qmonth"),
          lit(0L).as("_qprior")).limit(0)
    val keyed = env.select(col("message_id"),
      coalesce(col("write_key"), lit("")).as("_qws"),
      date_format(date_trunc("month", col("timestamp")), "yyyy-MM")
        .as("_qmonth"),
      col("timestamp").as("_qts"))
    val w = Window.partitionBy(col("_qws"), col("_qmonth"))
      .orderBy(col("_qts"), col("message_id"))
    val flagged = keyed.withColumn("_qrn", row_number().over(w))
      .join(broadcast(prior), Seq("_qws", "_qmonth"), "left")
      .withColumn("billable",
        coalesce(col("_qprior"), lit(0L)) + col("_qrn") <= quota)
      .persist()
    // this batch's delta — overwrite makes a replayed batch idempotent
    flagged.groupBy(col("_qws"), col("_qmonth"))
      .agg(count(lit(1)).as("_qn"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$qdir/delta-$batchId")
    val out = flagged.select(col("message_id"), col("billable"))
      .localCheckpoint()
    flagged.unpersist(false)
    out
  }

  /** A cloned session scoping stream-level conf overrides to ONE query
    * (shared SparkContext, independent SQL conf): state-shard count and
    * the state-store provider. */
  private[streaming] def tunedSession(spark: SparkSession, statePartitions: Int,
                           stateStore: String): SparkSession =
    if (statePartitions <= 0 && stateStore == "hdfs") spark
    else {
      val s2 = spark.newSession()
      if (statePartitions > 0)
        s2.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
      stateStore match {
        case "hdfs" => // default provider: whole state map on heap
        case "rocksdb" =>
          // large-state path: per-shard state lives off-heap/on-disk in
          // an embedded RocksDB (state >> executor heap — the multi-day
          // dedup-window regime); changelog checkpointing ships deltas
          // instead of full SST snapshots each commit
          s2.conf.set("spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state." +
              "RocksDBStateStoreProvider")
          s2.conf.set("spark.sql.streaming.stateStore.rocksdb." +
            "changelogCheckpointing.enabled", "true")
        case other =>
          throw new IllegalArgumentException(
            s"unknown stateStore '$other' (hdfs | rocksdb)")
      }
      s2
    }

  /** The streaming half of the pipeline, kept NARROW on purpose: only
    * the four fields the dedup stage and corrupt probe need are parsed
    * in-stream (type/message_id/timestamp/received_at); the raw line
    * rides along as `payload` and the ONE full envelope parse runs in
    * foreachBatch, after dedup — the same shape as the recognized
    * pipeline's tag parse. The stream's defaulted `message_id` (uuid
    * when absent) and event time are carried out so the post-dedup
    * parse can never disagree with the dedup key.
    *
    * S9 auth runs HERE, before the dedup stateful stage: an
    * auth-rejected event must not claim its `message_id` in dedup
    * state, or a client that fixes a misconfigured write key and
    * retries the same events (same ids, inside the watermark) has them
    * silently dropped as duplicates — never delivered, never
    * quarantined. The reference 401s before any processing, so a
    * reject has no side effects; here rejects route AROUND the
    * stateful op straight to the quarantine branch (every rejected
    * delivery logs, duplicates included — the 401-per-request shape).
    * The probe stays narrow: one `get_json_object` field plus a
    * broadcast key join, both codegen'd, paid before the envelope
    * parse either way. [[start]] consumes this and applies config
    * rerouting + the layout inside foreachBatch — the reroute join needs
    * the envelope's `connection_id` and the CURRENT config snapshot,
    * which only exists per batch.
    * Output columns: (payload, message_id, timestamp, error). */
  private def envelopeStream(raw: DataFrame,
                             dedupWatermark: String,
                             authKeys: Option[DataFrame] = None,
                             authSeeds: Seq[String] = Nil): DataFrame = {
    val value = col("value").cast("string")
    val parsed = raw.select(value.as("payload"), from_json(value,
      envelopeFields("type", "message_id", "timestamp", "received_at")).as("e"))
    val wellFormed = parsed
      .filter(!isCorruptStruct(col("e")))
      .select(col("payload"),
        coalesce(col("e.message_id"), expr("uuid()")).as("message_id"),
        coalesce(col("e.timestamp"), col("e.received_at"),
          current_timestamp()).as("timestamp"))
    val (authGood, authBad) = authKeys match {
      case None => (wellFormed, None)
      case Some(keys) =>
        val a = graft.sources.WriteKeyAuth.authorize(
          wellFormed.withColumn("_wk",
            get_json_object(col("payload"), "$.write_key")),
          keys, col("_wk"), authSeeds)
        (a.filter(col("auth_ok")).drop("_wk", "auth_ok", "key_hint"),
         Some(a.filter(!col("auth_ok")).select(
           col("payload"),
           lit(null).cast("string").as("message_id"),
           lit(null).cast("timestamp").as("timestamp"),
           concat(lit("invalid_write_key:"),
             coalesce(col("key_hint"), lit("missing"))).as("error"))))
    }
    val good = authGood
      .withWatermark("timestamp", dedupWatermark)
      .dropDuplicatesWithinWatermark("message_id")
      .withColumn("error", lit(null).cast("string"))
    (good +: authBad.toSeq).reduce(_ unionByName _)
      .unionByName(corruptLines(raw), allowMissingColumns = true)
  }

  /** Adapt a Kafka-wire DataFrame (the connector's fixed output schema:
    * key/value binary, topic, partition, offset, timestamp, and — with
    * `includeHeaders` — headers array<struct<key,value binary>>) to the
    * raw JSON `value` frame the pipeline consumes — the exact projection
    * a production `spark.readStream.format("kafka")` source needs (ref
    * `services/rotor/src/rotor.ts:59-68`: rotor consumes the topic's
    * message value as the event JSON). `withMeta` additionally surfaces
    * topic/partition/offset/broker-timestamp (rotor's log/metrics
    * context) and the headers as a string map (rotor reads its retry
    * bookkeeping from message headers, `rotor.ts:228-237`). The Kafka
    * connector jar is not in this sandbox, so the connector itself
    * cannot run here; everything from the wire schema onward is this
    * code path and is spec-covered. */
  def fromKafkaWire(kafka: DataFrame, withMeta: Boolean = false): DataFrame =
    if (!withMeta) kafka.selectExpr("CAST(value AS STRING) AS value")
    else {
      val headers =
        if (kafka.columns.contains("headers"))
          // Kafka legally carries DUPLICATE header keys (appended retry/
          // trace headers); keep the LAST occurrence per key before
          // building the map — map_from_entries throws on duplicates
          // under Spark's default EXCEPTION dedup policy
          map_from_entries(org.apache.spark.sql.functions.transform(
            expr("""filter(headers, (e, i) ->
                   |  NOT exists(slice(headers, i + 2, size(headers) - i - 1),
                   |             x -> x.key = e.key))""".stripMargin),
            (h: org.apache.spark.sql.Column) => struct(
              h.getField("key").as("key"),
              h.getField("value").cast("string").as("value"))))
        else lit(null).cast("map<string,string>")
      kafka.select(
        col("value").cast("string").as("value"),
        col("topic").as("_kafka_topic"),
        col("partition").as("_kafka_partition"),
        col("offset").as("_kafka_offset"),
        col("timestamp").as("_kafka_timestamp"),
        headers.as("_kafka_headers"))
    }

  /** A named header's value from the `_kafka_headers` map (rotor's
    * retry-count / error headers live there). */
  def kafkaHeader(name: String): org.apache.spark.sql.Column =
    element_at(col("_kafka_headers"), name)

  /** Start the full streaming pipeline from a JSON-lines directory source
    * (swap `format("json")` for `format("kafka")` + value cast in prod). */
  /** `trigger` defaults to AvailableNow — drain everything already in
    * the source in bounded micro-batches, then stop (the drive/backfill
    * shape; same incremental execution as a long-running trigger without
    * idling between ticks). A tailing deployment that must keep
    * ingesting new arrivals passes
    * `Trigger.ProcessingTime("5 seconds")`. */
  /** `compactEvery`: run [[SinkRouter.compactAll]] after every Nth
    * micro-batch (0 disables). Streaming appends create one file per
    * date per batch, so a long-running table accumulates small files
    * forever without it; compaction is maintenance (idempotent,
    * crash-safe via the same staged swap as a merge) so it runs OUTSIDE
    * the batch's idempotency marker — re-running after a replay is
    * harmless. `compactMaxFiles` is the per-partition file-count
    * threshold that triggers a rewrite. */
  /** `statePartitions`: shard count for the stateful dedup's state store
    * (0 = inherit the session's shuffle partitions). State-store commit
    * cost is dominated by a FIXED per-shard file overhead (delta write +
    * rename per shard per micro-batch, paid even by empty shards and by
    * the trailing watermark-eviction batch), so shards should be sized
    * to the steady-state concurrent key volume — ~10-50k live keys per
    * shard — not to the CPU count. A 100-executor deployment ingesting
    * millions of keys per watermark window raises this into the
    * hundreds; a small topic keeps it single digits. Pinned into the
    * checkpoint at first start (Spark reuses the checkpointed shard
    * count on restart). */
  def start(spark: SparkSession, inputDir: String, warehouseDir: String,
            checkpointDir: String, layout: String = "segment-single-table",
            options: SinkOptions = SinkOptions(),
            dedupWatermark: String = "1 hour",
            trigger: Trigger = Trigger.AvailableNow(),
            compactEvery: Int = 16,
            compactMaxFiles: Int = 8,
            configDir: Option[String] = None,
            maxFilesPerTrigger: Int = 32,
            statePartitions: Int = 0,
            stateStore: String = "hdfs",
            quotaPerMonth: Option[Long] = None,
            // "json" stores open props as JSON strings (the default,
            // reference-shaped); "variant" parses them ONCE into Spark 4
            // VariantType right after the envelope, so every downstream
            // read (layout projections, warehouse queries) is a
            // pre-shredded variant_get instead of a per-access JSON
            // re-parse (2.1x on wide projections, SCALE.md round 8),
            // and the sink stores the binary variant encoding
            openProps: String = "json",
            // S9 ingest auth: a key-store dimension (id, credential) —
            // each event's `write_key` ("keyId:secret" bearer form) is
            // checked per WriteKeyAuth.authorize (broadcast join +
            // codegen'd sha2); rejects route to quarantine with the
            // LOGGABLE key hint, never the secret (rotor 401s echo the
            // raw token — `index.ts:172` — a practice its own `hint`
            // helper exists to avoid). None = open ingest, the
            // reference's no-tokens-configured warning path.
            authKeys: Option[DataFrame] = None,
            authSeeds: Seq[String] =
              Seq(graft.sources.WriteKeyAuth.DefaultSeed)): StreamingQuery = {
    val parseProps = openPropsParser(openProps)
    val session = tunedSession(spark, statePartitions, stateStore)
    // S4: live connection configs — re-checked before every micro-batch
    // (driver-side stat; re-read only on change), so a config edit
    // reroutes the NEXT batch without restarting the stream. The
    // override sets the envelope's `table_name` ($table), the same
    // routing override every layout already honors.
    val configStore = configDir.map(d => new graft.sources.ConfigStore(session, d))
    def reroute(env: DataFrame): DataFrame = configStore match {
      case None => env
      case Some(cs) =>
        val conns = cs.connections().select(
          col("connection_id"),
          col("table_name").as("_cfg_table"),
          col("enabled").as("_cfg_enabled"))
        env.join(broadcast(conns), Seq("connection_id"), "left")
          .filter(col("_cfg_enabled").isNull || col("_cfg_enabled"))
          .withColumn("table_name",
            coalesce(col("_cfg_table"), col("table_name")))
          .drop("_cfg_table", "_cfg_enabled")
    }
    sinkStream(envelopeStream(textLines(session, inputDir, maxFilesPerTrigger),
        dedupWatermark, authKeys, authSeeds), spark,
        new SinkRouter(warehouseDir, options), checkpointDir, trigger,
        compactEvery, compactMaxFiles) { (cached, batchId) =>
      // S9 auth already ran in envelopeStream, BEFORE the dedup
      // stateful stage (see there) — rejects arrive as error rows and
      // become dead-letter records with the corrupt lines
      withDeadLetters(cached) { good =>
        // the ONE full envelope parse — after the stateful stage; the
        // stream's dedup key + defaulted event time override the
        // re-parsed fields so dedup and storage cannot disagree
        // (uuid-defaulted ids are nondeterministic per parse)
        val env = parseProps(good
          .select(col("message_id").as("_mid"),
            col("timestamp").as("_ts"),
            from_json(col("payload"), EventSchema.envelope).as("e"))
          .select(col("_mid"), col("_ts"), col("e.*"))
          .withColumn("message_id", col("_mid"))
          .withColumn("timestamp", col("_ts"))
          .drop("_mid", "_ts"))
        val out = applyLayout(reroute(env), layout)
        quotaPerMonth match {
          case None => out
          case Some(q) =>
            val flags = quotaFlags(env, warehouseDir, checkpointDir,
              batchId, q)
            // layouts project fixed column sets, so the flag joins back
            // on the layout's id column after the layout (batch-sized
            // join); jitsu-legacy renames the envelope id, so rename the
            // flag key to match
            val idCol =
              if (layout == "jitsu-legacy") "eventn_ctx_event_id"
              else "message_id"
            out.join(flags.withColumnRenamed("message_id", idCol),
              Seq(idCol), "left")
        }
      }
    }
  }

  /** [[start]] with the reference's USER-RECOGNITION stage inside the
    * stream — the full rotor shape (`services/rotor/src/lib/rotor.ts`:
    * consume → functions chain incl. user-recognition → bulker):
    *
    *   source → envelope parse → UR (flatMapGroupsWithState buffering
    *   anonymous events, evict-and-merge on identify) → layout →
    *   foreachBatch MERGE sink.
    *
    * The ONE stateful operator is UR; duplicate collapse is delegated
    * to the sink's keyed MERGE (`options.deduplicate`), exactly where
    * the reference puts it (bulker owns dedup, rotor does not) — which
    * also sidesteps chaining two stateful operators, a combination
    * `flatMapGroupsWithState` does not support. UR emits whole-event
    * JSON payloads (an anonymous event can be buffered across
    * micro-batches and surface later with its merged identity), so the
    * layout projection re-parses the envelope per batch — the same
    * to_json/from_json round-trip cost the reference pays shipping
    * events through its function chain. */
  def startRecognized(spark: SparkSession, inputDir: String,
            warehouseDir: String, checkpointDir: String,
            layout: String = "segment-single-table",
            options: SinkOptions = SinkOptions(deduplicate = true),
            urConfig: graft.operators.UserRecognition.URConfig =
              graft.operators.UserRecognition.URConfig(),
            urWatermark: String = "1 hour",
            trigger: Trigger = Trigger.AvailableNow(),
            maxFilesPerTrigger: Int = 32,
            statePartitions: Int = 0,
            stateStore: String = "hdfs",
            compactEvery: Int = 16,
            compactMaxFiles: Int = 8,
            // as [[start]]: "variant" parses open props into Spark 4
            // VariantType once, after recognition, before the layout
            openProps: String = "json",
            // maintenance hook, called AFTER each batch's idempotent
            // commit (outside the runOnce marker, like compaction) —
            // the soak harness drives vacuum/MV-refresh/snapshot here
            onBatch: Long => Unit = _ => ()): StreamingQuery = {
    val parseProps = openPropsParser(openProps)
    val session = tunedSession(spark, statePartitions, stateStore)
    val raw = textLines(session, inputDir, maxFilesPerTrigger)
    val value = col("value").cast("string")
    // the in-stream parse is NARROW: only the UR key/identifier fields
    // plus the corrupt probe — the raw line itself rides through
    // recognition as the payload, and the one FULL envelope parse runs
    // in foreachBatch after recognition. Tokenizing a 5-field
    // projection is a fraction of materializing the deep envelope
    // struct, and the to_json re-serialization disappears entirely.
    val parsed = raw.select(value.as("payload"), from_json(value,
      envelopeFields(graft.operators.UserRecognition.tagFields(urConfig): _*))
      .as("e"))
    val tagged = graft.operators.UserRecognition.tagRawLines(
      parsed.filter(!isCorruptStruct(col("e"))), urConfig, urWatermark)
    val resolved = graft.operators.UserRecognition
      .resolveTagged(tagged, urConfig)
      .toDF("payload")
      .withColumn("error", lit(null).cast("string"))
    sinkStream(resolved.unionByName(corruptLines(raw)), spark,
        new SinkRouter(warehouseDir, options), checkpointDir, trigger,
        compactEvery, compactMaxFiles, onBatch) { (cached, _) =>
      withDeadLetters(cached) { good =>
        // no per-parse uuid() default here: the tag stage already
        // injected a deterministic message_id (hash of the raw line)
        // into any id-less payload BEFORE recognition, so a UR merged
        // re-emission or a post-crash replay of this batch re-parses to
        // the SAME id and the sink MERGE collapses it (fromJson's uuid()
        // fallback never fires)
        val env = defaultTimestamp(EventSchema.fromJson(
          good.select(col("payload").as("value"))
            .as[String](org.apache.spark.sql.Encoders.STRING)))
        applyLayout(parseProps(env), layout)
      }
    }
  }

  /** Alignment-data pipeline mode: the ingest stream feeds the
    * streaming SFT/DPO assemblers as a first-class pipeline, not just a
    * spec — source json-lines → narrow envelope parse → event frame →
    * [[graft.operators.Conversations.assembleStream]] (mode
    * `"conversations"`, sink table `conversations`) or
    * [[graft.operators.Conversations.preferencePairsStream]] (mode
    * `"preference_pairs"`, sink table `preference_pairs`) → the shared
    * [[SinkRouter]] idempotent-batch sink. One stateful operator per
    * stream (the session/tumbling window aggregation); records finalize
    * and land when the event-time watermark closes their group, so the
    * warehouse table is append-only training data a tokenizer job can
    * tail.
    *
    * The parse stays NARROW like every other pipeline mode: only the
    * five fields the assemblers consume (message_id, timestamp,
    * user/anonymous id, event name, properties) — the raw line is not
    * re-carried because nothing downstream re-parses it. `event_id` is
    * the envelope `message_id` (the stream's deterministic tiebreak
    * key); `value`/`k` read from the open `properties` JSON exactly as
    * the batch gate defines the turn template. Duplicate deliveries are
    * the md5-default-id / sink-MERGE story of the other modes; a
    * duplicate inside one open window double-counts, the documented
    * append-mode trade (the reference's rotor likewise processes per
    * delivery). */
  /** The shared wire→event projection of the alignment-data modes
    * (conversations / preference_pairs / best_of_n and the live
    * leaderboard): JSON lines in, the narrow (event_id, ts, user_id,
    * event_type, value, props) frame out; corrupt rows dropped,
    * anonymous users keyed by their anonymous id. */
  private[graft] def alignmentEvents(session: SparkSession,
      inputDir: String, maxFilesPerTrigger: Int)
      : org.apache.spark.sql.DataFrame = {
    val raw = textLines(session, inputDir, maxFilesPerTrigger)
    val narrowSchema = envelopeFields("message_id", "timestamp",
      "received_at", "user_id", "anonymous_id", "event", "type", "properties")
    raw
      .select(from_json(col("value").cast("string"), narrowSchema).as("e"))
      .filter(!isCorruptStruct(col("e")))
      .select(
        coalesce(col("e.message_id"), expr("uuid()")).as("event_id"),
        coalesce(col("e.timestamp"), col("e.received_at"),
          current_timestamp()).as("ts"),
        coalesce(col("e.user_id"), col("e.anonymous_id")).as("user_id"),
        coalesce(col("e.event"), col("e.type")).as("event_type"),
        get_json_object(col("e.properties"), "$.value")
          .cast("double").as("value"),
        col("e.properties").as("props"))
      .filter(col("user_id").isNotNull)
  }

  def startConversations(spark: SparkSession, inputDir: String,
            warehouseDir: String, checkpointDir: String,
            mode: String = "conversations",
            gapMinutes: Int = 30,
            tokenBudget: Int = 30,
            minTurns: Int = 2,
            watermark: String = "1 hour",
            trigger: Trigger = Trigger.AvailableNow(),
            maxFilesPerTrigger: Int = 32,
            statePartitions: Int = 0,
            stateStore: String = "hdfs",
            compactEvery: Int = 16,
            compactMaxFiles: Int = 8): StreamingQuery = {
    require(Seq("conversations", "preference_pairs", "best_of_n",
      "grpo_stats").contains(mode), s"unsupported mode: $mode")
    val session = tunedSession(spark, statePartitions, stateStore)
    val events = alignmentEvents(session, inputDir, maxFilesPerTrigger)
    val out = mode match {
      case "conversations" => graft.operators.Conversations
        .assembleStream(events, gapMinutes, tokenBudget, minTurns, watermark)
      case "best_of_n" => graft.operators.Conversations
        .bestOfNStream(events, minCents = 150L, watermark = watermark)
      case "grpo_stats" => graft.operators.Conversations
        .groupStatsStream(events, watermark)
      case _ => graft.operators.Conversations
        .preferencePairsStream(events, watermark)
    }
    sinkStream(out, spark, new SinkRouter(warehouseDir, SinkOptions()),
        checkpointDir, trigger, compactEvery, compactMaxFiles) {
      (cached, _) => cached.withColumn("_table", lit(mode))
    }
  }

  /** Streaming metrics side-channel: minute-windowed rollup maintained as
    * an append stream (A1/A2 MV-equivalent). */
  /** Streaming daily uniqueness SKETCHES — the persisted `uniqState`
    * shape ClickHouse MVs keep and [[startMetrics]]'s
    * `approx_count_distinct` cannot provide (it emits only estimates,
    * which do not merge): each closed day window emits its HLL sketch
    * as binary, so downstream sliding windows merge day sketches at
    * read time
    * ([[graft.operators.TimeSeries.slidingFromDailySketches]]) with
    * cost independent of key cardinality. Append mode: a day's sketch
    * lands once the watermark passes its end; later-than-watermark
    * events are dropped (the stated late-data trade of append-mode
    * aggregation). */
  def startDailySketches(events: DataFrame, keyCol: String, tsCol: String,
                         checkpointDir: String,
                         outDir: String): StreamingQuery =
    events
      .withWatermark(tsCol, "1 hour")
      .groupBy(window(col(tsCol), "1 day").as("w"))
      .agg(hll_sketch_agg(col(keyCol)).as("sk"))
      .select(col("w.start").cast("date").as("d"), col("sk"))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .format("parquet")
      .option("path", outDir)
      .start()

  def startMetrics(events: DataFrame, checkpointDir: String,
                   outDir: String): StreamingQuery =
    events
      .withWatermark("timestamp", "10 minutes")
      .groupBy(window(col("timestamp"), "1 minute").as("w"),
        col("connection_id"), col("type"))
      .agg(count(lit(1)).as("events"),
        approx_count_distinct(col("message_id")).as("uniq_events"))
      .select(col("w.start").as("period"), col("connection_id"), col("type"),
        col("events"), col("uniq_events"))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .format("parquet")
      .option("path", outDir)
      .start()
}
