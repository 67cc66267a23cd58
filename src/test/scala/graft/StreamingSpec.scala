package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.operators.UserRecognition
import graft.sources.DriverEventsAdapter
import graft.streaming.EventPipeline

class StreamingSpec extends GraftSpec {
  import spark.implicits._

  private def tmp(prefix: String) =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  /** Write `lines` as json-lines file `name` in `dir` with mtime
    * `mtime` — a file source with maxFilesPerTrigger=1 reads one file
    * per micro-batch in mtime order. */
  private def stage(dir: String, name: String, mtime: Long,
                    lines: Seq[String]): Unit = {
    val f = new java.io.File(dir, name)
    Files.write(f.toPath, lines.mkString("\n").getBytes("UTF-8"))
    f.setLastModified(mtime); ()
  }

  /** (message_id, user_id or "") of each UR output payload, sorted. */
  private def idUser(payloads: Seq[String]): Seq[(String, String)] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    payloads.map { j =>
      val n = mapper.readTree(j)
      n.get("message_id").asText() ->
        Option(n.get("user_id")).filterNot(_.isNull)
          .map(_.asText()).getOrElse("")
    }.sorted
  }

  /** [[UserRecognition.tagRawLines]] + [[UserRecognition.resolveTagged]]
    * (the startRecognized path) over the json-lines files in `in`, one
    * file per micro-batch, into memory table `name`; returns the emitted
    * payloads, sorted. */
  private def resolveLines(in: String, name: String,
                           cfg: UserRecognition.URConfig,
                           watermark: String = "1 hour"): Seq[String] = {
    val tagNames = UserRecognition.tagFields(cfg)
    val tagSchema = org.apache.spark.sql.types.StructType(
      graft.schema.EventSchema.envelope.fields.filter(f =>
        tagNames.contains(f.name)))
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "2")
    val raw = s2.readStream.format("text")
      .option("maxFilesPerTrigger", "1").load(in)
    val tagged = UserRecognition.tagRawLines(
      raw.select(col("value").cast("string").as("payload"))
        .withColumn("e", from_json(col("payload"), tagSchema)),
      cfg, watermark)
    val q = UserRecognition.resolveTagged(tagged, cfg).writeStream
      .format("memory").queryName(name)
      .outputMode(OutputMode.Append).start()
    StreamTest.processAll(q)
    s2.table(name).as[String](org.apache.spark.sql.Encoders.STRING)
      .collect().toSeq.sorted
  }

  private def writeJsonEvents(dir: String): Long = {
    val env = DriverEventsAdapter.load(spark, sf)
    val json = env.select(to_json(struct(env.columns.map(col): _*)).as("value"))
    json.coalesce(1).write.mode("overwrite").text(dir)
    env.count()
  }

  test("file-source streaming pipeline lands events deduped in warehouse") {
    val in = tmp("graft-in"); val wh = tmp("graft-wh"); val cp = tmp("graft-cp")
    // write every event TWICE: dropDuplicatesWithinWatermark must land
    // each message_id exactly once
    val env = DriverEventsAdapter.load(spark, sf)
    val json = env.select(to_json(struct(env.columns.map(col): _*)).as("value"))
    json.unionAll(json).coalesce(1).write.mode("overwrite").text(in)
    val n = env.count()
    val q = EventPipeline.start(spark, in, wh, cp)
    StreamTest.processAll(q)
    val landed = spark.read.parquet(s"$wh/events")
    assert(landed.count() == n)
    assert(landed.select("message_id").distinct().count() == n)
  }

  test("openProps=variant survives a stream RESTART: the variant parse " +
    "stage resumes from the checkpoint and pre-restart values read back") {
    // recognized_variant is a bench headline mode; unlike recognized /
    // conversations it had no restart coverage for the variant parse
    // stage (round-12 verdict item 6). Same two-run shape as the UR
    // restart test, with open props flowing through parse_json.
    val in = tmp("graft-vrst-in")
    val wh = tmp("graft-vrst-wh")
    val cp = tmp("graft-vrst-cp")
    val a1 = """{"message_id":"va1","type":"track","timestamp":"2024-01-01T00:00:00Z","anonymous_id":"anonV","properties":{"k":7,"tag":"pre"}}"""
    val i1 = """{"message_id":"vi1","type":"identify","timestamp":"2024-01-01T00:05:00Z","anonymous_id":"anonV","user_id":"u9","properties":{"k":8,"tag":"post"}}"""
    stage(in, "b0.txt", 1700000000000L, Seq(a1))
    val q1 = EventPipeline.startRecognized(spark, in, wh, cp,
      maxFilesPerTrigger = 1, statePartitions = 2,
      openProps = "variant")
    StreamTest.drain(q1)
    // run 2: a NEW query on the same checkpoint parses more variants
    // and the restored UR buffer still evicts merged
    stage(in, "b1.txt", 1700000060000L, Seq(i1))
    val q2 = EventPipeline.startRecognized(spark, in, wh, cp,
      maxFilesPerTrigger = 1, statePartitions = 2,
      openProps = "variant")
    StreamTest.drain(q2)
    val landed = spark.read.parquet(s"$wh/events")
    assert(landed.schema("properties").dataType.typeName
      .contains("variant"), "variant storage type lost across restart")
    val got = landed.select(col("message_id"),
        col("user_id"),
        try_variant_get(col("properties"), "$.k", "BIGINT").as("k"),
        try_variant_get(col("properties"), "$.tag", "STRING").as("tag"))
      .collect()
      .map(r => r.getString(0) ->
        ((Option(r.getString(1)), Option(r.get(2)), r.getString(3))))
      .toMap
    assert(got.keySet == Set("va1", "vi1"), s"$got")
    // pre-restart variant values read back; UR merged the identity in
    assert(got("va1") == ((Some("u9"), Some(7L), "pre")), s"$got")
    assert(got("vi1") == ((Some("u9"), Some(8L), "post")), s"$got")
  }

  test("openProps=variant stores open props as VariantType end-to-end; values match the JSON-string run") {
    val in = tmp("graft-in")
    val n = writeJsonEvents(in)
    def land(openProps: String): org.apache.spark.sql.DataFrame = {
      val wh = tmp("graft-wh"); val cp = tmp("graft-cp")
      val q = EventPipeline.start(spark, in, wh, cp,
        openProps = openProps)
      StreamTest.processAll(q)
      spark.read.parquet(s"$wh/events")
    }
    val jsonRun = land("json")
    val varRun = land("variant")
    assert(jsonRun.schema("properties").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(varRun.schema("properties").dataType.typeName
      .contains("variant"))
    assert(varRun.count() == n)
    // the same key read through both encodings agrees row-for-row
    val a = jsonRun.select(col("message_id"),
        get_json_object(col("properties"), "$.k").cast("long").as("k"))
      .collect().map(r => r.getString(0) -> Option(r.get(1))).toMap
    val b = varRun.select(col("message_id"),
        try_variant_get(col("properties"), "$.k", "BIGINT").as("k"))
      .collect().map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(a == b)
  }

  test("statePartitions shards the dedup state without changing results") {
    val in = tmp("graft-in"); val wh = tmp("graft-wh"); val cp = tmp("graft-cp")
    val env = DriverEventsAdapter.load(spark, sf)
    val json = env.select(to_json(struct(env.columns.map(col): _*)).as("value"))
    json.unionAll(json).coalesce(1).write.mode("overwrite").text(in)
    val n = env.count()
    val q = EventPipeline.start(spark, in, wh, cp, statePartitions = 3)
    StreamTest.processAll(q)
    val landed = spark.read.parquet(s"$wh/events")
    assert(landed.count() == n)
    assert(landed.select("message_id").distinct().count() == n)
    // the checkpoint's state dir carries exactly the requested shards
    val shards = new java.io.File(s"$cp/state/0").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.forall(_.isDigit))
    assert(shards.toSet == Set("0", "1", "2"))
    // the override is query-scoped: the caller's session conf is untouched
    assert(spark.conf.get("spark.sql.shuffle.partitions") != "3")
  }

  test("rocksdb state store dedups identically to the default provider") {
    val in = tmp("graft-in"); val wh = tmp("graft-wh"); val cp = tmp("graft-cp")
    val env = DriverEventsAdapter.load(spark, sf)
    val json = env.select(to_json(struct(env.columns.map(col): _*)).as("value"))
    json.unionAll(json).coalesce(1).write.mode("overwrite").text(in)
    val n = env.count()
    val q = EventPipeline.start(spark, in, wh, cp,
      statePartitions = 2, stateStore = "rocksdb")
    StreamTest.processAll(q)
    val landed = spark.read.parquet(s"$wh/events")
    assert(landed.count() == n)
    assert(landed.select("message_id").distinct().count() == n)
    // the checkpoint really carries RocksDB artifacts (sst/changelog
    // files under the state dir), not HDFS-provider delta files
    import scala.jdk.CollectionConverters._
    val names = java.nio.file.Files.walk(
        java.nio.file.Paths.get(s"$cp/state"))
      .iterator().asScala.map(_.getFileName.toString).toList
    assert(names.exists(f => f.endsWith(".changelog") || f.endsWith(".zip")),
      s"no rocksdb artifacts in $names")
  }

  test("auto-compaction bounds per-partition file count across micro-batches") {
    val in = tmp("graft-cpt-in"); val wh = tmp("graft-cpt-wh"); val cp = tmp("graft-cpt-cp")
    // all events on ONE date so every micro-batch appends a file to the
    // same partition; 40 input files / maxFilesPerTrigger=16 => 3 batches
    val env = DriverEventsAdapter.load(spark, sf).limit(200)
      .withColumn("timestamp", to_timestamp(lit("2024-03-01 12:00:00")))
    val json = env.select(to_json(struct(env.columns.map(col): _*)).as("value"))
    json.repartition(40).write.mode("overwrite").text(in)
    val q = EventPipeline.start(spark, in, wh, cp,
      compactEvery = 1, compactMaxFiles = 1)
    StreamTest.drain(q)
    assert(spark.read.parquet(s"$wh/events").count() == 200)
    val partDir = new java.io.File(s"$wh/events/graft_dt=2024-03-01")
    assert(partDir.isDirectory)
    val files = partDir.listFiles().count(f =>
      f.isFile && f.getName.endsWith(".parquet"))
    assert(files == 1, s"expected 1 compacted file, found $files")
  }

  test("S4: a connection-config edit reroutes the following batches") {
    val in = tmp("graft-cfg-in"); val wh = tmp("graft-cfg-wh")
    val cp = tmp("graft-cfg-cp"); val cfg = tmp("graft-cfg-dir")
    def writeCfg(table: String): Unit = {
      val f = new java.io.File(cfg, "conns.json")
      java.nio.file.Files.write(f.toPath,
        s"""{"connection_id":"c1","table_name":"$table","enabled":true}"""
          .getBytes("UTF-8"))
      // force a fingerprint change even within mtime granularity
      f.setLastModified(System.currentTimeMillis() + scala.util.Random.nextInt(10000) + 1000)
      ()
    }
    def writeEvents(file: String, ids: Range): Unit = {
      val lines = ids.map(i =>
        s"""{"message_id":"m$i","type":"track","connection_id":"c1",""" +
          s""""timestamp":"2024-01-01T10:00:00.000Z"}""").mkString("\n")
      java.nio.file.Files.write(new java.io.File(in, file).toPath,
        lines.getBytes("UTF-8"))
      ()
    }
    writeCfg("table_a")
    writeEvents("b1.txt", 0 until 20)
    val q1 = EventPipeline.start(spark, in, wh, cp, configDir = Some(cfg))
    StreamTest.drain(q1)
    assert(spark.read.parquet(s"$wh/table_a").count() == 20)
    // edit the config; NEW events (new files, new ids) must reroute
    writeCfg("table_b")
    writeEvents("b2.txt", 20 until 35)
    val q2 = EventPipeline.start(spark, in, wh, cp, configDir = Some(cfg))
    StreamTest.drain(q2)
    assert(spark.read.parquet(s"$wh/table_b").count() == 15)
    assert(spark.read.parquet(s"$wh/table_a").count() == 20)
  }

  test("S4 config store serves the STALE snapshot with status=outdated when a refresh fails (entity-store contract)") {
    val dir = tmp("graft-cfg")
    def writeCfg(body: String): Unit = {
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(dir, "c.json"), body); ()
    }
    writeCfg("""{"connection_id":"c1","table_name":"t1","enabled":true}""")
    var boom = false
    val store = new graft.sources.ConfigStore(spark, dir) {
      override protected def readDir(fp: (Long, Int, Long)) = {
        if (boom) throw new RuntimeException("transient store outage")
        super.readDir(fp)
      }
    }
    assert(store.status == "initializing")
    val d1 = store.connections().collect()
    assert(store.status == "ok")
    assert(d1.map(_.getString(1)).toSeq == Seq("t1"))
    // a config edit lands while the loader is broken: the store keeps
    // serving the previous snapshot instead of failing the pipeline
    boom = true
    writeCfg("""{"connection_id":"c1","table_name":"t2_much_longer","enabled":true}""")
    val d2 = store.connections().collect()
    assert(store.status == "outdated")
    assert(d2.map(_.getString(1)).toSeq == Seq("t1"), "stale served")
    // recovery: the failed fingerprint was NOT recorded, so the next
    // call re-reads and catches up
    boom = false
    val d3 = store.connections().collect()
    assert(store.status == "ok")
    assert(d3.map(_.getString(1)).toSeq == Seq("t2_much_longer"))
    // a FIRST load failure has nothing stale to serve and rethrows
    val dir2 = tmp("graft-cfg2")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir2, "c.json"),
      """{"connection_id":"c9","table_name":"t9","enabled":true}""")
    val broken = new graft.sources.ConfigStore(spark, dir2) {
      override protected def readDir(fp: (Long, Int, Long)) =
        throw new RuntimeException("down")
    }
    intercept[RuntimeException] { broken.connections() }
    assert(broken.status == "initializing")
  }

  test("dotted-path identifier merge writes into nested JSON objects") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val merge = UserRecognition.mergeIdentifiers(
      mapper, Seq("user_id", "context.traits")) _
    val target = """{"message_id":"m1","context":{"traits":{"plan":"basic"}}}"""
    val src =
      """{"user_id":"u1","context":{"traits":{"email":"a@x.io","plan":"pro"}}}"""
    val out = mapper.readTree(merge(target, src))
    assert(out.get("user_id").asText() == "u1")
    assert(out.at("/context/traits/email").asText() == "a@x.io")
    assert(out.at("/context/traits/plan").asText() == "pro") // ident wins
    // lodash-set: missing intermediate objects are created
    val out2 = mapper.readTree(merge("""{"message_id":"m2"}""", src))
    assert(out2.at("/context/traits/email").asText() == "a@x.io")
  }

  test("a corrupt line does not advance the watermark over a backfill") {
    val in = tmp("graft-wm-in"); val wh = tmp("graft-wm-wh"); val cp = tmp("graft-wm-cp")
    // batch 1: one corrupt line + a few 2023 events; batch 2 (new run,
    // same checkpoint): MORE 2023 events. If the corrupt row were
    // stamped with processing time inside the watermarked branch, the
    // watermark would jump to ~now and batch 2's events would be
    // silently expired as late.
    def evs(file: String, ids: Range, extra: Seq[String] = Nil): Unit = {
      val lines = ids.map(i =>
        s"""{"message_id":"w$i","type":"track","timestamp":"2023-05-01T10:00:00.000Z"}""") ++ extra
      java.nio.file.Files.write(new java.io.File(in, file).toPath,
        lines.mkString("\n").getBytes("UTF-8"))
      ()
    }
    evs("b1.txt", 0 until 10, Seq("corrupt {not json"))
    val q1 = EventPipeline.start(spark, in, wh, cp, dedupWatermark = "1 hour")
    StreamTest.drain(q1)
    evs("b2.txt", 10 until 25)
    val q2 = EventPipeline.start(spark, in, wh, cp, dedupWatermark = "1 hour")
    StreamTest.drain(q2)
    assert(spark.read.parquet(s"$wh/events").count() == 25,
      "backfill events after a corrupt line must not be dropped as late")
    assert(spark.read.parquet(s"$wh/quarantine").count() == 1)
  }

  test("duplicate connection-config definitions do not fan out events") {
    val in = tmp("graft-dup-in"); val wh = tmp("graft-dup-wh")
    val cp = tmp("graft-dup-cp"); val cfg = tmp("graft-dup-dir")
    // two files BOTH defining c1 — the reroute join must see one row
    java.nio.file.Files.write(new java.io.File(cfg, "a.json").toPath,
      """{"connection_id":"c1","table_name":"table_a","enabled":true}"""
        .getBytes("UTF-8"))
    java.nio.file.Files.write(new java.io.File(cfg, "b.json").toPath,
      """{"connection_id":"c1","table_name":"table_a","enabled":true}"""
        .getBytes("UTF-8"))
    val lines = (0 until 10).map(i =>
      s"""{"message_id":"d$i","type":"track","connection_id":"c1",""" +
        s""""timestamp":"2024-01-01T10:00:00.000Z"}""")
    java.nio.file.Files.write(new java.io.File(in, "b1.txt").toPath,
      lines.mkString("\n").getBytes("UTF-8"))
    val q = EventPipeline.start(spark, in, wh, cp, configDir = Some(cfg))
    StreamTest.drain(q)
    assert(spark.read.parquet(s"$wh/table_a").count() == 10)
  }

  test("kafka-wire meta tolerates duplicate header keys (last wins)") {
    val kafka = Seq(("""{"type":"track"}""")).toDF("v")
      .select(col("v").cast("binary").as("value"),
        lit("t").as("topic"), lit(0).as("partition"), lit(1L).as("offset"),
        to_timestamp(lit("2024-01-01 00:00:00")).as("timestamp"),
        lit(0).as("timestampType"),
        array(
          struct(lit("retries").as("key"), lit("1").cast("binary").as("value")),
          struct(lit("trace").as("key"), lit("t0").cast("binary").as("value")),
          struct(lit("retries").as("key"), lit("2").cast("binary").as("value"))
        ).as("headers"))
    val r = EventPipeline.fromKafkaWire(kafka, withMeta = true)
      .select(EventPipeline.kafkaHeader("retries"),
        EventPipeline.kafkaHeader("trace")).head
    assert(r.getString(0) == "2" && r.getString(1) == "t0")
  }

  test("startRecognized: UR in-stream (rotor shape) — anonymous events buffered across micro-batches surface merged; sink MERGE collapses redeliveries; quarantine intact; ONE stateful operator") {
    val in = tmp("graft-rec-in"); val wh = tmp("graft-rec-wh")
    val cp = tmp("graft-rec-cp")
    val a1 = """{"message_id":"a1","type":"track","timestamp":"2024-01-01T00:00:00Z","anonymous_id":"anonA"}"""
    val a2 = """{"message_id":"a2","type":"track","timestamp":"2024-01-01T00:01:00Z","anonymous_id":"anonA"}"""
    val k1 = """{"message_id":"k1","type":"track","timestamp":"2024-01-01T00:01:30Z"}"""
    val i1 = """{"message_id":"i1","type":"identify","timestamp":"2024-01-01T00:02:00Z","anonymous_id":"anonA","user_id":"u9"}"""
    stage(in, "b0.txt", 1700000000000L, Seq(a1, a2, k1, "not json at all"))
    stage(in, "b1.txt", 1700000060000L, Seq(i1, a2)) // a2 redelivered
    val q = EventPipeline.startRecognized(spark, in, wh, cp,
      maxFilesPerTrigger = 1, statePartitions = 2)
    StreamTest.drain(q)
    // exactly ONE stateful operator in the streaming plan (UR; dedup is
    // the sink MERGE, not a second state store) and its state is
    // bounded by the buffered-anonymous volume, not the corpus
    val progresses = q.recentProgress.toSeq.filter(_.numInputRows > 0)
    assert(progresses.nonEmpty)
    progresses.foreach(p => assert(p.stateOperators.length == 1))
    val landed = spark.read.parquet(s"$wh/events")
      .select(col("message_id"), col("user_id")).collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toSeq
    // every message_id exactly once: the UR re-emit of a2 and its
    // redelivery collapse in the MERGE
    assert(landed.map(_._1).sorted == Seq("a1", "a2", "i1", "k1"))
    val byId = landed.toMap
    // batch-0 anonymous events surfaced with the identity merged in
    assert(byId("a1").contains("u9") && byId("a2").contains("u9"))
    assert(byId("i1").contains("u9"))
    assert(byId("k1").isEmpty) // keyless bypass: untouched, still lands
    // the corrupt line landed in quarantine, not the void
    val quarantined = spark.read.parquet(s"$wh/quarantine")
      .select("raw_event").as[String].collect().toSeq
    assert(quarantined == Seq("not json at all"))
  }

  test("startRecognized: an id-less event lands exactly once — its UR merged re-emission collapses onto the deterministic default id") {
    // ADVICE r9: with a per-parse uuid() default, an event lacking
    // message_id was re-parsed under a FRESH id when UR re-emitted it
    // merged in a later batch, so the sink MERGE kept BOTH rows. The
    // tag stage now injects md5(raw line) into the payload before
    // recognition; original and merged re-emission share that id.
    val in = tmp("graft-nomid-in"); val wh = tmp("graft-nomid-wh")
    val cp = tmp("graft-nomid-cp")
    val a1 = """{"type":"track","timestamp":"2024-01-01T00:00:00Z","anonymous_id":"anonD"}""" // NO message_id
    val i1 = """{"message_id":"i1","type":"identify","timestamp":"2024-01-01T00:02:00Z","anonymous_id":"anonD","user_id":"u5"}"""
    stage(in, "b0.txt", 1700000000000L, Seq(a1))
    stage(in, "b1.txt", 1700000060000L, Seq(i1))
    val q = EventPipeline.startRecognized(spark, in, wh, cp,
      maxFilesPerTrigger = 1, statePartitions = 2)
    StreamTest.drain(q)
    val landed = spark.read.parquet(s"$wh/events")
      .select(col("message_id"), col("user_id")).collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    val defaultMid = java.security.MessageDigest.getInstance("MD5")
      .digest(a1.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // exactly two rows: the re-emission overwrote the original in the
    // MERGE instead of landing under a second minted id
    assert(landed.keySet == Set(defaultMid, "i1"), s"got $landed")
    assert(landed(defaultMid).contains("u5"),
      s"merged re-emission failed to collapse onto the original: $landed")
  }

  test("startRecognized survives a stream RESTART: buffered anonymous state restores from the checkpoint and later identify still evicts it") {
    // both state store providers must restore the buffer from their
    // checkpoints across a process restart
    Seq("hdfs", "rocksdb").foreach { store =>
      val in = tmp(s"graft-rst-$store-in")
      val wh = tmp(s"graft-rst-$store-wh")
      val cp = tmp(s"graft-rst-$store-cp")
      val a1 = """{"message_id":"a1","type":"track","timestamp":"2024-01-01T00:00:00Z","anonymous_id":"anonR"}"""
      val i1 = """{"message_id":"i1","type":"identify","timestamp":"2024-01-01T00:05:00Z","anonymous_id":"anonR","user_id":"u7"}"""
      // run 1: only the anonymous event arrives, buffered, stream stops
      stage(in, "b0.txt", 1700000000000L, Seq(a1))
      val q1 = EventPipeline.startRecognized(spark, in, wh, cp,
        maxFilesPerTrigger = 1, statePartitions = 2,
        stateStore = store)
      StreamTest.drain(q1)
      // reference semantics: the anonymous event lands IMMEDIATELY,
      // unidentified — the later identify must OVERWRITE it via MERGE
      val landed1 = spark.read.parquet(s"$wh/events")
        .select(col("message_id"), col("user_id")).collect()
        .map(r => r.getString(0) -> Option(r.getString(1))).toMap
      assert(landed1.get("a1").contains(None),
        s"[$store] anonymous event must land unidentified first: $landed1")
      // run 2: a NEW query instance on the same checkpoint; the
      // identify arrives and must evict the RESTORED buffer merged
      stage(in, "b1.txt", 1700000060000L, Seq(i1))
      val q2 = EventPipeline.startRecognized(spark, in, wh, cp,
        maxFilesPerTrigger = 1, statePartitions = 2,
        stateStore = store)
      StreamTest.drain(q2)
      val landed = spark.read.parquet(s"$wh/events")
        .select(col("message_id"), col("user_id")).collect()
        .map(r => r.getString(0) -> Option(r.getString(1))).toMap
      assert(landed.keySet == Set("a1", "i1"), s"[$store] $landed")
      assert(landed("a1").contains("u7"),
        s"[$store] state lost across restart: buffered event " +
          "missing its merged identity")
      assert(landed("i1").contains("u7"), s"[$store] $landed")
    }
  }

  test("UR state plateaus once the lookback window saturates: eviction bounds anonymous-buffer growth") {
    // 10 six-hour batches of purely-anonymous skewed traffic against a
    // 1-day lookback: state must CLIMB while the window fills (~5
    // batches: 4 in the lookback + 1 for the watermark lag) and then
    // stop growing — each batch's arrivals balanced by timeout-expired
    // evictions. This is the property that makes the reference's 30-day
    // buffer (user-recognition.ts:16) safe on a year-running stream.
    val samples = graft.tools.UrStateProbe.run(spark, numBatches = 10,
      eventsPerBatch = 500, hoursPerBatch = 6, lookbackDays = 1,
      statePartitions = 2, stateStore = "hdfs")
    val rows = samples.map(_.stateRows)
    assert(rows.length >= 10, s"got ${rows.length} samples")
    // growth phase: monotone while the window fills
    assert(rows.take(5) == rows.take(5).sorted && rows(4) > rows(0),
      s"no growth phase: $rows")
    // saturation: nothing after the horizon ever exceeds the filled
    // window's level — lifetime-independent state
    val plateau = rows(5)
    assert(rows.drop(5).forall(_ <= plateau),
      s"state kept growing past the lookback horizon: $rows")
    // and eviction is doing the bounding, not a stalled stream: the
    // plateau sits at ~window-size keys, far below total distinct keys
    // ingested (every batch brought a fresh key set)
    val perBatchKeys = rows(0)
    assert(plateau < perBatchKeys * 8,
      s"plateau $plateau not bounded near the 6-batch window: $rows")
  }

  test("startConversations: ingest stream -> SFT conversations + DPO pairs land in the warehouse, matching batch assembly") {
    import spark.implicits._
    val in = tmp("graft-cv-in"); val wh = tmp("graft-cv-wh")
    // second-floored event times: the documented stream/batch gap
    // parity contract holds on second granularity (session_window
    // splits at >= gap+1s vs the batch rule's strict >)
    val env = DriverEventsAdapter.load(spark, sf)
      .withColumn("timestamp", date_trunc("second", col("timestamp")))
      .withColumn("received_at", date_trunc("second", col("received_at")))
    val sentinel = """{"message_id":"zz-sent","type":"track","event":"view",""" +
      """"timestamp":"2090-01-01T00:00:00.000Z","user_id":"zz"}"""
    env.select(to_json(struct(env.columns.map(col): _*)).as("value"))
      .unionAll(Seq(sentinel).toDF("value"))
      .coalesce(1).write.mode("overwrite").text(in)
    // one batch holds everything; the trailing no-data micro-batch sees
    // the sentinel-advanced watermark and closes every real window
    val qc = EventPipeline.startConversations(spark, in, wh,
      tmp("graft-cv-cp1"), mode = "conversations", gapMinutes = 1440)
    StreamTest.drain(qc)
    val qp = EventPipeline.startConversations(spark, in, wh,
      tmp("graft-cv-cp2"), mode = "preference_pairs")
    StreamTest.drain(qp)
    // batch expectation: the SAME event frame the pipeline derives
    val evts = env.select(
      col("message_id").as("event_id"),
      col("timestamp").as("ts"),
      coalesce(col("user_id"), col("anonymous_id")).as("user_id"),
      coalesce(col("event"), col("type")).as("event_type"),
      get_json_object(col("properties"), "$.value")
        .cast("double").as("value"),
      col("properties").as("props"))
    val convCols = Seq("user_id", "n_turns", "all_turns",
      "total_tokens", "truncated", "text")
    val gotConv = spark.read.parquet(s"$wh/conversations")
      .filter(col("user_id") =!= "zz")
      .select(convCols.map(col): _*).collect().map(_.toSeq).toSet
    val wantConv = graft.operators.Conversations
      .assemble(evts, gapMinutes = 1440)
      .select(convCols.map(col): _*).collect().map(_.toSeq).toSet
    assert(gotConv == wantConv && gotConv.nonEmpty,
      s"conversations: stream ${gotConv.size} != batch ${wantConv.size}")
    val pairCols = Seq("pair_id", "user_id", "day", "chosen_id",
      "rejected_id", "margin_cents", "n_candidates")
    val gotPairs = spark.read.parquet(s"$wh/preference_pairs")
      .filter(col("user_id") =!= "zz")
      .select(pairCols.map(col): _*).collect().map(_.toSeq).toSet
    val wantPairs = graft.operators.Conversations.preferencePairs(evts)
      .select(pairCols.map(col): _*).collect().map(_.toSeq).toSet
    assert(gotPairs == wantPairs && gotPairs.nonEmpty,
      s"pairs: stream ${gotPairs.size} != batch ${wantPairs.size}")
  }

  test("batch/stream symmetry: same transform graph, same result") {
    val in = tmp("graft-in2")
    writeJsonEvents(in)
    val batchDf = spark.read.text(in)
    val out = EventPipeline.transform(batchDf)
    val direct = graft.operators.Layouts.segmentSingleTable(
      DriverEventsAdapter.load(spark, sf))
    assert(out.count() == direct.count())
    assert(out.columns.sorted.sameElements(direct.columns.sorted))
  }

  test("corrupt JSON lines land in the quarantine table, not the void") {
    val in = tmp("graft-q-in"); val wh = tmp("graft-q-wh"); val cp = tmp("graft-q-cp")
    val env = DriverEventsAdapter.load(spark, sf).limit(50)
    val good = env.select(to_json(struct(env.columns.map(col): _*)).as("value"))
    val bad = Seq(
      "this is not json at all",
      // parseable but no event time: NOT quarantined — timestamp
      // defaults to received_at/processing time (reference ingest
      // semantics) and the event flows through dedup + layout
      """{"message_id":"mX","type":"track"}"""
    ).toDF("value")
    good.unionAll(bad).coalesce(1).write.mode("overwrite").text(in)
    val q = EventPipeline.start(spark, in, wh, cp)
    StreamTest.drain(q)
    val events = spark.read.parquet(s"$wh/events")
    assert(events.count() == 51)
    assert(events.filter(col("message_id") === "mX")
      .filter(col("timestamp").isNotNull).count() == 1)
    val quarantined = spark.read.parquet(s"$wh/quarantine")
    assert(quarantined.count() == 1)
    assert(quarantined.filter(col("error") === "parse_error").count() == 1)
    assert(quarantined.filter(col("raw_event").contains("not json")).count() == 1)
  }

  test("startRecognized quarantines corrupt lines from every micro-batch under the dedup sink") {
    // quarantine rows carry no message_id: under the default
    // deduplicate=true sink, a LATER batch's corrupt line must append
    // to the quarantine table, not MERGE it on the primary key
    val in = tmp("graft-rq-in"); val wh = tmp("graft-rq-wh"); val cp = tmp("graft-rq-cp")
    stage(in, "b0.txt", 1700000000000L, Seq(
      """{"message_id":"g1","type":"track","timestamp":"2024-01-01T00:00:00Z","anonymous_id":"anonQ"}""",
      "corrupt line one"))
    stage(in, "b1.txt", 1700000060000L, Seq(
      """{"message_id":"g2","type":"track","timestamp":"2024-01-01T00:01:00Z","anonymous_id":"anonQ"}""",
      "corrupt line two"))
    val q = EventPipeline.startRecognized(spark, in, wh, cp,
      maxFilesPerTrigger = 1, statePartitions = 2)
    StreamTest.drain(q)
    val quarantined = spark.read.parquet(s"$wh/quarantine")
      .select("raw_event", "error").as[(String, String)].collect().toSeq.sorted
    assert(quarantined == Seq(("corrupt line one", "parse_error"),
      ("corrupt line two", "parse_error")), s"got $quarantined")
    assert(spark.read.parquet(s"$wh/events").select("message_id")
      .as[String].collect().toSet == Set("g1", "g2"))
  }

  test("S9: write-key auth routes rejects to quarantine with the hint, never the secret") {
    val in = tmp("graft-a-in"); val wh = tmp("graft-a-wh"); val cp = tmp("graft-a-cp")
    val env0 = DriverEventsAdapter.load(spark, sf).limit(60)
    // bearer-form tokens keyed off the adapter's own wk0/wk1/wk2 split:
    // wk0 good secret, wk1 wrong secret, wk2 a bare key id (no ':')
    val env = env0.withColumn("write_key",
      when(col("write_key") === "wk0", lit("wk0:spec-secret-0"))
        .when(col("write_key") === "wk1", lit("wk0:wrong"))
        .otherwise(lit("wk0")))
    env.select(to_json(struct(env.columns.map(col): _*)).as("value"))
      .coalesce(1).write.mode("overwrite").text(in)
    val keys = Seq(("wk0", graft.sources.WriteKeyAuth.createHash(
      "spec-secret-0", salt = Some("specsalt")))).toDF("id", "credential")
    val q = EventPipeline.start(spark, in, wh, cp, authKeys = Some(keys))
    StreamTest.drain(q)
    val nGood = env.filter(col("write_key") === "wk0:spec-secret-0").count()
    val nWrong = env.filter(col("write_key") === "wk0:wrong").count()
    val events = spark.read.parquet(s"$wh/events")
    assert(events.count() == nGood)
    val quarantined = spark.read.parquet(s"$wh/quarantine")
    assert(quarantined.count() == 60 - nGood)
    // the 401 records the loggable hint; the secret never lands
    assert(quarantined.filter(
      col("error").startsWith("invalid_write_key:")).count() == 60 - nGood)
    assert(quarantined.filter(col("error").contains("wrong")).count() == 0)
    // the hint abbreviates the keyId SEGMENT only — the secret's tail
    // ('ong' from ':wrong') must never appear in the persisted error
    assert(quarantined.filter(col("error") === "invalid_write_key:wk0")
      .count() == 60 - nGood)
    assert(nWrong > 0)
  }

  test("S9: an auth-rejected event does not poison dedup state — a retry under a fixed key lands") {
    val in = tmp("graft-ar-in"); val wh = tmp("graft-ar-wh"); val cp = tmp("graft-ar-cp")
    val env = DriverEventsAdapter.load(spark, sf).limit(20)
    val keys = Seq(("wk0", graft.sources.WriteKeyAuth.createHash(
      "spec-secret-0", salt = Some("specsalt")))).toDF("id", "credential")
    def run(secret: String, tag: String): Unit = {
      // identical events (same message_ids) both runs; only the key
      // secret differs — the misconfigured-client-then-fix scenario
      val withKey = env.withColumn("write_key", lit(s"wk0:$secret"))
      withKey.select(to_json(struct(withKey.columns.map(col): _*)).as("value"))
        .coalesce(1).write.mode("overwrite").text(s"$in/$tag")
      // wide watermark: both runs replay the SAME event times, so the
      // retry must not be droppable as late data either
      val q = EventPipeline.start(spark, s"$in/$tag", wh,
        s"$cp/$tag", authKeys = Some(keys), dedupWatermark = "2400 hours")
      StreamTest.drain(q)
    }
    run("wrong", "r1")
    assert(!new java.io.File(s"$wh/events").exists() ||
      spark.read.parquet(s"$wh/events").isEmpty)
    assert(spark.read.parquet(s"$wh/quarantine").count() == 20)
    // the retry: same message_ids, fixed secret. If the rejected run
    // had claimed the ids in dedup state these would silently vanish;
    // the reference's 401 has no side effects, so they must all land.
    run("spec-secret-0", "r1") // SAME checkpoint: same stream, new files
    val events = spark.read.parquet(s"$wh/events")
    assert(events.count() == 20,
      s"retry after key fix delivered ${events.count()} of 20")
  }

  test("AvailableNow drains a multi-file source in bounded micro-batches") {
    val in = tmp("graft-mb-in"); val wh = tmp("graft-mb-wh"); val cp = tmp("graft-mb-cp")
    val env = DriverEventsAdapter.load(spark, sf)
    val json = env.select(to_json(struct(env.columns.map(col): _*)).as("value"))
    json.repartition(40).write.mode("overwrite").text(in) // > maxFilesPerTrigger=32
    val n = env.count()
    // backfill shape: batches arrive in random time order, so the dedup
    // watermark must exceed the replayed span or old events are dropped
    val q = EventPipeline.start(spark, in, wh, cp,
      dedupWatermark = "2400 hours")
    StreamTest.drain(q)
    val landed = spark.read.parquet(s"$wh/events")
    assert(landed.count() == n) // every batch appended, none lost/duplicated
    assert(landed.select("message_id").distinct().count() == n)
    // the run really was incremental: multiple committed micro-batches
    val commits = Option(new java.io.File(s"$cp/commits").listFiles())
      .getOrElse(Array.empty).count(!_.getName.contains("."))
    assert(commits >= 2, s"expected >=2 micro-batches, saw $commits")
  }

  test("streaming metrics side-channel maintains windowed rollup (K6)") {
    val cp = tmp("graft-met-cp"); val out = tmp("graft-met-out")
    val in = tmp("graft-met-in")
    Seq(
      """{"message_id":"m1","connection_id":"c1","type":"track","timestamp":"2024-01-01T10:00:10.000Z"}""",
      """{"message_id":"m2","connection_id":"c1","type":"track","timestamp":"2024-01-01T10:00:50.000Z"}""",
      """{"message_id":"m3","connection_id":"c1","type":"page","timestamp":"2024-01-01T10:01:10.000Z"}""",
      // far-future event closes the earlier 1-minute windows
      """{"message_id":"zz","connection_id":"c9","type":"track","timestamp":"2024-01-01T12:00:00.000Z"}"""
    ).toDF("value").coalesce(1).write.mode("overwrite").text(in)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "message_id STRING, connection_id STRING, type STRING, timestamp TIMESTAMP")
    val stream = spark.readStream.schema(schema).json(in)
    val q = EventPipeline.startMetrics(stream, cp, out)
    StreamTest.processAll(q)
    val got = spark.read.parquet(out)
      .select(date_format(col("period"), "HH:mm").as("minute"),
        col("connection_id"), col("type"), col("events"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSet
    assert(got.contains(("10:00", "c1", "track", 2L)))
    assert(got.contains(("10:01", "c1", "page", 1L)))
  }

  test("streaming daily HLL sketches merge into sliding actives that " +
    "match the exact batch computation") {
    val cp = tmp("graft-hll-cp"); val out = tmp("graft-hll-out")
    val in = tmp("graft-hll-in")
    val rnd = new scala.util.Random(7)
    val lines = (0 until 120).map { _ =>
      val u = rnd.nextInt(30); val day = 1 + rnd.nextInt(4)
      s"""{"anonymous_id":"u$u","timestamp":"2024-03-0${day}T0${rnd.nextInt(9)}:00:00.000Z"}"""
    } :+ // far-future event advances the watermark past every real day
      """{"anonymous_id":"zz","timestamp":"2024-03-20T00:00:00.000Z"}"""
    lines.toDF("value").coalesce(1).write.mode("overwrite").text(in)
    val stream = spark.readStream.schema(
      org.apache.spark.sql.types.StructType.fromDDL(
        "anonymous_id STRING, timestamp TIMESTAMP")).json(in)
    val q = EventPipeline.startDailySketches(stream, "anonymous_id",
      "timestamp", cp, out)
    StreamTest.processAll(q)
    val daily = spark.read.parquet(out)
    // the four real days closed (the sentinel's own day stays open)
    assert(daily.count() == 4)
    val approx = graft.operators.TimeSeries
      .slidingFromDailySketches(daily, windowDays = 3)
      .as[(java.sql.Date, Long)].collect().toMap
    val exact = graft.operators.TimeSeries.slidingDistinct(
        spark.read.schema(org.apache.spark.sql.types.StructType.fromDDL(
            "anonymous_id STRING, timestamp TIMESTAMP")).json(in)
          .filter(col("anonymous_id") =!= "zz")
          .select(col("anonymous_id").as("key"),
            to_date(col("timestamp")).as("d")), 3)
      .as[(java.sql.Date, Long)].collect().toMap
    assert(approx.keySet == exact.keySet)
    // HLL is exact in sparse mode at 30 keys
    exact.foreach { case (d, n) => assert(approx(d) == n, s"day $d") }
  }

  test("kafka-wire schema adapts into the pipeline's value frame") {
    val env = DriverEventsAdapter.load(spark, sf)
    val json = env.select(to_json(struct(env.columns.map(col): _*)).as("v"))
    // the connector's fixed output schema, built statically
    val kafkaShaped = json.select(
      lit(null).cast("binary").as("key"),
      col("v").cast("binary").as("value"),
      lit("events").as("topic"), lit(0).as("partition"),
      monotonically_increasing_id().as("offset"),
      current_timestamp().as("timestamp"), lit(0).as("timestampType"))
    val out = EventPipeline.transform(EventPipeline.fromKafkaWire(kafkaShaped))
    val direct = graft.operators.Layouts.segmentSingleTable(env)
    assert(out.count() == direct.count())
    assert(out.columns.sorted.sameElements(direct.columns.sorted))
  }

  test("kafka-wire meta projection surfaces partition/offset/headers") {
    val withHeaders = Seq(("""{"type":"track"}""", 3, 42L)).toDF("v", "p", "o")
      .select(col("v").cast("binary").as("value"),
        lit("events").as("topic"), col("p").as("partition"),
        col("o").as("offset"),
        to_timestamp(lit("2024-01-01 00:00:00")).as("timestamp"),
        lit(0).as("timestampType"),
        array(struct(lit("retries").as("key"),
          lit("2").cast("binary").as("value"))).as("headers"))
    val meta = EventPipeline.fromKafkaWire(withHeaders, withMeta = true)
    val r = meta.select(col("value"), col("_kafka_partition"),
      col("_kafka_offset"), EventPipeline.kafkaHeader("retries")).head
    assert(r.getString(0) == """{"type":"track"}""")
    assert(r.getInt(1) == 3 && r.getLong(2) == 42L && r.getString(3) == "2")
    // headers column absent (includeHeaders off) -> null map, same schema
    val noHeaders = EventPipeline.fromKafkaWire(
      withHeaders.drop("headers"), withMeta = true)
    assert(noHeaders.select(EventPipeline.kafkaHeader("retries")).head.isNullAt(0))
  }

  test("streaming sessionization: session_window aggregates under watermark") {
    val in = tmp("graft-sess-in")
    Seq(
      """{"anonymous_id":"a1","timestamp":"2024-01-01T10:00:00.000Z"}""",
      """{"anonymous_id":"a1","timestamp":"2024-01-01T10:20:00.000Z"}""",
      """{"anonymous_id":"a1","timestamp":"2024-01-01T11:30:00.000Z"}""",
      """{"anonymous_id":"a2","timestamp":"2024-01-01T10:00:00.000Z"}""",
      // far-future event advances the watermark so earlier windows close
      """{"anonymous_id":"zz","timestamp":"2024-01-02T00:00:00.000Z"}"""
    ).toDF("value").coalesce(1).write.mode("overwrite").text(in)
    val stream = spark.readStream.schema(
      org.apache.spark.sql.types.StructType.fromDDL(
        "anonymous_id STRING, timestamp TIMESTAMP")).json(in)
    val sessions = stream
      .withWatermark("timestamp", "10 minutes")
      .groupBy(col("anonymous_id"),
        session_window(col("timestamp"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
    val q = sessions.writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    StreamTest.processAll(q)
    val got = spark.table("sess_out")
      .select("anonymous_id", "n_events")
      .as[(String, Long)].collect().groupBy(_._1)
    // a1: 2 sessions ({10:00,10:20}, {11:30}); a2: 1 session
    assert(got("a1").map(_._2).sorted.toSeq == Seq(1L, 2L))
    assert(got("a2").map(_._2).toSeq == Seq(1L))
  }

  /** [[UserRecognition.streamingResolveConfigured]] under the default
    * `URConfig()` (anonymous_id -> user_id) over the json-lines in `in`,
    * into memory table `name`; returns (message_id, user_id or "") per
    * emission, sorted. */
  private def resolveEnvelope(in: String, name: String): Seq[(String, String)] = {
    val schema = "message_id STRING, anonymous_id STRING, user_id STRING, timestamp TIMESTAMP"
    val stream = spark.readStream.schema(
      org.apache.spark.sql.types.StructType.fromDDL(schema)).json(in)
    val q = UserRecognition.streamingResolveConfigured(stream,
        UserRecognition.URConfig())
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append).start()
    StreamTest.processAll(q)
    idUser(spark.table(name).as[String].collect().toSeq)
  }

  test("streaming user recognition recovers buffered anonymous events") {
    val in = tmp("graft-ur-in")
    Seq(
      """{"message_id":"m1","anonymous_id":"a1","user_id":null,"timestamp":"2024-01-01T10:00:00.000Z"}""",
      """{"message_id":"m2","anonymous_id":"a1","user_id":null,"timestamp":"2024-01-01T10:05:00.000Z"}""",
      """{"message_id":"m3","anonymous_id":"a1","user_id":"u42","timestamp":"2024-01-01T10:10:00.000Z"}""",
      """{"message_id":"m4","anonymous_id":"a2","user_id":null,"timestamp":"2024-01-01T10:15:00.000Z"}"""
    ).toDF("value").coalesce(1).write.mode("overwrite").text(in)
    val got = resolveEnvelope(in, "ur_out")
    // reference semantics (user-recognition.ts, pinned by its test):
    // anonymous events EMIT IMMEDIATELY unchanged and buffer; an
    // identify re-emits them merged. All four events here share ONE
    // micro-batch, so the merged versions REPLACE the just-emitted
    // originals in place (a batch must never hand the sink both
    // versions of a message); m4 emits unidentified and stays buffered
    assert(got == Seq(
      ("m1", "u42"), ("m2", "u42"), ("m3", "u42"),
      ("m4", "")).sorted, s"got $got")
  }

  test("streaming UR re-identifies per message: keyless passthrough and a second identify on one key") {
    val in = tmp("graft-urk-in")
    Seq(
      """{"message_id":"m1","anonymous_id":"a1","user_id":null,"timestamp":"2024-01-01T10:00:00.000Z"}""",
      """{"message_id":"m2","anonymous_id":"a1","user_id":null,"timestamp":"2024-01-01T10:05:00.000Z"}""",
      """{"message_id":"m3","anonymous_id":"a1","user_id":"u42","timestamp":"2024-01-01T10:10:00.000Z"}""",
      """{"message_id":"m4","anonymous_id":"a2","user_id":null,"timestamp":"2024-01-01T10:15:00.000Z"}""",
      """{"message_id":"m5","anonymous_id":null,"user_id":"u7","timestamp":"2024-01-01T10:16:00.000Z"}""",
      """{"message_id":"m6","anonymous_id":"a1","user_id":null,"timestamp":"2024-01-01T10:20:00.000Z"}""",
      """{"message_id":"m7","anonymous_id":"a1","user_id":"u43","timestamp":"2024-01-01T10:25:00.000Z"}"""
    ).toDF("value").coalesce(1).write.mode("overwrite").text(in)
    val got = resolveEnvelope(in, "ur_chain")
    // pass-through emissions + the re-identification chain: m1/m2
    // re-emit under u42, m6 under u43; m5 is the keyless passthrough;
    // m4 emits unidentified and stays buffered in state
    assert(got.count(_ == ("m1", "u42")) == 1)
    assert(got.count(_ == ("m6", "u43")) == 1)
    assert(got.count(_ == ("m5", "u7")) == 1)
    assert(got.count(_ == ("m4", "")) == 1)
    assert(got.count(_._1 == "m4") == 1) // never re-identified
  }

  test("UR late keyless rows: dropped behind the watermark, delivered once within it") {
    // the documented deviation at UserRecognition.tagRawLines: keyless
    // events ride through the stateful operator, so its late-row filter
    // governs them like keyed rows. Batch 0's keyed event moves the
    // watermark to 11:00 (12:00 minus the 1 hour delay). Spark filters
    // late rows against the PREVIOUS batch's watermark, so batch 1 only
    // carries a filler keyed event and batch 2 tests: its 10:00 keyless
    // event is late, its 11:30 one is not.
    val in = tmp("graft-lk-in")
    stage(in, "b0.txt", 1700000000000L, Seq(
      """{"message_id":"k0","type":"page","anonymous_id":"a1","timestamp":"2024-01-01T12:00:00Z"}"""))
    stage(in, "b1.txt", 1700000060000L, Seq(
      """{"message_id":"k1","type":"page","anonymous_id":"a2","timestamp":"2024-01-01T12:00:00Z"}"""))
    stage(in, "b2.txt", 1700000120000L, Seq(
      """{"message_id":"late","type":"track","timestamp":"2024-01-01T10:00:00Z"}""",
      """{"message_id":"ok","type":"track","timestamp":"2024-01-01T11:30:00Z"}"""))
    val got = idUser(resolveLines(in, "ur_late_keyless",
      UserRecognition.URConfig()))
    assert(got == Seq(("k0", ""), ("k1", ""), ("ok", "")), s"got $got")
  }

  test("configurable streaming UR merges identifier fields (traits email)") {
    val in = tmp("graft-urc-in")
    Seq(
      """{"message_id":"m1","anonymous_id":"a1","user_id":null,"traits":null,"timestamp":"2024-01-01T10:00:00.000Z"}""",
      """{"message_id":"m2","anonymous_id":"a1","user_id":null,"traits":null,"timestamp":"2024-01-01T10:05:00.000Z"}""",
      """{"message_id":"m3","anonymous_id":"a1","user_id":"u42","traits":"{\"email\":\"u42@x.io\",\"plan\":\"pro\"}","timestamp":"2024-01-01T10:10:00.000Z"}"""
    ).toDF("value").coalesce(1).write.mode("overwrite").text(in)
    val schema = "message_id STRING, anonymous_id STRING, user_id STRING, " +
      "traits STRING, timestamp TIMESTAMP"
    val stream = spark.readStream.schema(
      org.apache.spark.sql.types.StructType.fromDDL(schema)).json(in)
    val resolved = UserRecognition.streamingResolveConfigured(stream,
      UserRecognition.URConfig(identifierFields = Seq("user_id", "traits")))
    val q = resolved.writeStream.format("memory").queryName("urc_out")
      .outputMode(OutputMode.Append).start()
    StreamTest.processAll(q)
    val got = spark.table("urc_out").as[String].collect()
      .map { j =>
        val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(j)
        n.get("message_id").asText() ->
          (Option(n.get("user_id")).map(_.asText()).getOrElse(""),
            Option(n.get("traits")).filterNot(_.isNull).map(_.asText()).getOrElse(""))
      }.toMap
    // both buffered anon events recovered with the identifying event's
    // user_id AND traits installed
    assert(got("m1")._1 == "u42" && got("m1")._2.contains("u42@x.io"))
    assert(got("m2")._1 == "u42" && got("m2")._2.contains("u42@x.io"))
    assert(got("m3")._1 == "u42")
  }

  test("stream-stream attribution: in-window pairs only, append under watermarks") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import java.sql.Timestamp
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(m: Int): Timestamp = Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    val imps = MemoryStream[(String, Timestamp, String)]
    val convs = MemoryStream[(String, Timestamp, String)]
    val out = graft.streaming.Attribution.attribute(
      imps.toDF().toDF("user_id", "ts", "imp_id"),
      convs.toDF().toDF("user_id", "ts", "conv_id"),
      "user_id", windowSeconds = 300, watermark = "5 minutes")
    val q = out.writeStream.format("memory").queryName("attr")
      .outputMode("append").start()
    try {
      imps.addData(("u1", ts(0), "i1"), ("u2", ts(0), "i2"),
        ("u1", ts(20), "i3"))
      convs.addData(
        ("u1", ts(3), "c1"),   // 3 min after i1 -> attributed
        ("u2", ts(9), "c2"),   // 9 min after i2 -> outside 5-min window
        ("u3", ts(2), "c3"))   // no impression -> dropped (inner join)
      StreamTest.processAllBounded(q)
      // advance both watermarks far enough to finalize earlier matches
      imps.addData(("u9", ts(40), "i9"))
      convs.addData(("u9", ts(41), "c9"))
      StreamTest.processAllBounded(q)
      val rows = spark.table("attr")
        .select("imp_id", "conv_id", "lag_seconds")
        .as[(String, String, Long)].collect().toSet
      assert(rows.contains(("i1", "c1", 180L)), s"missing i1/c1 in $rows")
      assert(rows.contains(("i9", "c9", 60L)))
      assert(!rows.exists(_._2 == "c2"), "out-of-window conversion attributed")
      assert(!rows.exists(_._2 == "c3"), "conversion without impression")
      // the physical plan is a real stream-stream join with state
      assert(q.lastProgress.stateOperators.nonEmpty)
    } finally q.stop()
  }

  test("progress log captures per-batch rows, bounded by capacity") {
    val in = tmp("graft-in"); val wh = tmp("graft-wh"); val cp = tmp("graft-cp")
    val n = writeJsonEvents(in)
    val log = new graft.streaming.ProgressLog(capacity = 2)
    spark.streams.addListener(log)
    try {
      val q = EventPipeline.start(spark, in, wh, cp)
      StreamTest.processAll(q)
      // listener events are delivered async; wait for at least one
      val deadline = System.currentTimeMillis() + 20000
      while (log.snapshot.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      val rows = log.snapshot
      assert(rows.nonEmpty, "no progress captured")
      assert(rows.size <= 2, "ring must honor capacity")
      assert(rows.exists(_.numInputRows > 0), s"no input rows in $rows")
      assert(rows.forall(_.batchDurationMs >= 0))
      val df = log.toDf(spark)
      assert(df.columns.contains("stateRows") && df.count() == rows.size)
    } finally spark.streams.removeListener(log)
  }

  test("identifier deep merge: JSON-object fields merge at key level, identified wins") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val merged = UserRecognition.mergeIdentifiers(mapper, Seq("user_id", "traits"))(
      """{"message_id":"b1","traits":"{\"plan\":\"free\",\"tz\":\"UTC\"}"}""",
      """{"user_id":"u1","traits":"{\"email\":\"e@x.io\",\"plan\":\"pro\"}"}""")
    val n = mapper.readTree(merged)
    assert(n.get("user_id").asText() == "u1")
    val traits = mapper.readTree(n.get("traits").asText())
    assert(traits.get("plan").asText() == "pro")   // identified key wins
    assert(traits.get("tz").asText() == "UTC")     // own key survives
    assert(traits.get("email").asText() == "e@x.io")
  }

  test("streamingQuotaFlags: running admission counter across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import java.sql.Timestamp
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(m: Int): Timestamp = Timestamp.valueOf(f"2024-02-01 10:$m%02d:00")
    val in = MemoryStream[(String, Timestamp, Long)]
    val out = graft.operators.MetricsAgg.streamingQuotaFlags(
      in.toDF().toDF("workspace_id", "ts", "event_id"), quota = 3L)
    val q = out.writeStream.format("memory").queryName("quota")
      .outputMode("append").start()
    try {
      // batch 1: 2 events for w1 (out of order within the batch), 1 for w2
      in.addData(("w1", ts(5), 2L), ("w1", ts(1), 1L), ("w2", ts(0), 10L))
      StreamTest.processAllBounded(q)
      // batch 2: two more w1 events — the counter must CONTINUE at 3
      in.addData(("w1", ts(9), 3L), ("w1", ts(8), 4L))
      StreamTest.processAllBounded(q)
      val got = spark.table("quota")
        .select("workspace_id", "event_id", "seq", "billable")
        .as[(String, Long, Long, Boolean)].collect().toSet
      assert(got == Set(
        ("w1", 1L, 1L, true), ("w1", 2L, 2L, true), // batch-1, (ts,id) order
        ("w2", 10L, 1L, true),
        ("w1", 4L, 3L, true),  // batch-2 continues: seq 3 admitted
        ("w1", 3L, 4L, false)  // quota 3 exhausted -> over-quota
      ), s"got $got")
    } finally q.stop()
  }

  test("pipeline quota: billable flags continue across a stream restart") {
    val in = tmp("graft-in"); val wh = tmp("graft-wh"); val cp = tmp("graft-cp")
    val env = DriverEventsAdapter.load(spark, sf)
      .filter(col("write_key") === "wk0")
      .orderBy(col("timestamp"), col("message_id"))
      .limit(12)
      .persist()
    val ordered = env.select(col("message_id"))
      .as[String].collect().toSeq
    val (first, second) = (ordered.take(7).toSet, ordered.drop(7).toSet)
    def stage(dir: String, ids: Set[String]): Unit =
      env.filter(col("message_id").isin(ids.toSeq: _*))
        .select(to_json(struct(env.columns.map(col): _*)).as("value"))
        .coalesce(1).write.mode("overwrite").text(dir)
    stage(in, first)
    val q1 = EventPipeline.start(spark, in, wh, cp, quotaPerMonth = Some(9L))
    StreamTest.processAll(q1)
    // second tranche arrives after a restart: the durable delta counter
    // must keep counting from 7, so exactly 2 of these are billable
    env.filter(col("message_id").isin(second.toSeq: _*))
      .select(to_json(struct(env.columns.map(col): _*)).as("value"))
      .coalesce(1).write.mode("append").text(in)
    val q2 = EventPipeline.start(spark, in, wh, cp, quotaPerMonth = Some(9L))
    StreamTest.processAll(q2)
    val landed = spark.read.parquet(s"$wh/events")
      .select(col("message_id"), col("billable"))
      .as[(String, Boolean)].collect().toMap
    assert(landed.size == 12)
    assert(first.forall(landed(_)), "first tranche fully billable")
    assert(landed.count(_._2) == 9,
      s"quota 9 must admit exactly 9: $landed")
    env.unpersist(false)
  }

  test("pipeline quota works under jitsu-legacy layout (id column renamed by the layout)") {
    val in = tmp("graft-in"); val wh = tmp("graft-wh"); val cp = tmp("graft-cp")
    val env = DriverEventsAdapter.load(spark, sf)
      .filter(col("write_key") === "wk0")
      .orderBy(col("timestamp"), col("message_id"))
      .limit(6)
    env.select(to_json(struct(env.columns.map(col): _*)).as("value"))
      .coalesce(1).write.mode("overwrite").text(in)
    // jitsuLegacy renames message_id -> eventn_ctx_event_id; the quota
    // flag join must follow the rename instead of failing analysis
    val q = EventPipeline.start(spark, in, wh, cp,
      layout = "jitsu-legacy", quotaPerMonth = Some(4L))
    StreamTest.processAll(q)
    val landed = spark.read.parquet(s"$wh/events")
      .select(col("eventn_ctx_event_id"), col("billable"))
      .as[(String, Boolean)].collect().toMap
    assert(landed.size == 6)
    assert(landed.count(_._2) == 4,
      s"quota 4 must admit exactly 4: $landed")
  }

  test("UR gen transition: redelivered payload after identify keeps the merged row") {
    // ADVICE r10: the replacement slot is keyed by MESSAGE ID, not
    // payload bytes — the redelivery here is byte-DIFFERENT (re-stamped
    // ts, extra whitespace) but same-id, and must still land in the
    // merged row's slot instead of emitting a second unmerged row.
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import org.apache.spark.api.java.Optional
    import graft.operators.UserRecognition.{URGenEvent, URGenState}
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-01-01 10:01:00")
    val t2 = java.sql.Timestamp.valueOf("2024-01-01 10:02:00")
    val anonP = """{"message_id":"m1","anonymous_id":"a1"}"""
    val anonRedeliveredP = """{"message_id":"m1", "anonymous_id":"a1"}"""
    val identP = """{"message_id":"m3","anonymous_id":"a1","user_id":"u42"}"""
    val state = TestGroupState.create[URGenState](Optional.empty(),
      GroupStateTimeout.EventTimeTimeout, 0L, Optional.of(0L),
      hasTimedOut = false)
    val out = UserRecognition.urGenTransition(86400000L, Seq("user_id"))(
      "a1", Iterator(URGenEvent("a1", ident = false, t0, "m1", anonP),
        URGenEvent("a1", ident = true, t1, "m3", identP),
        URGenEvent("a1", ident = false, t2, "m1", anonRedeliveredP)),
      state).toList
    assert(out.size == 2, s"got $out")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val first = mapper.readTree(out.head)
    assert(first.get("message_id").asText() == "m1")
    assert(first.get("user_id") != null &&
      first.get("user_id").asText() == "u42",
      s"redelivery downgraded the merged payload: ${out.head}")
    assert(out(1) == identP)
    // the redelivered original re-buffers (ref addEvent always buffers)
    assert(state.get.buffered.map(_.mid) == List("m1"))
  }

  test("tagRawLines defaults a missing message_id deterministically, injected into the payload") {
    // ADVICE r9: a per-parse uuid() default meant a UR merged
    // re-emission (or a post-crash foreachBatch replay) re-parsed an
    // id-less line under a FRESH id, so the sink MERGE could never
    // collapse it. The tag stage now injects md5(raw line) into the
    // payload itself, so every re-parse sees the same id.
    import graft.operators.UserRecognition
    val cfg = UserRecognition.URConfig()
    val tagNames = UserRecognition.tagFields(cfg)
    val tagSchema = org.apache.spark.sql.types.StructType(
      graft.schema.EventSchema.envelope.fields.filter(f =>
        tagNames.contains(f.name)))
    val lines = Seq(
      """{"anonymous_id":"a1","timestamp":"2024-01-01T10:00:00.000Z"}""",
      """{}""",
      """{"message_id":"mX","anonymous_id":"a1","timestamp":"2024-01-01T10:01:00.000Z"}""")
    def tag(): Seq[String] = {
      val df = lines.toDF("payload")
        .withColumn("e", from_json(col("payload"), tagSchema))
      UserRecognition.tagRawLines(df, cfg).collect()
        .map(_.getAs[String]("payload")).toSeq
    }
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def mid(payload: String): String =
      mapper.readTree(payload).get("message_id").asText()
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val got = tag()
    got.foreach { p =>
      // every tagged payload parses as a JSON object WITH a message_id
      assert(mapper.readTree(p).isObject, p)
      assert(mid(p).nonEmpty, p)
    }
    // id-less lines (incl. the empty object) got md5(raw line); the
    // line that already had an id is byte-identical to its input
    val byMid = got.map(p => mid(p) -> p).toMap
    assert(byMid.contains(md5hex(lines.head)), s"got $got")
    assert(byMid.contains(md5hex("{}")), s"got $got")
    assert(byMid("mX") == lines(2))
    // deterministic: a second tagging pass produces the same payloads
    assert(tag() == got)
  }

  test("tagRawLines strips an explicit message_id:null before injecting") {
    // ADVICE r10 (medium): a payload carrying "message_id": null parses
    // to a null id, so injection fires — but JSON parsers keep the LAST
    // duplicate key, so the explicit null would override the injected
    // id unless it is stripped. Every position of the null field must
    // drop cleanly (no trailing-comma mangling).
    import graft.operators.UserRecognition
    val cfg = UserRecognition.URConfig()
    val tagNames = UserRecognition.tagFields(cfg)
    val tagSchema = org.apache.spark.sql.types.StructType(
      graft.schema.EventSchema.envelope.fields.filter(f =>
        tagNames.contains(f.name)))
    val lines = Seq(
      """{"message_id":null,"anonymous_id":"a1"}""", // first field
      """{"anonymous_id":"a1","message_id":null,"type":"page"}""", // mid
      """{"anonymous_id":"a1","message_id":null}""", // last field
      """{"message_id":null}""", // only field
      """{"anonymous_id":"a1", "message_id" : null , "type":"page"}""") // spaced
    val df = lines.toDF("payload")
      .withColumn("e", from_json(col("payload"), tagSchema))
    val got = UserRecognition.tagRawLines(df, cfg).collect()
      .map(_.getAs[String]("payload")).toSeq
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    got.zip(lines).foreach { case (p, raw) =>
      // exactly ONE message_id key survives, and it is the injected id
      assert("\"message_id\"".r.findAllIn(p).length == 1, p)
      val n = mapper.readTree(p)
      assert(n.isObject, p)
      assert(n.get("message_id").asText() == md5hex(raw),
        s"explicit null overrode the injected id: $p")
      // the original non-id fields survive the strip
      if (raw.contains("anonymous_id"))
        assert(n.get("anonymous_id").asText() == "a1", p)
      if (raw.contains("\"type\""))
        assert(n.get("type").asText() == "page", p)
    }
  }

  test("tagRawLines passes a braceless line through unchanged") {
    // ADVICE r10 (low): tagRawLines is public API — a line with no '{'
    // must not be mangled into a malformed hybrid by the id injection.
    import graft.operators.UserRecognition
    val cfg = UserRecognition.URConfig()
    val tagNames = UserRecognition.tagFields(cfg)
    val tagSchema = org.apache.spark.sql.types.StructType(
      graft.schema.EventSchema.envelope.fields.filter(f =>
        tagNames.contains(f.name)))
    val lines = Seq("not json at all", "", "12345")
    val df = lines.toDF("payload")
      .withColumn("e", from_json(col("payload"), tagSchema))
    val got = UserRecognition.tagRawLines(df, cfg).collect()
      .map(_.getAs[String]("payload")).toSeq
    assert(got.sorted == lines.sorted, s"got $got")
  }

  test("tagged-stream UR: cross-batch identify deep-merges traits, re-identification chain, id-less and keyless lines") {
    // the configurable path startRecognized runs (tagRawLines +
    // resolveTagged) — covering buffering across batches, a cross-batch
    // identify with a traits deep-merge, an id-less line, a keyless
    // line, and a never-identified key left in state.
    val in = tmp("graft-gur-in")
    val traits = """{\"email\":\"t@x.io\"}"""
    stage(in, "b0.txt", 1700000000000L, Seq(
      """{"message_id":"m1","type":"page","anonymous_id":"a1","timestamp":"2024-01-01T10:00:00Z"}""",
      """{"type":"page","anonymous_id":"a1","timestamp":"2024-01-01T10:01:00Z"}""", // id-less
      """{"message_id":"m2","type":"page","anonymous_id":"a2","timestamp":"2024-01-01T10:02:00Z"}""",
      """{"message_id":"m3","type":"track","timestamp":"2024-01-01T10:03:00Z"}""")) // keyless
    stage(in, "b1.txt", 1700000060000L, Seq(
      s"""{"message_id":"m4","type":"identify","anonymous_id":"a1","user_id":"u1","context":{"traits":"$traits"},"timestamp":"2024-01-01T10:04:00Z"}"""))
    stage(in, "b2.txt", 1700000120000L, Seq(
      """{"message_id":"m5","type":"page","anonymous_id":"a1","timestamp":"2024-01-01T10:05:00Z"}"""))
    // re-identification chain: a SECOND identify under a different
    // user drains the re-buffered m5 — the drain→rebuffer→drain cycle
    // across batches
    stage(in, "b3.txt", 1700000180000L, Seq(
      """{"message_id":"m6","type":"identify","anonymous_id":"a1","user_id":"u2","timestamp":"2024-01-01T10:06:00Z"}"""))
    val cfg = UserRecognition.URConfig(
      identifierFields = Seq("user_id", "context.traits"),
      jsonObjectFields = Set("context.traits"))
    val got = resolveLines(in, "gur", cfg)
    // m1 and the id-less a1 event re-emit merged (user_id + traits), m5
    // re-buffers after the FIRST identify and is drained by the second
    // under u2 (the chain), keyless m3 passes through once
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val parsed = got.map(mapper.readTree)
    def byId(id: String) = parsed.filter(p =>
      p.get("message_id") != null && p.get("message_id").asText() == id)
    assert(byId("m1").exists(p => p.get("user_id") != null &&
      p.get("user_id").asText() == "u1"))
    assert(byId("m1").size == 2) // original emission + merged re-emission
    assert(byId("m3").size == 1)
    assert(byId("m5").size == 2 && byId("m5").exists(p =>
      p.get("user_id") != null && p.get("user_id").asText() == "u2"),
      "m5 must re-emit under the SECOND identify's user") // the chain
    assert(byId("m2").size == 1 &&
      byId("m2").head.get("user_id") == null) // a2 never identified
  }

  test("maxBufferPerKey caps the anonymous buffer: capped events emit but never merge") {
    // beyond-ref guard (URConfig.maxBufferPerKey): a hot key's buffer
    // stops growing at the cap — capped events still EMIT unchanged but
    // never merge. Cap 3 spans TWO batches (2 buffered + 1 more, then
    // m4/m5 over the cap), so the count restored from state — not just
    // the in-batch length — is what enforces it.
    val in = tmp("graft-cap-in")
    def page(id: Int) =
      s"""{"message_id":"m$id","type":"page","anonymous_id":"a1","timestamp":"2024-01-01T10:0$id:00Z"}"""
    stage(in, "b0.txt", 1700000000000L, Seq(page(1), page(2)))
    stage(in, "b1.txt", 1700000060000L, Seq(page(3), page(4), page(5)))
    stage(in, "b2.txt", 1700000120000L, Seq(
      """{"message_id":"m6","type":"identify","anonymous_id":"a1","user_id":"u1","timestamp":"2024-01-01T10:06:00Z"}"""))
    val got = idUser(resolveLines(in, "cap",
      UserRecognition.URConfig(maxBufferPerKey = 3)))
    // m1-m3 buffered (under the cap) -> re-emit merged; m4/m5 over the
    // cap: emitted once, never merged; the identify emits itself
    assert(got == Seq(("m1", ""), ("m1", "u1"), ("m2", ""),
      ("m2", "u1"), ("m3", ""), ("m3", "u1"), ("m4", ""), ("m5", ""),
      ("m6", "u1")), got)
  }

  test("UR TTL expiry drops the buffer silently: a later identify emits only itself") {
    // lookback 0 days: the buffer's TTL is due immediately, so once the
    // watermark advances past the anonymous event (driven by an
    // unrelated key in batch 1), the timeout must drop the buffer
    // SILENTLY — the batch-3 identify then finds nothing to merge and
    // emits only itself.
    val in = tmp("graft-gexp-in")
    stage(in, "b0.txt", 1700000000000L, Seq(
      """{"message_id":"m1","type":"page","anonymous_id":"a1","timestamp":"2024-01-01T10:00:00Z"}"""))
    // b1 advances the watermark past the buffer's due time; b2 (another
    // unrelated key, with a1 receiving NO input) is the batch where the
    // expiry actually fires — a group with input takes input processing
    // over timeout, so the identify must come AFTER a batch that let
    // the timer fire
    stage(in, "b1.txt", 1700000060000L, Seq(
      """{"message_id":"m2","type":"page","anonymous_id":"a9","timestamp":"2024-01-01T12:00:00Z"}"""))
    stage(in, "b2.txt", 1700000120000L, Seq(
      """{"message_id":"m2b","type":"page","anonymous_id":"a9","timestamp":"2024-01-01T12:10:00Z"}"""))
    stage(in, "b3.txt", 1700000180000L, Seq(
      """{"message_id":"m3","type":"identify","anonymous_id":"a1","user_id":"u1","timestamp":"2024-01-01T12:30:00Z"}"""))
    val got = idUser(resolveLines(in, "gexp",
      UserRecognition.URConfig(lookbackDays = 0), watermark = "1 second"))
    // m1 emitted once (never merged — its buffer expired before the
    // identify), the identify emitted alone
    assert(got == Seq(
      ("m1", ""), ("m2", ""), ("m2b", ""), ("m3", "u1")), got)
  }
}
