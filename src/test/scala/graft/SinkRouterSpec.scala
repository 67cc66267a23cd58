package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sinks.{SinkOptions, SinkRouter}

class SinkRouterSpec extends GraftSpec {
  import spark.implicits._

  private def tmpDir() =
    Files.createTempDirectory("graft-sink").toFile.getAbsolutePath

  test("routes rows by _table and snake_cases columns") {
    val wh = tmpDir()
    val batch = Seq(
      ("m1", "2024-01-01 00:00:00", "tracks"),
      ("m2", "2024-01-01 00:00:00", "pages"),
      ("m3", "2024-01-01 00:00:00", "tracks")
    ).toDF("messageId", "ts", "_table")
    new SinkRouter(wh).write(batch)
    val tracks = spark.read.parquet(s"$wh/tracks")
    assert(tracks.count() == 2)
    assert(tracks.columns.toSeq.contains("message_id"))
    assert(spark.read.parquet(s"$wh/pages").count() == 1)
  }

  test("hostile _table names quarantine instead of escaping the warehouse root") {
    val wh = tmpDir()
    val batch = Seq(
      ("m1", "ok_table"),
      ("m2", "../escape"),          // path traversal
      ("m3", "_history"),           // internal namespace
      ("m4", "a/b"),                // separator
      ("m5", ".hidden"),            // leading dot
      ("m6", null)                  // no route at all
    ).toDF("messageId", "_table")
    new SinkRouter(wh).write(batch)
    assert(spark.read.parquet(s"$wh/ok_table").count() == 1)
    // nothing escaped: the parent of the warehouse root has no 'escape'
    assert(!new java.io.File(new java.io.File(wh).getParent, "escape").exists())
    assert(!new java.io.File(wh, "a").exists())
    // _history holds only commit entries (json), never a parquet table
    assert(new java.io.File(wh, "_history").listFiles()
      .forall(_.getName.endsWith(".json")))
    val quarantined = spark.read.parquet(s"$wh/quarantine")
    assert(quarantined.count() == 5)
    assert(quarantined.filter(col("error") === "invalid_table_name:../escape")
      .count() == 1)
    assert(quarantined.filter(col("error") === "invalid_table_name:null")
      .count() == 1)
    // the offending rows' payloads are preserved in raw_event
    assert(quarantined.filter(col("raw_event").contains("\"m2\"")).count() == 1)
  }

  test("one write routes events, dead-letter records and invalid names " +
    "in one pass; the record column never reaches an event table") {
    val wh = tmpDir()
    val ts = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    // an event column literally named `error` must not collide with the
    // dead-letter record's error
    val events = Seq[(String, java.sql.Timestamp, String, String)](
      ("m1", ts, "checkout failed", "events"),
      ("m2", ts, null, "events"),
      ("m3", ts, "e3", "../escape"),
      ("m4", ts, "e4", null),
      ("m5", ts, "e5", "quarantine") // user-supplied: a reserved name
    ).toDF("message_id", "timestamp", "error", "_table")
    val records = SinkRouter.quarantine(
      Seq(("not json", "parse_error"), ("{\"type\":", "parse_error"))
        .toDF("line", "why"), col("line"), col("why"))
    val router = new SinkRouter(wh, SinkOptions(deduplicate = true))
    val batch = events.unionByName(records, allowMissingColumns = true)
    router.write(batch)
    val ev = spark.read.parquet(s"$wh/events")
    assert(!ev.columns.contains("raw_event") &&
      !ev.columns.contains(SinkRouter.QuarantineCol), ev.columns.toSeq)
    assert(ev.select("message_id", "error").as[(String, String)].collect()
      .toMap == Map("m1" -> "checkout failed", "m2" -> null))
    assert(!new java.io.File(new java.io.File(wh).getParent, "escape").exists())
    val q = router.readTable(spark, SinkRouter.QuarantineTable)
    assert(q.columns.toSeq == Seq("raw_event", "error"))
    val errors = q.select("error").as[String].collect().toSeq.sorted
    assert(errors == Seq("invalid_table_name:../escape",
      "invalid_table_name:null", "invalid_table_name:quarantine",
      "parse_error", "parse_error"))
    assert(q.filter(col("error") === "invalid_table_name:quarantine")
      .select("raw_event").as[String].collect().head.contains("\"e5\""))
    assert(q.filter(col("error") === "parse_error").select("raw_event")
      .as[String].collect().toSet == Set("not json", "{\"type\":"))
    // one commit per table; a replay MERGEs events and appends
    // dead letters (the quarantine table has no key)
    router.write(batch)
    val h = router.history(spark).select(col("table"), col("operation"),
      element_at(col("metrics"), "rows")).as[(String, String, Long)]
      .collect().toSeq
    assert(h == Seq(("events", "create", 2L), ("quarantine", "create", 5L),
      ("events", "merge", 2L), ("quarantine", "append", 5L)), s"got $h")
    assert(router.readTable(spark, "events").count() == 2)
    assert(router.readTable(spark, SinkRouter.QuarantineTable).count() == 10)
  }

  test("overwriteDates evaluates its input once, on a new and an existing table") {
    val wh = tmpDir()
    val router = new SinkRouter(wh)
    val evals = spark.sparkContext.longAccumulator("overwriteDates-evals")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "message_id STRING, timestamp TIMESTAMP")
    // RDD-backed, so every evaluation of the source runs the counting
    // map (the optimizer cannot prune it as it could a UDF column)
    def counted(day: String, n: Int) = {
      val rows = (0 until n).map(i => org.apache.spark.sql.Row(s"$day-$i",
        java.sql.Timestamp.valueOf(s"$day ${10 + i % 3}:00:00")))
      val acc = evals
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 2)
        .map { r => acc.add(1); r }, schema)
    }
    router.overwriteDates(spark, "events", counted("2024-01-01", 12))
    assert(evals.value == 12L, "new table")
    evals.reset()
    router.overwriteDates(spark, "events", counted("2024-01-02", 12))
    assert(evals.value == 12L, "existing table")
    assert(router.readTable(spark, "events").count() == 24)
  }

  test("schema evolution: new column appears as null on old rows") {
    val wh = tmpDir()
    val router = new SinkRouter(wh)
    router.write(Seq(("m1", "a")).toDF("message_id", "col_a")
      .withColumn("_table", lit("t")))
    router.write(Seq(("m2", "b", 42)).toDF("message_id", "col_a", "col_b")
      .withColumn("_table", lit("t")))
    val t = router.readTable(spark, "t")
    assert(t.columns.toSet == Set("message_id", "col_a", "col_b"))
    assert(t.filter(col("message_id") === "m1")
      .select("col_b").collect().head.isNullAt(0))
    assert(t.count() == 2)
  }

  test("nested struct evolution: a struct column gaining/losing keys aligns") {
    val wh = tmpDir()
    val router = new SinkRouter(wh)
    val b1 = spark.sql(
      """SELECT 'm1' AS message_id, named_struct('a', 1) AS props""")
    val b2 = spark.sql(
      """SELECT 'm2' AS message_id, named_struct('b', 'x') AS props""")
    router.write(b1.withColumn("_table", lit("t")))
    // batch 2's struct has a DIFFERENT field set: must evolve (a blind
    // cast between StructTypes throws and wedges a replayed stream batch)
    router.write(b2.withColumn("_table", lit("t")))
    val t = router.readTable(spark, "t")
    assert(t.count() == 2)
    assert(t.select("props.a", "props.b").columns.toSeq == Seq("a", "b"))
    val m1 = t.filter(col("message_id") === "m1")
      .select("props.a", "props.b").collect().head
    assert(m1.getInt(0) == 1 && m1.isNullAt(1))
    val m2 = t.filter(col("message_id") === "m2")
      .select("props.a", "props.b").collect().head
    assert(m2.isNullAt(0) && m2.getString(1) == "x")
  }

  test("array-of-struct evolution: element field sets align per element") {
    val wh = tmpDir()
    val router = new SinkRouter(wh)
    val b1 = spark.sql(
      """SELECT 'm1' AS message_id,
        |  array(named_struct('sku', 'a1', 'qty', 1)) AS items""".stripMargin)
    val b2 = spark.sql(
      """SELECT 'm2' AS message_id,
        |  array(named_struct('sku', 'b1', 'price', 9.5D)) AS items""".stripMargin)
    router.write(b1.withColumn("_table", lit("t")))
    router.write(b2.withColumn("_table", lit("t")))
    val t = router.readTable(spark, "t")
    val m2 = t.filter(col("message_id") === "m2")
      .selectExpr("items[0].sku", "items[0].qty", "items[0].price")
      .collect().head
    assert(m2.getString(0) == "b1" && m2.isNullAt(1) && m2.getDouble(2) == 9.5)
    val m1 = t.filter(col("message_id") === "m1")
      .selectExpr("items[0].sku", "items[0].qty", "items[0].price")
      .collect().head
    assert(m1.getString(0) == "a1" && m1.getInt(1) == 1 && m1.isNullAt(2))
  }

  test("schemaFreeze rejects new columns") {
    val wh = tmpDir()
    val router = new SinkRouter(wh, SinkOptions(schemaFreeze = true))
    router.write(Seq(("m1", "a")).toDF("message_id", "col_a")
      .withColumn("_table", lit("t")))
    intercept[IllegalStateException] {
      router.write(Seq(("m2", "b", 1)).toDF("message_id", "col_a", "col_b")
        .withColumn("_table", lit("t")))
    }
  }

  test("hoistProperties: keys become snake_case columns, envelope wins, blob dropped") {
    val df = Seq(
      ("m1", """{"planTier": "pro", "seats": 3, "messageId": "SHADOWED"}"""),
      ("m2", """{"planTier": "free", "nested": {"a": 1}}""")
    ).toDF("message_id", "properties")
    val out = graft.operators.Layouts.hoistProperties(df)
    assert(out.columns.toSet == Set("message_id", "plan_tier", "seats", "nested"))
    val m1 = out.filter(col("message_id") === "m1").collect().head
    assert(m1.getAs[String]("plan_tier") == "pro")
    assert(m1.getAs[Long]("seats") == 3L) // JSON number -> bigint
    assert(m1.getAs[String]("message_id") == "m1") // envelope wins over messageId
    val m2 = out.filter(col("message_id") === "m2").collect().head
    assert(m2.getAs[org.apache.spark.sql.Row]("nested").getAs[Long]("a") == 1L)
    assert(m2.isNullAt(m2.fieldIndex("seats")))
  }

  test("hoistProperties tolerates malformed and null JSON") {
    val df = Seq(
      ("m1", """{"k": 1}"""),
      ("m2", "not json at all"),
      ("m3", null.asInstanceOf[String])
    ).toDF("message_id", "properties")
    val out = graft.operators.Layouts.hoistProperties(df)
    assert(out.columns.toSet == Set("message_id", "k"))
    val rows = out.collect().map(r =>
      r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(rows("m1").contains(1L))
    assert(rows("m2").isEmpty) // malformed -> nulls, row survives
    assert(rows("m3").isEmpty)
  }

  test("hoistPropertiesVariant matches hoistProperties column-for-column (incl. decimal→double alignment, collisions, malformed JSON)") {
    val df = Seq(
      ("m1", """{"planTier": "pro", "seats": 3, "price": 9.99, "messageId": "SHADOWED", "ok": true}"""),
      ("m2", """{"planTier": "free", "nested": {"a": 1}}"""),
      ("m3", "not json at all"),
      ("m4", null.asInstanceOf[String])
    ).toDF("message_id", "properties")
    val viaJson = graft.operators.Layouts.hoistProperties(df)
    val viaVariant = graft.operators.Layouts.hoistPropertiesVariant(df)
    assert(viaVariant.columns.toSet == viaJson.columns.toSet)
    val cols = viaJson.columns.sorted.toSeq
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.select(cols.map(c => col(c).cast("string").as(c)): _*)
        .collect().map(_.toString).sorted.toSeq
    assert(canon(viaVariant) == canon(viaJson))
    // price hoisted as DOUBLE on both paths (variant infers DECIMAL,
    // the twin aligns it)
    assert(viaVariant.schema("price").dataType ==
      org.apache.spark.sql.types.DoubleType)
    // an already-variant column takes the no-reparse branch
    val pre = df.withColumn("properties",
      try_parse_json(col("properties")))
    assert(canon(graft.operators.Layouts.hoistPropertiesVariant(pre)) ==
      canon(viaJson))
  }

  test("a VariantType column round-trips through the sink: sidecar schema, append, read-back values") {
    val wh = tmpDir()
    val router = new SinkRouter(wh)
    val df = Seq(
      ("m1", """{"plan": "pro", "seats": 3}"""),
      ("m2", """{"plan": "free", "nested": {"a": true}}"""))
      .toDF("message_id", "props_json")
      .select(col("message_id"),
        try_parse_json(col("props_json")).as("props"))
      .withColumn("_table", lit("vtab"))
    router.write(df)
    val back = router.readTable(spark, "vtab")
    assert(back.schema("props").dataType.typeName.contains("variant"))
    val got = back
      .select(col("message_id"),
        variant_get(col("props"), "$.plan", "STRING").as("plan"),
        variant_get(col("props"), "$.seats", "BIGINT").as("seats"),
        variant_get(col("props"), "$.nested.a", "BOOLEAN").as("a"))
      .collect().map(r => r.getString(0) ->
        (r.getString(1), Option(r.get(2)), Option(r.get(3)))).toMap
    assert(got("m1") == (("pro", Some(3L), None)))
    assert(got("m2") == (("free", None, Some(true))))
    // evolution next to a variant column still works
    router.write(Seq(("m3", "x"))
      .toDF("message_id", "extra").withColumn("_table", lit("vtab")))
    val evolved = router.readTable(spark, "vtab")
    assert(evolved.count() == 3)
    assert(evolved.filter(col("extra").isNotNull).count() == 1)
  }

  test("schemaFreeze rejects a batch whose hoisted properties add a column") {
    val wh = tmpDir()
    val open = new SinkRouter(wh)
    open.write(graft.operators.Layouts.hoistProperties(
      Seq(("m1", """{"k": 1}""")).toDF("message_id", "properties"))
      .withColumn("_table", lit("t")))
    val frozen = new SinkRouter(wh, SinkOptions(schemaFreeze = true))
    intercept[IllegalStateException] {
      frozen.write(graft.operators.Layouts.hoistProperties(
        Seq(("m2", """{"k": 2, "coupon": "x"}""")).toDF("message_id", "properties"))
        .withColumn("_table", lit("t")))
    }
  }

  test("dedup merge: latest per primary key wins (UR re-emission overwrite)") {
    val wh = tmpDir()
    val router = new SinkRouter(wh, SinkOptions(deduplicate = true))
    router.write(Seq(
      ("m1", java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), null: String),
      ("m2", java.sql.Timestamp.valueOf("2024-01-01 10:05:00"), "u1")
    ).toDF("message_id", "timestamp", "user_id").withColumn("_table", lit("events")))
    // re-emitted recognized event: same message_id, identity filled
    router.write(Seq(
      ("m1", java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), "u1")
    ).toDF("message_id", "timestamp", "user_id").withColumn("_table", lit("events")))
    val t = router.readTable(spark, "events")
    assert(t.count() == 2) // m1 overwritten, not duplicated
    val m1 = t.filter(col("message_id") === "m1").collect().head
    assert(m1.getAs[String]("user_id") == "u1")
  }

  private def batch(rows: (String, String, String)*) =
    rows.toSeq.map { case (m, ts, u) => (m, java.sql.Timestamp.valueOf(ts), u) }
      .toDF("message_id", "timestamp", "user_id")
      .withColumn("_table", lit("events"))

  test("ORC format: identical merge/evolution/delete results to parquet, " +
    "ORC files on disk") {
    val (whP, whO) = (tmpDir(), tmpDir())
    val p = new SinkRouter(whP, SinkOptions(deduplicate = true))
    val o = new SinkRouter(whO, SinkOptions(deduplicate = true, format = "orc"))
    Seq(p, o).foreach { r =>
      r.write(batch(("m1", "2024-01-01 10:00:00", null),
        ("m2", "2024-01-02 10:00:00", "u2")))
      r.write(batch(("m1", "2024-01-01 10:00:00", "u1")))
      // evolution: a new column arrives
      r.write(Seq(("m3", java.sql.Timestamp.valueOf("2024-01-03 10:00:00"),
          "u3", "x"))
        .toDF("message_id", "timestamp", "user_id", "extra")
        .withColumn("_table", lit("events")))
      assert(r.deleteWhere(spark, "events", col("message_id") === "m2") == 1L)
    }
    val rows = Seq(p, o).map(_.readTable(spark, "events")
      .select("message_id", "user_id", "extra")
      .as[(String, String, Option[String])].collect().toSet)
    assert(rows(0) == rows(1))
    assert(rows(0) == Set(("m1", "u1", None), ("m3", "u3", Some("x"))))
    // the ORC warehouse holds .orc data files and no parquet ones
    def dataFiles(wh: String) = {
      val dir = new java.io.File(s"$wh/events")
      Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith("graft_dt="))
        .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty))
        .map(_.getName).filter(_.startsWith("part-"))
    }
    assert(dataFiles(whO).nonEmpty &&
      dataFiles(whO).forall(_.endsWith(".orc")))
    assert(dataFiles(whP).forall(_.endsWith(".parquet")))
  }

  test("snapshot: survives merge, compact, deleteWhere and vacuum; " +
    "schema evolution after the snapshot does not leak back") {
    val wh = tmpDir()
    val router = new SinkRouter(wh, SinkOptions(deduplicate = true))
    router.write(batch(("m1", "2024-01-01 10:00:00", null),
      ("m2", "2024-01-02 10:00:00", "u2"),
      ("m3", "2024-03-01 10:00:00", "u3")))
    router.snapshot("events", "v1")
    assert(router.listSnapshots("events") == Seq("v1"))
    // mutate the live table every way the router can
    router.write(batch(("m1", "2024-01-01 10:00:00", "u1"))) // merge
    router.write(Seq(("m4", java.sql.Timestamp.valueOf("2024-01-02 11:00:00"),
        "u4", "x")).toDF("message_id", "timestamp", "user_id", "extra")
      .withColumn("_table", lit("events"))) // evolution
    router.compact(spark, "events", maxFilesPerPartition = 1)
    assert(router.deleteWhere(spark, "events",
      col("message_id") === "m2") == 1L)
    router.vacuum("events", retainDays = 30,
      asOf = java.time.LocalDate.of(2024, 3, 2)): Unit
    // live reflects all of it: m1 identified, m2 deleted, m1/m4 vacuumed?
    // (2024-01 is older than 30d before asOf, so only m3 survives vacuum)
    val live = router.readTable(spark, "events")
    assert(live.select("message_id").as[String].collect().toSet == Set("m3"))
    // the snapshot still reads the exact pre-mutation state, old schema
    val snap = router.readSnapshot(spark, "events", "v1")
    assert(!snap.columns.contains("extra"))
    assert(snap.select("message_id", "user_id")
      .as[(String, Option[String])].collect().toSet ==
      Set(("m1", None), ("m2", Some("u2")), ("m3", Some("u3"))))
    // drop: snapshot gone, live untouched
    router.dropSnapshot("events", "v1")
    assert(router.listSnapshots("events").isEmpty)
    assert(router.readTable(spark, "events").count() == 1)
    intercept[IllegalArgumentException] {
      router.readSnapshot(spark, "events", "v1")
    }: Unit
  }

  test("snapshot: captures the MoR deletion vector; duplicate name rejected") {
    val wh = tmpDir()
    val router = new SinkRouter(wh, SinkOptions(deduplicate = true))
    router.write(batch(("m1", "2024-01-01 10:00:00", "u1"),
      ("m2", "2024-01-02 10:00:00", "u2")))
    assert(router.deleteWhereMor(spark, "events",
      col("message_id") === "m1") == 1L)
    router.snapshot("events", "s")
    // purge folds the vector into the live files; the snapshot's own
    // vector still hides m1 in time travel
    router.purgeDeletes(spark, "events"): Unit
    assert(router.readSnapshot(spark, "events", "s")
      .select("message_id").as[String].collect().toSeq == Seq("m2"))
    intercept[IllegalStateException] { router.snapshot("events", "s") }
    intercept[IllegalArgumentException] {
      router.snapshot("events", ".bad")
    }: Unit
  }

  test("overwriteDates: replaces exactly the covered partitions; " +
    "untouched partitions byte-identical; evolution applies") {
    val wh = tmpDir()
    val router = new SinkRouter(wh)
    router.write(batch(
      ("m1", "2024-01-01 09:00:00", "u1"),
      ("m2", "2024-01-01 10:00:00", "u2"),
      ("m3", "2024-01-02 10:00:00", "u3")))
    def partBytes(day: String): Seq[(String, Long)] = {
      val d = new java.io.File(s"$wh/events/graft_dt=$day")
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(_.isFile).map(f => (f.getName, f.length())).toSeq.sorted
    }
    val day2Before = partBytes("2024-01-02")
    // backfill day 1 with a corrected batch that also evolves the schema
    val replaced = router.overwriteDates(spark, "events", Seq(
        ("m1b", java.sql.Timestamp.valueOf("2024-01-01 09:30:00"), "u1", "fixed"))
      .toDF("message_id", "timestamp", "user_id", "note"))
    assert(replaced == Seq(java.sql.Date.valueOf("2024-01-01")))
    val t = router.readTable(spark, "events")
    assert(t.select("message_id").as[String].collect().toSet ==
      Set("m1b", "m3"))
    assert(t.filter(col("message_id") === "m3")
      .select("note").collect().head.isNullAt(0))
    assert(partBytes("2024-01-02") == day2Before)
    // a backfill of a brand-new date is a plain partition add
    router.overwriteDates(spark, "events", Seq(
        ("m9", java.sql.Timestamp.valueOf("2024-01-09 10:00:00"), "u9", "new"))
      .toDF("message_id", "timestamp", "user_id", "note"))
    assert(router.readTable(spark, "events").count() == 3)
  }

  test("exportSubject: all and only the subject's rows, unkeyed tables " +
    "skipped, MoR-deleted rows excluded") {
    val wh = tmpDir()
    val router = new SinkRouter(wh, SinkOptions(deduplicate = true))
    router.write(Seq(
      ("m1", java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), "a1"),
      ("m2", java.sql.Timestamp.valueOf("2024-01-02 10:00:00"), "a1"),
      ("m3", java.sql.Timestamp.valueOf("2024-01-02 11:00:00"), "a2"))
      .toDF("message_id", "timestamp", "anonymous_id")
      .withColumn("_table", lit("events")))
    router.write(Seq(("p1", "a1"), ("p2", "a2"))
      .toDF("message_id", "anonymous_id")
      .withColumn("_table", lit("profiles")))
    // no anonymous_id column -> must be skipped
    router.write(Seq(("x1", 7L)).toDF("message_id", "n")
      .withColumn("_table", lit("system_log")))
    def ids(r: org.apache.spark.sql.DataFrame) = r.collect()
      .map(row => (row.getString(0),
        "\"message_id\":\"(\\w+)\"".r.findFirstMatchIn(
          row.getString(1)).get.group(1))).toSet
    assert(ids(router.exportSubject(spark, "anonymous_id", "a1")) ==
      Set(("events", "m1"), ("events", "m2"), ("profiles", "p1")))
    // erase m1 via the deletion vector: the export must not resurrect it
    router.deleteWhereMor(spark, "events", col("message_id") === "m1")
    assert(ids(router.exportSubject(spark, "anonymous_id", "a1")) ==
      Set(("events", "m2"), ("profiles", "p1")))
    // unknown subject: empty frame with the right shape
    val none = router.exportSubject(spark, "anonymous_id", "zz")
    assert(none.columns.toSeq == Seq("table", "row_json") && none.count() == 0)
  }

  test("ORC format: rejected formats fail fast") {
    intercept[IllegalArgumentException] {
      new SinkRouter(tmpDir(), SinkOptions(format = "csv"))
    }
    ()
  }

  test("merge rewrites only partitions holding a batch key") {
    val wh = tmpDir()
    val router = new SinkRouter(wh, SinkOptions(deduplicate = true))
    router.write(batch(
      ("m1", "2024-01-01 10:00:00", null),
      ("m2", "2024-01-01 11:00:00", null),
      ("m3", "2024-01-02 10:00:00", null)))
    def partFiles(d: String) =
      Option(new java.io.File(s"$wh/events/graft_dt=$d").listFiles())
        .getOrElse(Array.empty).map(f => (f.getName, f.lastModified)).toSet
    val day1Before = partFiles("2024-01-01")
    assert(day1Before.nonEmpty && partFiles("2024-01-02").nonEmpty)
    // merge touching only m3 (day 2): day-1 partition dir must be untouched
    router.write(batch(("m3", "2024-01-02 10:00:00", "u3")))
    assert(partFiles("2024-01-01") == day1Before)
    val t = router.readTable(spark, "events")
    assert(t.count() == 3)
    assert(t.filter(col("message_id") === "m3").collect().head
      .getAs[String]("user_id") == "u3")
  }

  test("crash between staged merge write and partition swap loses nothing") {
    val wh = tmpDir()
    val crashing = new SinkRouter(wh, SinkOptions(deduplicate = true)) {
      override protected def beforeSwapHook(): Unit =
        throw new RuntimeException("simulated crash before swap")
    }
    crashing.write(batch(
      ("m1", "2024-01-01 10:00:00", null),
      ("m2", "2024-01-01 11:00:00", "u2")))
    val ex = intercept[RuntimeException] {
      crashing.write(batch(("m1", "2024-01-01 10:00:00", "u1")))
    }
    assert(ex.getMessage.contains("simulated crash"))
    // old table fully intact: 2 rows, m1 still unidentified
    val router = new SinkRouter(wh, SinkOptions(deduplicate = true))
    val t = router.readTable(spark, "events")
    assert(t.count() == 2)
    assert(t.filter(col("message_id") === "m1").collect().head.isNullAt(
      t.columns.indexOf("user_id")))
    // next write recovers the abandoned stage and completes the merge
    router.write(batch(("m1", "2024-01-01 10:00:00", "u1")))
    val t2 = router.readTable(spark, "events")
    assert(t2.count() == 2)
    assert(t2.filter(col("message_id") === "m1").collect().head
      .getAs[String]("user_id") == "u1")
  }

  test("writeBatch is idempotent: a replayed micro-batch does not double-land") {
    val wh = tmpDir()
    val router = new SinkRouter(wh)
    val b = batch(("m1", "2024-01-01 10:00:00", "u1"))
    router.writeBatch(b, batchId = 0L)
    router.writeBatch(b, batchId = 0L) // foreachBatch re-delivery
    assert(router.readTable(spark, "events").count() == 1)
    router.writeBatch(batch(("m2", "2024-01-01 11:00:00", "u2")), batchId = 1L)
    assert(router.readTable(spark, "events").count() == 2)
  }

  test("compact folds accumulated per-batch files into one per partition") {
    val wh = tmpDir()
    val router = new SinkRouter(wh)
    // 5 appends -> >=5 files in the one date partition
    (1 to 5).foreach(i => router.write(batch((s"m$i", "2024-01-01 10:00:00", s"u$i"))))
    def files() = Option(
      new java.io.File(s"$wh/events/graft_dt=2024-01-01").listFiles())
      .getOrElse(Array.empty)
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(files() >= 5)
    router.compact(spark, "events", maxFilesPerPartition = 2)
    assert(files() == 1)
    val t = router.readTable(spark, "events")
    assert(t.count() == 5) // no rows lost
    assert(t.select("message_id").distinct().count() == 5)
    // partitions under the threshold are untouched
    router.write(batch(("m9", "2024-02-01 10:00:00", "u9")))
    val before = Option(new java.io.File(s"$wh/events/graft_dt=2024-02-01")
      .listFiles()).get.map(f => (f.getName, f.lastModified)).toSet
    router.compact(spark, "events", maxFilesPerPartition = 2)
    val after = Option(new java.io.File(s"$wh/events/graft_dt=2024-02-01")
      .listFiles()).get.map(f => (f.getName, f.lastModified)).toSet
    assert(before == after)
  }

  test("deleteWhere erases matching rows, rewrites only touched partitions") {
    val wh = tmpDir()
    val router = new SinkRouter(wh)
    router.write(batch(
      ("m1", "2024-01-01 10:00:00", "u1"), ("m2", "2024-01-01 11:00:00", "u2"),
      ("m3", "2024-01-02 10:00:00", "u2"), ("m4", "2024-01-03 10:00:00", "u3")))
    val untouched = Option(new java.io.File(s"$wh/events/graft_dt=2024-01-03")
      .listFiles()).get.map(f => (f.getName, f.lastModified)).toSet
    val n = router.deleteWhere(spark, "events", col("user_id") === "u2")
    assert(n == 2)
    val t = router.readTable(spark, "events")
    assert(t.select("message_id").as[String].collect().sorted.toSeq ==
      Seq("m1", "m4"))
    // 2024-01-03 held no u2 row: its files must be byte-identical
    val after = Option(new java.io.File(s"$wh/events/graft_dt=2024-01-03")
      .listFiles()).get.map(f => (f.getName, f.lastModified)).toSet
    assert(untouched == after)
  }

  test("deleteWhere: a fully-matching partition is deleted outright") {
    val wh = tmpDir()
    val router = new SinkRouter(wh)
    router.write(batch(
      ("m1", "2024-01-01 10:00:00", "u1"), ("m2", "2024-01-02 10:00:00", "u1"),
      ("m3", "2024-01-02 11:00:00", "u2")))
    assert(router.deleteWhere(spark, "events", col("user_id") === "u1") == 2)
    assert(!new java.io.File(s"$wh/events/graft_dt=2024-01-01").exists())
    assert(router.readTable(spark, "events").count() == 1)
    // no-match delete is a no-op returning 0
    assert(router.deleteWhere(spark, "events", col("user_id") === "zz") == 0)
  }

  test("MoR delete: data files untouched, rows hidden at read, purge folds in") {
    val wh = tmpDir()
    val router = new SinkRouter(wh)
    router.write(batch(
      ("m1", "2024-01-01 10:00:00", "u1"), ("m2", "2024-01-01 11:00:00", "u2"),
      ("m3", "2024-01-02 10:00:00", "u2")))
    val before = Option(new java.io.File(s"$wh/events/graft_dt=2024-01-01")
      .listFiles()).get.filter(_.isFile)
      .map(f => (f.getName, f.lastModified)).toSet
    assert(router.deleteWhereMor(spark, "events", col("user_id") === "u2") == 2)
    // read hides the rows, but the data partition was NOT rewritten
    assert(router.readTable(spark, "events")
      .select("message_id").as[String].collect().toSeq == Seq("m1"))
    val after = Option(new java.io.File(s"$wh/events/graft_dt=2024-01-01")
      .listFiles()).get.filter(_.isFile)
      .map(f => (f.getName, f.lastModified)).toSet
    assert(before == after)
    // overlapping second delete records only fresh keys
    assert(router.deleteWhereMor(spark, "events",
      col("user_id").isin("u1", "u2")) == 1)
    // purge: vectors folded into the files, read result unchanged
    assert(router.purgeDeletes(spark, "events") == 3)
    assert(!new java.io.File(s"$wh/events/_deletes").exists())
    assert(router.readTable(spark, "events").count() == 0)
    assert(router.purgeDeletes(spark, "events") == 0) // idempotent
  }

  test("MoR delete tombstones: a re-ingested deleted key stays hidden until purge") {
    val wh = tmpDir()
    val router = new SinkRouter(wh)
    router.write(batch(("m1", "2024-01-01 10:00:00", "u1")))
    assert(router.deleteWhereMor(spark, "events", col("user_id") === "u1") == 1)
    // upstream replay re-appends the same message
    router.write(batch(("m1", "2024-01-01 10:00:00", "u1")))
    assert(router.readTable(spark, "events").count() == 0) // still erased
    router.purgeDeletes(spark, "events")
    // after the fold the tombstone is gone; fresh ingest lives again
    router.write(batch(("m1", "2024-01-01 10:00:00", "u1")))
    assert(router.readTable(spark, "events").count() == 1)
  }

  test("vacuum drops partitions beyond retention, keeps the window and epoch") {
    val wh = tmpDir()
    val router = new SinkRouter(wh)
    router.write(batch(
      ("m1", "2024-01-01 10:00:00", "u1"), ("m2", "2024-01-10 10:00:00", "u2"),
      ("m3", "2024-01-20 10:00:00", "u3")))
    // a null-timestamp row lands in the epoch partition and must survive
    router.write(Seq(("m4", null.asInstanceOf[java.sql.Timestamp], "u4"))
      .toDF("message_id", "timestamp", "user_id")
      .withColumn("_table", lit("events")))
    val dropped = router.vacuum("events", 10,
      java.time.LocalDate.parse("2024-01-20"))
    assert(dropped.map(_.toString) == Seq("2024-01-01"))
    val left = router.readTable(spark, "events")
      .select("message_id").as[String].collect().sorted.toSeq
    assert(left == Seq("m2", "m3", "m4"))
    // idempotent: nothing further to drop
    assert(router.vacuum("events", 10,
      java.time.LocalDate.parse("2024-01-20")).isEmpty)
  }

  test("crash mid-swap (partition in trash) is restored on next write") {
    val wh = tmpDir()
    val router = new SinkRouter(wh, SinkOptions(deduplicate = true))
    router.write(batch(("m1", "2024-01-01 10:00:00", "u1")))
    // simulate a crash between the two renames: live dir moved to trash,
    // staged replacement never landed
    val live = new java.io.File(s"$wh/events/graft_dt=2024-01-01")
    val trash = new java.io.File(s"$wh/events/.trash-crash")
    assert(trash.mkdirs())
    assert(live.renameTo(new java.io.File(trash, live.getName)))
    router.write(batch(("m2", "2024-01-02 09:00:00", "u2")))
    val t = router.readTable(spark, "events")
    assert(t.count() == 2) // m1 restored from trash, m2 appended
  }

  test("bloomFilterColumns lands per-column bloom filters in parquet footers") {
    import scala.jdk.CollectionConverters._
    def firstFooterColumn(wh: String) = {
      val f = new java.io.File(s"$wh/tracks").listFiles()
        .filter(_.getName.startsWith("graft_dt=")).head.listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getAbsolutePath),
          new org.apache.hadoop.conf.Configuration()))
      try reader.getFooter.getBlocks.get(0).getColumns.asScala
        .map(c => c.getPath.toDotString -> c.getBloomFilterOffset).toMap
      finally reader.close()
    }
    val batch = Seq(
      ("m1", "2024-01-01 00:00:00", "tracks"),
      ("m2", "2024-01-01 00:00:00", "tracks")
    ).toDF("messageId", "ts", "_table")
    val whOn = tmpDir()
    new SinkRouter(whOn,
      SinkOptions(bloomFilterColumns = Seq("message_id"))).write(batch)
    val on = firstFooterColumn(whOn)
    assert(on("message_id") >= 0, s"bloom offset missing: $on")
    assert(on("ts") < 0, "non-listed column must not carry a bloom filter")
    val whOff = tmpDir()
    new SinkRouter(whOff).write(batch)
    assert(firstFooterColumn(whOff)("message_id") < 0)
    // read path unchanged
    assert(spark.read.parquet(s"$whOn/tracks")
      .filter(col("message_id") === "m1").count() == 1)
  }

  test("sortWithinPartitionsBy tightens row-group stats to disjoint ranges") {
    import scala.jdk.CollectionConverters._
    def rowGroupRanges(wh: String): Seq[(String, String)] = {
      val f = new java.io.File(s"$wh/tracks").listFiles()
        .filter(_.getName.startsWith("graft_dt=")).head.listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getAbsolutePath),
          new org.apache.hadoop.conf.Configuration()))
      try reader.getFooter.getBlocks.asScala.toSeq.map { b =>
        val c = b.getColumns.asScala
          .find(_.getPath.toDotString == "message_id").get
        val st = c.getStatistics
        (st.minAsString, st.maxAsString)
      } finally reader.close()
    }
    // ids deliberately shuffled; small block size forces several row
    // groups even at test scale
    val rnd = new scala.util.Random(7)
    val batch = rnd.shuffle((0 until 6000).toList).map(i =>
      (f"m$i%05d", "2024-01-01 00:00:00", "x" * 32, "tracks"))
      .toDF("messageId", "ts", "payload", "_table")
    val small = Map("parquet.block.size" -> "20000")
    val whSorted = tmpDir()
    new SinkRouter(whSorted, SinkOptions(
      sortWithinPartitionsBy = Seq("message_id"),
      writerOptions = small)).write(batch)
    val sorted = rowGroupRanges(whSorted)
    assert(sorted.size > 1, s"expected several row groups, got $sorted")
    // disjoint, ordered ranges: every group's max < the next group's min
    sorted.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi <= lo2, s"$sorted")
      case _ =>
    }
    val whUnsorted = tmpDir()
    new SinkRouter(whUnsorted, SinkOptions(writerOptions = small))
      .write(batch)
    val unsorted = rowGroupRanges(whUnsorted)
    assert(unsorted.size > 1)
    // shuffled input: every row group spans nearly the whole id range
    val overlaps = unsorted.sliding(2).count {
      case Seq((_, hi), (lo2, _)) => hi > lo2
      case _ => false
    }
    assert(overlaps > 0, s"unsorted groups unexpectedly disjoint: $unsorted")
    // read parity
    assert(spark.read.parquet(s"$whSorted/tracks").count() == 6000)
  }

  test("commit history: versioned entries per op, restart resumes numbering") {
    val wh = tmpDir()
    def batch(ids: String*) = ids.map(i =>
      (i, "2024-01-01 10:00:00", "events"))
      .toDF("messageId", "timestamp", "_table")
      .withColumn("timestamp", col("timestamp").cast("timestamp"))
    val r1 = new SinkRouter(wh, SinkOptions(deduplicate = true))
    r1.write(batch("m1", "m2"))
    r1.write(batch("m2", "m3"))
    r1.snapshot("events", "s1")
    val h1 = r1.history(spark)
      .select("version", "operation").as[(Long, String)].collect().toSeq
    assert(h1 == Seq((1L, "create"), (2L, "merge"), (3L, "snapshot")))
    // a NEW router over the same warehouse continues after version 3
    val r2 = new SinkRouter(wh, SinkOptions(deduplicate = true))
    r2.deleteWhereMor(spark, "events", col("message_id") === "m1")
    val h2 = r2.history(spark)
      .select("version", "operation").as[(Long, String)].collect().toSeq
    assert(h2.last == ((4L, "delete_mor")), s"got $h2")
    // metrics carried: the merge wrote 2 rows
    val m = r2.history(spark).filter(col("version") === 2)
      .select(element_at(col("metrics"), "rows")).as[Long].collect().head
    assert(m == 2L)
  }

  test("vacuumHistory folds old commits into one checkpoint entry; numbering survives a restart") {
    val wh = tmpDir()
    def batch(ids: String*) = ids.map(i =>
      (i, "2024-01-01 10:00:00", "events"))
      .toDF("messageId", "timestamp", "_table")
      .withColumn("timestamp", col("timestamp").cast("timestamp"))
    val r = new SinkRouter(wh, SinkOptions(deduplicate = true))
    (1 to 6).foreach(i => r.write(batch(s"m$i")))
    r.vacuumHistory(keepLast = 2)
    val files = new java.io.File(wh, "_history").listFiles()
      .filter(f => f.getName.endsWith(".json")).map(_.getName).sorted
    assert(files.length == 3, s"checkpoint + 2 survivors, got ${files.toSeq}")
    val h = r.history(spark)
      .select("version", "table", "operation").as[(Long, String, String)]
      .collect().toSeq
    assert(h == Seq((4L, "*", "vacuum_checkpoint"),
      (5L, "events", "merge"), (6L, "events", "merge")), s"got $h")
    val folded = r.history(spark).filter(col("version") === 4)
      .select(element_at(col("metrics"), "commits_folded"))
      .as[Long].collect().head
    assert(folded == 4L)
    // a restarted router numbers ABOVE the surviving max, never reusing
    // a vacuumed version
    val r2 = new SinkRouter(wh, SinkOptions(deduplicate = true))
    r2.write(batch("m7"))
    val last = r2.history(spark).select("version")
      .as[Long].collect().max
    assert(last == 7L, s"expected version 7, got $last")
    // re-vacuuming over the checkpoint keeps the audit total exact:
    // the refolded checkpoint still accounts for all 4 original commits
    r2.vacuumHistory(keepLast = 3)
    assert(r2.history(spark).count() == 4)
    val refolded = r2.history(spark)
      .filter(col("operation") === "vacuum_checkpoint")
      .select(element_at(col("metrics"), "commits_folded"))
      .as[Long].collect().toSeq
    assert(refolded == Seq(4L), s"got $refolded")
  }

  test("cloneTable: shared bytes at clone time, branches never bleed") {
    val wh = tmpDir()
    val router = new SinkRouter(wh, SinkOptions(deduplicate = true))
    def batch(rows: (String, String)*) = rows.map { case (m, v) =>
      (m, "2024-01-01 10:00:00", v, "t") }
      .toDF("messageId", "timestamp", "v", "_table")
      .withColumn("timestamp", col("timestamp").cast("timestamp"))
    router.write(batch(("m1", "a"), ("m2", "b")))
    // a MoR-erased key must stay hidden in the clone too
    router.deleteWhereMor(spark, "t", col("message_id") === "m2")
    router.cloneTable("t", "t_dev")
    assert(router.readTable(spark, "t_dev")
      .select("message_id").as[String].collect().toSeq == Seq("m1"))
    // duplicate clone name rejected
    intercept[IllegalStateException](router.cloneTable("t", "t_dev"))
    // diverge both sides
    router.write(batch(("m1", "LIVE")))   // merge into live
    router.write(batch(("m9", "DEV")).withColumn("_table", lit("t_dev")))
    val live = router.readTable(spark, "t")
      .select("message_id", "v").as[(String, String)].collect().toMap
    val dev = router.readTable(spark, "t_dev")
      .select("message_id", "v").as[(String, String)].collect().toMap
    assert(live == Map("m1" -> "LIVE"))
    assert(dev == Map("m1" -> "a", "m9" -> "DEV"),
      s"dev branch must keep the pre-merge value: $dev")
  }

  test("overwriteDates on a new table records its create commit") {
    val wh = tmpDir()
    val router = new SinkRouter(wh)
    router.overwriteDates(spark, "events", Seq(
        ("m1", java.sql.Timestamp.valueOf("2024-01-01 10:00:00")))
      .toDF("message_id", "timestamp"))
    val h = router.history(spark).select("table", "operation")
      .as[(String, String)].collect().toSeq
    assert(h == Seq(("events", "create")), s"got $h")
    assert(SinkRouter.latestCommit(router.historyDir, "events") > 0L)
  }

  /** Every side-file path of one router on the warehouse `wh`: batch
    * markers (with a replay), append and MERGE, MoR delete and purge,
    * vacuum, compaction, history vacuum, snapshot and clone. Returns the
    * router and what each step left readable. */
  private def lifecycle(wh: String): (SinkRouter, Seq[(String, Seq[String])]) = {
    val router = new SinkRouter(wh, SinkOptions(deduplicate = true))
    val seen = Seq.newBuilder[(String, Seq[String])]
    def rows(step: String, df: => org.apache.spark.sql.DataFrame): Unit =
      seen += step -> df.collect().map(_.toString).sorted.toSeq
    def dead(line: String) = SinkRouter.quarantine(Seq(line).toDF("line"),
      col("line"), lit("parse_error"))
    def withDead(b: org.apache.spark.sql.DataFrame, line: String) =
      b.unionByName(dead(line), allowMissingColumns = true)
    val b0 = withDead(batch(("m1", "2023-12-01 10:00:00", "u1"),
      ("m2", "2024-01-01 10:00:00", null),
      ("m3", "2024-01-02 10:00:00", "u3")), "bad0")
    router.writeBatch(b0, 0L) // creates events and quarantine
    router.writeBatch(batch(("m9", "2024-01-01 10:00:00", "u9")), 0L) // replay
    rows("replay skipped", router.readTable(spark, "events"))
    // MERGE into events, append to quarantine (it has no key)
    router.writeBatch(withDead(batch(("m2", "2024-01-01 10:00:00", "u2"),
      ("m4", "2024-01-02 11:00:00", "u4")), "bad1"), 1L)
    rows("merge", router.readTable(spark, "events"))
    rows("append", router.readTable(spark, SinkRouter.QuarantineTable))
    assert(router.deleteWhereMor(spark, "events", col("message_id") === "m3") == 1L)
    rows("delete_mor", router.readTable(spark, "events"))
    router.snapshot("events", "s1") // links the deletion vector too
    assert(router.purgeDeletes(spark, "events") == 1L)
    rows("purge", router.readTable(spark, "events"))
    rows("vacuum", router.vacuum("events", 10,
      java.time.LocalDate.parse("2024-01-02")).map(_.toString).toDF())
    router.compact(spark, SinkRouter.QuarantineTable, maxFilesPerPartition = 1)
    rows("compact", router.readTable(spark, SinkRouter.QuarantineTable))
    router.vacuumHistory(keepLast = 4)
    rows("history", router.history(spark).drop("ts_ms"))
    rows("snapshot", router.readSnapshot(spark, "events", "s1"))
    router.cloneTable("events", "events_dev")
    rows("clone", router.readTable(spark, "events_dev"))
    (router, seen.result())
  }

  test("the warehouse on a non-file: scheme keeps every side file on it " +
    "and matches file:, and a failed marker publish retries cleanly") {
    FlakyRenameFs.register(spark)
    val (localWh, flakyRoot) = (tmpDir(), tmpDir())
    val (local, expected) = lifecycle(localWh)
    val (router, got) = lifecycle("flaky:" + flakyRoot)
    assert(got == expected)
    assert(expected.head._2.size == 3, s"the replayed batch id landed: $expected")
    // the marker, sidecars and history sit under the flaky root, and no
    // relative `flaky:` tree appears in the working directory
    def under(rel: String) = new java.io.File(flakyRoot, rel)
    val marker = under("").listFiles()
      .filter(_.getName.startsWith("_graft_last_batch_")).toSeq
    assert(marker.size == 1, s"markers: $marker")
    Seq("events", "quarantine", "events_dev",
        "events/_snapshots/s1").foreach { t =>
      assert(under(s"$t/_graft_schema.json").isFile, s"$t sidecar")
    }
    assert(under("_history").listFiles().count(_.getName.endsWith(".json")) > 0)
    assert(!new java.io.File("flaky:").exists(), "side files escaped to ./flaky:")
    // a marker publish whose rename returns false raises; the previous
    // marker still names the previous batch, and the retried batch
    // converges to the table one clean delivery gives
    def lastBatch = new String(Files.readAllBytes(marker.head.toPath), "UTF-8").trim
    val b2 = batch(("m4", "2024-01-02 11:00:00", "u4b"), ("m5", "2024-01-03 10:00:00", "u5"))
    local.writeBatch(b2, 2L)
    FlakyRenameFs.failOnceWhenDstNamed.set(marker.head.getName)
    intercept[java.io.IOException](router.writeBatch(b2, 2L))
    assert(lastBatch == "1")
    router.writeBatch(b2, 2L)
    assert(lastBatch == "2")
    def table(r: SinkRouter) = r.readTable(spark, "events").collect()
      .map(_.toString).sorted.toSeq
    assert(table(router) == table(local))
  }
}
