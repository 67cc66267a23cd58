package graft.sinks

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileStatus, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, StructField, StructType, DateType}

/** The warehouse sink layer — SURVEY §2.2 (K1/K2/K8) — reproducing
  * bulker's observable semantics on a parquet warehouse:
  *
  *  - table routing by the `_table` column (layouts tag it), in one
  *    pass: a row whose reserved `_quarantine` struct<raw_event, error>
  *    is non-null ([[SinkRouter.quarantine]]) lands in the dead-letter
  *    table `quarantine` as that record, and so does a row whose
  *    `_table` is null, no identifier, or the reserved `quarantine`,
  *    with an `invalid_table_name:<name>` error; no other table sees
  *    the `_quarantine` column,
  *  - schema evolution: new columns appear as nulls on old rows, missing
  *    columns read back as nulls (merged superset schema), gated by
  *    `schemaFreeze`,
  *  - `deduplicate` + `primaryKey` + `timestampColumn`: MERGE-style upsert
  *    — latest row per key wins within `deduplicateWindow`,
  *  - append mode otherwise.
  *
  * Batch/stream symmetric: `write` handles one batch; the streaming path
  * is `events.writeStream.foreachBatch((df, _) => router.write(df))`.
  *
  * == Scale design (the 100 TB path) ==
  *
  * Tables are Hive-partitioned by event date (`graft_dt`, derived from
  * `timestampColumn`). Two costs that would dominate at scale are designed
  * out:
  *
  *  - '''No per-write metadata scan.''' The table schema lives in a
  *    `_graft_schema.json` sidecar (underscore-prefixed → invisible to
  *    Spark's file index), written on creation and updated only when the
  *    schema evolves. Appends and merges read it (O(1)) instead of footer-
  *    scanning every parquet file with `mergeSchema` — which is O(files)
  *    per micro-batch and grows forever on a streaming table. Reads pass
  *    the sidecar schema explicitly, so evolution costs nothing at read
  *    time either (missing columns in old files surface as nulls).
  *  - '''No small-files explosion.''' Every partitioned write first
  *    `repartition(col(graft_dt))`, so each date partition is written by
  *    one task → one file per date per batch instead of (tasks × dates)
  *    files. On a real cluster with very hot dates you'd add a bucket
  *    term (`repartition(n, col(graft_dt), pmod(hash(pk), b))`) to keep
  *    per-task output bounded; at the sandbox's batch sizes one task per
  *    date is the right shape.
  *
  * Write paths:
  *
  *  - '''append''': a plain partitioned `SaveMode.Append` — Spark's file
  *    commit protocol (task-attempt staging + rename) makes it crash-safe.
  *    Incoming columns already known to the table are cast to the table's
  *    type (a long column later arriving as string cannot poison reads);
  *    genuinely new columns evolve the sidecar schema (unless
  *    `schemaFreeze`). No rewrite, ever.
  *  - '''merge''' (deduplicate=true): the logical equivalent of Delta's
  *    `MERGE INTO`. Only partitions that can contain a prior version of a
  *    batch key are read (partition-pruned to the batch's date range ±
  *    `deduplicateWindowDays`, then narrowed to dates actually holding a
  *    matching primary key via a column-pruned semi-join). The merged
  *    output is written to a hidden `.stage-*` dir by a normal Spark job;
  *    then a swap manifest (`.commit-swap-*`, the shared [[CommitLog]]
  *    protocol: touched dates as deletes/renames) is persisted, and ONLY
  *    the touched `graft_dt=` directories are swapped in.
  *    The manifest is the commit point: a crash before it is rolled BACK
  *    on the next write (stage/trash dropped, live table untouched); a
  *    crash after it is rolled FORWARD (the swap is completed from the
  *    manifest, including partitions the merge legitimately deleted).
  *    Cost per batch is O(touched partitions), not O(table) — at 100 TB
  *    the sink rewrites a few recent date partitions, never history.
  *
  * One file system: every side file (batch marker, schema sidecar,
  * `_history`, deletion vector, swap manifest) and every listing goes
  * through ONE Hadoop `FileSystem` handle, resolved from the session's
  * Hadoop configuration as Spark's own table writes are, so the data and
  * its idempotence records share one file system on any scheme. A local
  * path gets the raw local FS (no `.crc` twin beside each side file).
  * Side files publish by one rename of a temp file, and a rename that
  * returns `false` is an error, never a silent skip.
  *
  * Durability caveat: the swap and the publishes rely on renames, which
  * are atomic on a local FS, but copy+delete on object stores, and HDFS
  * rename does not replace an existing file (so there the second marker
  * publish fails loudly). On a real deployment this commit protocol is
  * exactly what a table format (Delta/Iceberg) provides; the partition-
  * pruned merge SHAPE (what to read, what to rewrite) is the part that
  * transfers unchanged. Snapshots and clones hard-link data files, which
  * only a local file system can.
  *
  * Reference contract: jitsu bulker's table options — `deduplicate`,
  * `primaryKey`, `timestampColumn`, `deduplicateWindow`, `schemaFreeze`,
  * `keepOriginalNames` (console destination option schemas,
  * `webapps/console/lib/schema/destinations.ts`; bulker applies them as
  * MERGE vs append in its SQL adapters, e.g.
  * `bulkerlib/implementations/sql/abstract.go`). The HTTP forwarding side
  * lives in `libs/core-functions/src/functions/bulker-destination.ts`.
  */
case class SinkOptions(
    deduplicate: Boolean = false,
    primaryKey: String = "message_id",
    timestampColumn: String = "timestamp",
    deduplicateWindowDays: Int = 31,
    schemaFreeze: Boolean = false,
    keepOriginalNames: Boolean = false,
    // table DATA format: "parquet" (default) or "orc" — the two
    // columnar formats whose schema evolution, column pruning, and
    // footer/stripe statistics match the router's read shapes (CSV/JSON
    // would silently lose types and nested structs; the sidecar makes
    // schema-on-read exact either way, but stats-pruned probes would
    // not transfer). Deletion-vector sidecars stay parquet regardless:
    // they are router-internal metadata, not user table data.
    format: String = "parquet",
    // Write-side bloom filters on these columns (parquet per-column
    // bloom filters / ORC bloom streams). The router's point-lookup
    // reads — the MERGE probe, deleteWhere/exportSubject equality
    // predicates — push `pk = x` into the scan, and the format reader
    // then skips whole row groups whose bloom filter excludes the key:
    // min/max stats are useless for high-cardinality ids (every row
    // group spans the full id range), bloom filters are the stats that
    // work there. Costs a few bits per row at write time; the read
    // path is unchanged (parquet.filter.bloom.enabled is on by
    // default).
    bloomFilterColumns: Seq[String] = Nil,
    // Cluster-on-write: sort rows WITHIN each date partition by these
    // columns before the file writer runs, so row-group min/max stats
    // on them become tight, disjoint ranges — the format reader then
    // prunes row groups for range and point predicates (the
    // OPTIMIZE ... ZORDER/ORDER BY family at the single-table level;
    // pair with [[graft.operators.ZOrder]] for multi-column curves).
    // Costs one in-task sort per write, no extra shuffle: the rows are
    // already date-partitioned, the sort key just prepends the date.
    sortWithinPartitionsBy: Seq[String] = Nil,
    // Extra format writer options passed through verbatim (e.g.
    // parquet.block.size for tests/tuning).
    writerOptions: Map[String, String] = Map.empty)

class SinkRouter(warehouseDir: String, options: SinkOptions = SinkOptions()) {

  /** The commit-log directory — consumed by e.g.
    * [[graft.plans.MvRewrite.MvCatalog.watchCommits]] as the MV
    * staleness signal. */
  def historyDir: String = s"$warehouseDir/_history"
  private def historyPath = new Path(historyDir)

  /** The one handle every side file and listing goes through (see the
    * class doc); Spark's reads and writes resolve the same one. */
  private lazy val fs: FileSystem = SinkRouter.fileSystem(new Path(warehouseDir))

  require(Seq("parquet", "orc").contains(options.format),
    s"unsupported table format: ${options.format}")
  private val fmt = options.format
  private val fmtExt = s".$fmt"
  /** Schema-first table-data read in the configured format. */
  private def readData(spark: SparkSession,
                       schema: StructType, path: String): DataFrame =
    spark.read.schema(schema).format(fmt).load(path)

  /** Partition column. Must NOT start with '_' (Spark's file index hides
    * underscore-prefixed dirs, which would hide every partition). */
  val DateCol = "graft_dt"
  private val EpochDate = java.sql.Date.valueOf("1970-01-01")
  private val SchemaSidecar = "_graft_schema.json"

  private def tablePath(table: String) = s"$warehouseDir/$table"

  /** Whether writes to `table` MERGE on `primaryKey`. The quarantine
    * table is a dead-letter log of rejected lines with no key, so it is
    * append-only even under `deduplicate`. */
  private def merges(table: String) =
    options.deduplicate && table != SinkRouter.QuarantineTable

  /** Table names become DIRECTORY names under the warehouse root, and
    * they originate from user-controlled event data (the `$table` /
    * `table_name` override every layout honors) — so they must be
    * validated as identifiers, not paths. The reference is shielded by
    * construction (bulker emits table names as QUOTED DDL identifiers,
    * so a hostile name fails at the warehouse); an FS-backed sink must
    * do its own check or `events/../_history` escapes the root and
    * `_history`/`_quota` (the leading-underscore internal namespace)
    * get clobbered. Identifier = alphanumeric first char, then
    * `[A-Za-z0-9_.-]`, ≤ 255 bytes — no separators, no leading `_`/`.`.
    * Rows carrying an invalid name are NOT dropped: [[write]] lands
    * them in the quarantine table in the same pass (delivery is never
    * silently lost, the corrupt-row contract). */
  private[sinks] def validTableName(t: String): Boolean =
    t != null && t.length <= 255 &&
      t.matches("[A-Za-z0-9][A-Za-z0-9_.\\-]*")

  /** Per-router schema cache: table path -> full table schema (data
    * columns + DateCol, all nullable). Single writer per table (as in the
    * reference's bulker), so the cache only goes stale if another process
    * writes concurrently — which the commit protocol doesn't support
    * anyway. */
  private val schemaCache = scala.collection.mutable.HashMap[String, StructType]()

  /** Idempotent streaming entry point: `foreachBatch((df, id) =>
    * router.writeBatch(df, id))`. Structured Streaming re-delivers a
    * micro-batch after a failure; a replayed batch whose id is already
    * recorded as committed is skipped, so plain-append tables don't
    * double-land rows on the COMMON replay (re-delivery after a fully
    * committed batch). Honest limit: a crash mid-batch (some tables
    * written, marker not yet advanced) still re-appends to the already-
    * written tables on replay — append tables are at-least-once across
    * partial failures; deduplicate=true tables self-heal via the MERGE.
    * Full multi-table atomicity is a table-format/transaction-log
    * concern (see the class durability caveat). */
  def writeBatch(batch: DataFrame, batchId: Long,
                 streamId: String = "default"): Unit =
    runOnce(batchId, streamId)(write(batch))

  /** Execute `body` once per (stream, batchId): replays are skipped. The
    * marker is keyed by the stream identity (pass the checkpoint dir —
    * batch ids are only monotonic WITHIN one checkpoint; a fresh
    * checkpoint restarts at 0 and must get a fresh marker, or every new
    * batch would be silently skipped against the old high-water mark). */
  def runOnce(batchId: Long, streamId: String = "default")(body: => Unit): Unit = {
    val name = s"_graft_last_batch_${SinkRouter.streamScope(streamId)}"
    val marker = new Path(warehouseDir, name)
    val last =
      if (fs.exists(marker)) CommitLog.readString(fs, marker).trim.toLong
      else -1L
    if (batchId <= last) return
    body
    atomicWrite(new Path(warehouseDir), name, batchId.toString)
  }

  /** Publish `body` as `dir/name` in one rename of a dot-prefixed temp
    * file, which replaces an existing `name` in one step on a local FS —
    * readers see the old content or the new, never a part. */
  private def atomicWrite(dir: Path, name: String, body: String): Unit = {
    val tmp = new Path(dir, s".$name.tmp")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
    rename(tmp, new Path(dir, name))
  }

  /** `fs.rename`, with Hadoop's `false` (nothing moved) as an error. */
  private def rename(src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"rename $src -> $dst returned false")

  /** Route one batch in one pass: split by `_table` (dead letters and
    * invalid names to `quarantine`, see the class doc), write each
    * group. The batch is cached for the duration — table discovery plus
    * one write per table would otherwise recompute the upstream (e.g.
    * re-parse every JSON event per pass in the streaming path). */
  def write(batch: DataFrame): Unit = {
    val spark = batch.sparkSession
    val cached = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // one pass: routing map (table -> distinct event dates). The date
      // sets ride along so the merge path never runs a separate
      // batch-dates job; they're bounded by (tables × dates in batch).
      // resolve the timestamp column against its POST-snake-case name, so
      // routing dates agree with the dates withDate() will assign
      val tsSource = batch.columns.find(c =>
        (if (options.keepOriginalNames) c
         else graft.functions.Scalars.snakeCaseName(c)) == options.timestampColumn)
      val dateExpr = tsSource
        .map(c => coalesce(to_date(col(s"`$c`")), lit(EpochDate)))
        .getOrElse(lit(EpochDate))
      val hasRecords = batch.columns.contains(SinkRouter.QuarantineCol)
      val isRecord =
        if (hasRecords) col(SinkRouter.QuarantineCol).isNotNull else lit(false)
      // the per-table row count rides the same routing aggregation —
      // the commit-history metric costs no extra job
      val routing = cached
        .groupBy(col("_table"), isRecord.as("_rec"))
        .agg(collect_set(dateExpr).as("_dates"),
          count(lit(1)).as("_n"))
        .collect()
        .map(r => (r.getString(0), r.getBoolean(1),
          r.getSeq[java.sql.Date](2).toArray.sortBy(_.toLocalDate.toEpochDay),
          r.getLong(3)))
      val (good, dead) = routing.partition { case (t, rec, _, _) =>
        !rec && validTableName(t) && t != SinkRouter.QuarantineTable }
      val tables = good.map { case (t, _, dates, n) =>
        (t, cached.filter(col("_table") === t && !isRecord)
          .drop("_table", SinkRouter.QuarantineCol), dates, n)
      }
      val deadLetters =
        if (dead.isEmpty) None
        else {
          // invalid table name = a routing error, not a data loss: the
          // offending rows join the dead-letter write with the name in
          // the error
          val isBadName = dead.filterNot(_._2).map(_._1)
            .foldLeft(lit(false))((acc, t) =>
              acc || (if (t == null) col("_table").isNull
                      else col("_table") === t))
          val eventCols = batch.columns
            .filterNot(c => c == "_table" || c == SinkRouter.QuarantineCol)
          val misrouted = SinkRouter.record(
            to_json(struct(eventCols.map(c => col(s"`$c`")): _*)),
            concat(lit("invalid_table_name:"),
              coalesce(col("_table"), lit("null"))))
          val rec =
            if (hasRecords) coalesce(col(SinkRouter.QuarantineCol), misrouted)
            else misrouted
          Some((SinkRouter.QuarantineTable,
            cached.filter(isRecord || isBadName)
              .select(rec.as("_r")).select("_r.*"),
            Array(EpochDate), dead.map(_._4).sum))
        }
      (tables ++ deadLetters).foreach { case (t, rows, dates, n) =>
        val created = !tableExists(tablePath(t))
        writeTable(spark, t, rows, dates)
        recordCommit(t,
          if (created) "create"
          else if (merges(t)) "merge" else "append",
          Map("rows" -> n))
      }
    } finally cached.unpersist(false)
  }

  // ── commit history — the DESCRIBE HISTORY analogue ──────────────────
  // Every mutating operation appends one JSON entry under `_history/`
  // (atomic single-file create, versions monotone per router; a
  // restarted router resumes after the existing entries). The entry is
  // an audit/ops record: WHAT changed a table, when, and how much —
  // the operational counterpart of the manifest-swap commit itself.
  private val historySeq = new java.util.concurrent.atomic.AtomicLong(0L)
  // resume numbering after the HIGHEST existing version (not the file
  // count — [[vacuumHistory]] deletes old entries, and a count-based
  // resume would then reuse live version numbers and corrupt ordering)
  private lazy val historyStart: Long =
    SinkRouter.historyEntries(fs, historyPath).lastOption.fold(0L)(_._1)

  /** Truncate the commit log to its newest `keepLast` entries, folding
    * everything older into ONE audit checkpoint entry (table `*`,
    * operation `vacuum_checkpoint`, `commits_folded` metric) written at
    * the highest dropped version — the same idea as a table-format
    * checkpoint: the log stays bounded over months of uptime while
    * [[history]] keeps a complete, correctly ordered record. Crash-safe:
    * the checkpoint atomically replaces its version's entry first, then
    * strictly-older files are deleted — a crash in between leaves a
    * valid log and a re-run finishes the deletion. Version stamps for
    * tables whose newest commit was folded regress to 0, which consumers
    * treat as "recompute once" (safe, never stale). */
  def vacuumHistory(keepLast: Int): Unit = {
    require(keepLast >= 1, "keepLast must be >= 1")
    val files = SinkRouter.historyEntries(fs, historyPath)
    if (files.length <= keepLast) return
    val dropped = files.dropRight(keepLast)
    val (v, cp) = dropped.last
    // folding over an earlier checkpoint accumulates its count, so the
    // audit total stays exact across repeated vacuums
    val priorFolds = dropped.map { case (_, f) =>
      val body = CommitLog.readString(fs, f)
      if (body.contains(""""operation": "vacuum_checkpoint""""))
        """"commits_folded":\s*(\d+)""".r.findFirstMatchIn(body)
          .map(_.group(1).toLong - 1L).getOrElse(0L)
      else 0L
    }.sum
    atomicWrite(historyPath, cp.getName,
      s"""{"version": $v, "table": "*", """ +
      s""""operation": "vacuum_checkpoint", """ +
      s""""ts_ms": ${System.currentTimeMillis()}, """ +
      s""""metrics": {"commits_folded": ${dropped.length + priorFolds}}}""")
    dropped.init.foreach { case (_, f) => fs.delete(f, false) }
  }

  private def recordCommit(table: String, operation: String,
                           metrics: Map[String, Long]): Unit = {
    val v = historyStart + historySeq.incrementAndGet()
    // table names originate from the user-controlled `_table` column —
    // JSON-escape them (and operation, defensively) so a quote or
    // backslash cannot corrupt the history entry
    def esc(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val mjson = metrics.toSeq.sortBy(_._1)
      .map { case (k, n) => s""""${esc(k)}": $n""" }.mkString("{", ", ", "}")
    atomicWrite(historyPath, f"$v%012d.json",
      s"""{"version": $v, "table": "${esc(table)}", """ +
      s""""operation": "${esc(operation)}", """ +
      s""""ts_ms": ${System.currentTimeMillis()}, "metrics": $mjson}""")
  }

  /** The commit log as a DataFrame, ordered by version. */
  def history(spark: SparkSession): DataFrame = {
    val schema = StructType.fromDDL("version BIGINT, `table` STRING, " +
      "operation STRING, ts_ms BIGINT, metrics MAP<STRING, BIGINT>")
    if (!fs.exists(historyPath)) return spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    spark.read.schema(schema).json(historyDir)
      .orderBy(col("version"))
  }

  private def listDir(path: String): Array[FileStatus] =
    CommitLog.children(fs, new Path(path))

  private def name(f: FileStatus): String = f.getPath.getName

  private def tableExists(path: String): Boolean = listDir(path).exists(f =>
    name(f).startsWith(s"$DateCol=") || (f.isFile && name(f).endsWith(fmtExt)))

  private def partitionDirs(path: String): Array[FileStatus] =
    listDir(path).filter(d => d.isDirectory && name(d).startsWith(s"$DateCol="))

  private def partitionDates(path: String): Array[java.sql.Date] =
    partitionDirs(path).map(d =>
      java.sql.Date.valueOf(name(d).stripPrefix(s"$DateCol=")))

  private def tableNames: Array[String] = listDir(warehouseDir)
    .filter(d => d.isDirectory && !name(d).startsWith(".") &&
      !name(d).startsWith("_") && tableExists(d.getPath.toString))
    .map(name)

  /** A table written by a pre-partitioning version of this router has bare
    * parquet files under the table dir. Fold them into the epoch partition
    * (merges always include the epoch partition in their window, so the
    * rows stay merge-visible) instead of letting SaveMode.Overwrite
    * silently destroy them. */
  private def migrateLegacyLayout(path: String): Unit = {
    val loose = listDir(path).filter(f => f.isFile && name(f).endsWith(fmtExt))
    if (loose.nonEmpty) {
      val epochDir = new Path(path, s"$DateCol=$EpochDate")
      fs.mkdirs(epochDir)
      loose.foreach(f => rename(f.getPath, new Path(epochDir, name(f))))
      schemaCache.remove(path)
      fs.delete(new Path(path, SchemaSidecar), false): Unit
    }
  }

  /** Tag every row with its date partition. Null timestamps (and tables
    * with no timestamp column at all) land in a fixed epoch partition so
    * partition values are never null (no __HIVE_DEFAULT_PARTITION__). */
  private def withDate(df: DataFrame): DataFrame =
    if (df.columns.contains(options.timestampColumn))
      df.withColumn(DateCol,
        coalesce(to_date(col(options.timestampColumn)), lit(EpochDate)))
    else df.withColumn(DateCol, lit(EpochDate))

  // ---- schema sidecar ------------------------------------------------------

  /** DEEP nullability normalization: warehouse columns are nullable at
    * every level (schema evolution backfills nulls), and mergeSchemas
    * rebuilds nested fields nullable — if the persisted sidecar kept a
    * batch's nullable=false / containsNull=false nested flags, a
    * byte-identical second batch would compare as a schema CHANGE and
    * wedge a schemaFreeze table on every replay. */
  private def nullableType(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullableType(f.dataType), nullable = true)))
    case a: ArrayType =>
      ArrayType(nullableType(a.elementType), containsNull = true)
    case m: org.apache.spark.sql.types.MapType =>
      org.apache.spark.sql.types.MapType(
        m.keyType, nullableType(m.valueType), valueContainsNull = true)
    case other => other
  }

  private def nullable(s: StructType): StructType =
    nullableType(s).asInstanceOf[StructType]

  /** Table schema: cache -> sidecar -> (legacy fallback) one mergeSchema
    * scan that then persists the sidecar so it never happens again. */
  private def loadSchema(spark: SparkSession, path: String): StructType =
    schemaCache.getOrElseUpdate(path, {
      val sidecar = new Path(path, SchemaSidecar)
      if (fs.exists(sidecar)) {
        val json = CommitLog.readString(fs, sidecar)
        // normalize on load too: sidecars written before deep
        // normalization may carry non-nullable nested flags
        nullable(DataType.fromJson(json).asInstanceOf[StructType])
      } else {
        val s = nullable(
          spark.read.option("mergeSchema", "true").format(fmt).load(path).schema)
        persistSchema(path, s)
        s
      }
    })

  private def persistSchema(path: String, schema: StructType): Unit = {
    atomicWrite(new Path(path), SchemaSidecar, schema.json)
    schemaCache(path) = schema
  }

  /** Superset schema: existing fields (types win) + new incoming fields.
    * Struct-typed fields merge RECURSIVELY — hoisted JSON properties are
    * inferred per batch, so a nested object gaining a key must evolve the
    * nested type (new nested fields read back as null from old files via
    * parquet by-name resolution), not fail a cast. */
  private def mergeSchemas(existing: StructType, incoming: StructType): StructType = {
    val incMap = incoming.fields.map(f => f.name -> f).toMap
    val merged = existing.fields.map { ef =>
      incMap.get(ef.name).map(inf => (ef.dataType, inf.dataType) match {
        case (e: StructType, i: StructType) =>
          StructField(ef.name, mergeSchemas(e, i), nullable = true)
        case (ArrayType(e: StructType, _), ArrayType(i: StructType, _)) =>
          StructField(ef.name, ArrayType(mergeSchemas(e, i), containsNull = true),
            nullable = true)
        case _ => ef // existing type wins; alignColumn casts at write
      }).getOrElse(ef)
    }
    val have = existing.fieldNames.toSet
    val added = incoming.fields.filterNot(f => have(f.name))
      .map(f => StructField(f.name, f.dataType, nullable = true))
    StructType(merged ++ added)
  }

  /** Align one incoming column to the table's (possibly evolved) type.
    * Plain types cast; structs rebuild field-by-field (missing fields
    * null, nested structs recurse) because Spark cannot cast between
    * StructTypes with different field sets — a blind cast would throw an
    * AnalysisException that a replayed streaming batch hits forever. */
  private def alignColumn(c: org.apache.spark.sql.Column,
                          from: DataType, to: DataType): org.apache.spark.sql.Column =
    (from, to) match {
      case (f, t) if f == t => c
      case (f: StructType, t: StructType) =>
        val fTypes = f.fields.map(x => x.name -> x.dataType).toMap
        when(c.isNull, lit(null).cast(t)).otherwise(
          struct(t.fields.map { tf =>
            fTypes.get(tf.name)
              .map(fd => alignColumn(c.getField(tf.name), fd, tf.dataType))
              .getOrElse(lit(null).cast(tf.dataType))
              .as(tf.name)
          }: _*))
      case (ArrayType(f, _), ArrayType(t, _)) if f != t =>
        transform(c, x => alignColumn(x, f, t))
      case _ => c.cast(to)
    }

  // ---- write paths ---------------------------------------------------------

  /** One task per date partition (see scale notes in the class doc). The
    * partition count is pinned (AQE would coalesce a small shuffle down to
    * one task, serializing the creation of every partition file); pinning
    * keeps date-files created in parallel while each date still lands in
    * exactly one task → one file per date per batch.
    *
    * `dateCount` — the number of DISTINCT dates in `df`, which every
    * caller already knows (batch routing / rewriteDates / touched
    * partitions). The task count is min(shuffle partitions, dateCount):
    * with D dates, at most D tasks ever hold a file, and the excess
    * tasks are pure commit-protocol overhead that grows with the core
    * count — the r16 scaling block showed the sink gates running FASTER
    * on 8 cores than 32 for exactly this reason (guide §6: file counts
    * and task counts must not scale with cores). At scale (D ≥ cores)
    * the count is unchanged. */
  private def writePartitioned(df: DataFrame, path: String, mode: SaveMode,
                               dateCount: Int): Unit = {
    val conf = df.sparkSession.sessionState.conf.numShufflePartitions
    val n = math.max(1, math.min(conf, dateCount))
    val parted = df.repartition(n, col(DateCol))
    val clustered =
      if (options.sortWithinPartitionsBy.isEmpty) parted
      // each date lives in exactly one task; prepending the date keeps
      // dates contiguous when a task holds several
      else parted.sortWithinPartitions(
        (DateCol +: options.sortWithinPartitionsBy).map(col): _*)
    val w0 = clustered
      .write.mode(mode).partitionBy(DateCol).format(fmt)
      .options(options.writerOptions)
    val w =
      if (options.bloomFilterColumns.isEmpty) w0
      else if (fmt == "parquet")
        options.bloomFilterColumns.foldLeft(w0)((w, c) =>
          w.option(s"parquet.bloom.filter.enabled#$c", "true"))
      else w0.option("orc.bloom.filter.columns",
        options.bloomFilterColumns.mkString(","))
    w.save(path)
  }

  /** The prologue of every path that lands rows in `table`: crash
    * repair, legacy-layout fold, snake_case names, the reserved-column
    * check and the date tag. Returns (table path, tagged rows). */
  private def prepare(table: String, rows: DataFrame): (String, DataFrame) = {
    val path = tablePath(table)
    recover(path)
    migrateLegacyLayout(path)
    val base =
      if (options.keepOriginalNames) rows
      else graft.functions.Scalars.snakeCaseSchema(rows)
    if (base.columns.contains(DateCol))
      throw new IllegalArgumentException(
        s"column name '$DateCol' is reserved for the sink's date partition")
    (path, withDate(base))
  }

  private def writeTable(spark: SparkSession, table: String, rows: DataFrame,
                         batchDates: Array[java.sql.Date]): Unit = {
    val (path, incoming) = prepare(table, rows)
    if (!tableExists(path)) {
      writePartitioned(incoming, path, SaveMode.Overwrite, batchDates.length)
      persistSchema(path, nullable(incoming.schema))
    } else {
      val (aligned, evolved) = alignToTable(spark, path, incoming)
      if (!merges(table))
        writePartitioned(aligned, path, SaveMode.Append, batchDates.length)
      else mergeInto(spark, path, evolved, aligned, batchDates)
    }
  }

  /** Evolve the sidecar schema for `incoming` (schemaFreeze-gated) and
    * align incoming columns to the evolved table types. Known columns
    * arriving with a drifted type are cast to the table's type at write
    * time — otherwise one bad batch poisons every read; struct columns
    * rebuild field-by-field. The sidecar evolves BEFORE any write: a
    * sidecar column with no data yet reads back as nulls (harmless),
    * whereas committed data with a column the sidecar lacks would be
    * invisible to every read after a crash in between. */
  private def alignToTable(spark: SparkSession, path: String,
                           incoming: DataFrame): (DataFrame, StructType) = {
    val existing = loadSchema(spark, path)
    val evolved = mergeSchemas(existing, nullable(incoming.schema))
    if (options.schemaFreeze && evolved != existing) {
      val have = existing.fieldNames.toSet
      val newCols = incoming.columns.filterNot(have)
      throw new IllegalStateException(
        s"schemaFreeze: schema change rejected (new columns: " +
          s"${newCols.mkString(",")}; or nested field additions)")
    }
    val evolvedTypes = evolved.fields.map(f => f.name -> f.dataType).toMap
    val aligned = incoming.select(incoming.columns.map { c =>
      val from = incoming.schema(c).dataType
      val to = evolvedTypes(c)
      (if (from == to) col(c) else alignColumn(col(c), from, to)).as(c)
    }: _*)
    if (evolved != existing) persistSchema(path, evolved)
    (aligned, evolved)
  }

  /** Partition backfill — the INSERT OVERWRITE PARTITION / replaceWhere
    * shape: atomically replace EXACTLY the date partitions the incoming
    * rows cover with the incoming content, through the same staged-write
    * + manifest-swap commit as merge/compact/deleteWhere. The
    * reprocess-a-broken-day operation: untouched partitions are never
    * read or rewritten (O(backfilled partitions), not O(table)), a
    * crash at any point rolls back or forward cleanly, and schema
    * evolution/alignment matches a normal write. Rows pass through the
    * same snake_case + derived-date normalization as `write`. Returns
    * the replaced dates. */
  def overwriteDates(spark: SparkSession, table: String,
                     rows: DataFrame): Seq[java.sql.Date] = {
    val (path, tagged) = prepare(table, rows)
    val created = !tableExists(path)
    val incoming =
      (if (created) tagged else alignToTable(spark, path, tagged)._1).persist()
    try {
      // dates are collected for the return value; collecting them
      // BEFORE the write also sizes its task count
      val dates = incoming.select(col(DateCol)).distinct().collect()
        .map(_.getDate(0)).toSeq
      if (created) {
        writePartitioned(incoming, path, SaveMode.Overwrite, dates.length)
        persistSchema(path, nullable(incoming.schema))
      } else stagedRewrite(path, incoming, dates.map(d => s"$DateCol=$d"))
      recordCommit(table, if (created) "create" else "replace_where",
        Map("partitions_replaced" -> dates.size.toLong))
      dates
    } finally { incoming.unpersist(false); () }
  }

  /** Align two frames to the union-by-name superset schema. */
  private def evolve(existing: DataFrame, incoming: DataFrame): (DataFrame, DataFrame) = {
    val have = existing.columns.toSet
    val newCols = incoming.columns.filterNot(have)
    val e2 = newCols.foldLeft(existing)((df, c) =>
      df.withColumn(c, lit(null).cast(incoming.schema(c).dataType)))
    val missing = existing.columns.filterNot(incoming.columns.toSet)
    val i2 = missing.foldLeft(incoming)((df, c) =>
      df.withColumn(c, lit(null).cast(existing.schema(c).dataType)))
    (e2, i2.select(e2.columns.map(col): _*))
  }

  /** MERGE INTO, partition-scoped. Reads only live partitions inside the
    * dedup window (plus the epoch partition: null-timestamp rows and
    * migrated legacy rows live there) that hold a prior version of a batch
    * key, merges them with the batch (latest per `primaryKey` wins; batch
    * beats existing on timestamp ties — re-emitted UR events overwrite),
    * stages the result, and swaps just those partition dirs. The existing
    * table is read with the sidecar schema — no footer scans. */
  private def mergeInto(
      spark: SparkSession, path: String,
      tableSchema: StructType, incoming: DataFrame,
      batchDates: Array[java.sql.Date]): Unit = {
    val w = options.deduplicateWindowDays
    // batch dates arrive from write()'s routing pass; window bounds
    // derive driver-side — no extra job
    val lo = java.sql.Date.valueOf(
      batchDates.map(_.toLocalDate).min.minusDays(w.toLong))
    val hi = java.sql.Date.valueOf(
      batchDates.map(_.toLocalDate).max.plusDays(w.toLong))
    val existing = readData(spark, tableSchema, path)
    // partition-pruned, column-pruned probe: which dates hold a batch key?
    val windowed = existing.filter(
      col(DateCol).between(lit(lo), lit(hi)) || col(DateCol) === lit(EpochDate))
    // Dates the batch itself carries are rewritten regardless, so the
    // probe only needs to scan windowed partitions OUTSIDE the batch's
    // own date set — listed driver-side from the partition dirs. In the
    // common streaming case (batch dates ⊇ live window dates) the probe
    // job disappears entirely.
    val batchSet = batchDates.toSet
    val probeDates = partitionDates(path)
      .filter(d => (!d.before(lo) && !d.after(hi)) || d == EpochDate)
      .filterNot(batchSet.contains)
    val touched =
      if (probeDates.isEmpty) Array.empty[java.sql.Date]
      else windowed
        .filter(col(DateCol).isin(probeDates.toSeq: _*))
        .select(col(DateCol), col(options.primaryKey))
        .join(incoming.select(options.primaryKey).distinct(),
          Seq(options.primaryKey), "left_semi")
        .select(DateCol).distinct().collect().map(_.getDate(0))
    val rewriteDates = (touched ++ batchDates).distinct.toSeq
    val oldRows = windowed.filter(col(DateCol).isin(rewriteDates: _*))

    val (e2, i2) = evolve(oldRows, incoming)
    val all = e2.withColumn("_src", lit(0))
      .unionByName(i2.withColumn("_src", lit(1)))
    // latest-per-key via hash aggregation, not a sort window: max_by on
    // (timestamp, _src) — struct comparison ranks null timestamps lowest
    // (= desc_nulls_last winner) and _src breaks ties (batch beats
    // existing). Partial map-side aggregation, no per-partition sort.
    val dataCols = all.columns.filterNot(_ == "_src")
    val merged = all
      .groupBy(col(options.primaryKey))
      .agg(max_by(
        struct(dataCols.map(col): _*),
        struct(col(options.timestampColumn), col("_src"))).as("_r"))
      .select(col("_r.*"))
    stagedRewrite(path, merged, rewriteDates.map(d => s"$DateCol=$d"))
  }

  /** The staged rewrite of every partition-replacing operation: `rows`
    * go to a hidden `.stage-<id>` dir, then [[commitSwap]] replaces the
    * `dirs` partitions (a dir without staged output is deleted). The
    * swap manifest is the commit point: a crash before it rolls back on
    * the next [[recover]], a crash after it rolls forward. */
  private def stagedRewrite(path: String, rows: DataFrame,
                            dirs: Seq[String]): Unit = {
    val id = java.util.UUID.randomUUID().toString.take(8)
    val stage = s"$path/${stageDir(id)}"
    writePartitioned(rows, stage, SaveMode.Overwrite, dirs.length)
    beforeSwapHook()
    val stagedNames = partitionDirs(stage).map(name).toSet
    // defensive union: every staged dir must be swapped in even if the
    // caller's date bookkeeping ever disagrees with the staged output
    commitSwap(path, id, (dirs ++ stagedNames).distinct, stagedNames)
  }

  /** Test seam: runs after a staged rewrite's output is fully committed
    * and before the swap manifest (the commit point) is written. A crash
    * here must leave the table exactly as it was (SinkRouterSpec proves
    * it). */
  protected def beforeSwapHook(): Unit = ()

  // ---- swap protocol -------------------------------------------------------
  // Since round 9 the manifest + executor live in the shared
  // [[CommitLog]] module (one protocol, three consumers): a swap
  // serializes as `.commit-swap-<id>` — deletion dates become `deletes`,
  // staged dates become staged→live `renames`, the stage root drops as
  // `cleanup`.

  private def stageDir(id: String) = s".stage-$id"

  /** Commit a staged partition swap: the CommitLog manifest is the
    * commit point; the executor is idempotent from any crash point
    * (staged dir consumed → skip; delete re-deletes nothing). Dirs in
    * `dirs` without staged output are deletions the merge legitimately
    * performed. */
  private def commitSwap(path: String, id: String,
                         dirs: Seq[String], staged: Set[String]): Unit =
    CommitLog.commit(fs, new Path(path), s"swap-$id", CommitLog.Swap(
      deletes = dirs.filterNot(staged),
      renames = dirs.filter(staged).map(d =>
        CommitLog.Rename(s"${stageDir(id)}/$d", d)),
      cleanup = Seq(stageDir(id))))

  /** Crash repair, run before every write. Swaps with a persisted
    * manifest are rolled FORWARD ([[CommitLog.recover]]). Leftover
    * stage/trash dirs WITHOUT a manifest date from before the commit
    * point: trash partitions missing a live dir are restored first
    * (covers crashes from the pre-manifest-protocol router), then the
    * leftovers are rolled back. Single writer per table, as in the
    * reference's bulker. */
  private def recover(path: String): Unit = {
    // fast path: a healthy table has no commit/stage/trash entries — one
    // directory listing and out (recover runs before EVERY write/read)
    val entries = listDir(path).map(name)
    if (!entries.exists(n => n.startsWith(".commit-") ||
        n.startsWith(".stage-") || n.startsWith(".trash-")))
      return
    CommitLog.recover(fs, new Path(path))
    val kids = listDir(path).map(_.getPath)
    kids.filter(_.getName.startsWith(".trash-")).foreach { trash =>
      CommitLog.children(fs, trash).map(_.getPath)
        .filter(_.getName.startsWith(s"$DateCol="))
        .foreach { part =>
          val live = new Path(path, part.getName)
          if (!fs.exists(live)) rename(part, live)
        }
    }
    kids.filter(p => p.getName.startsWith(".stage-") || p.getName.startsWith(".trash-"))
      .foreach(fs.delete(_, true))
  }

  /** Read a routed table back with the sidecar schema (merged superset —
    * evolution; no footer scans), minus the internal partition column. */
  def readTable(spark: SparkSession, table: String): DataFrame = {
    val path = tablePath(table)
    recover(path)
    readAt(spark, path)
  }

  private def readAt(spark: SparkSession, path: String): DataFrame =
    applyDeletes(spark, path, readData(spark, loadSchema(spark, path), path))
      .drop(DateCol)

  // ---- snapshots (time travel) ---------------------------------------------

  private def snapsRoot(path: String) = new Path(path, "_snapshots")

  /** Named ZERO-COPY snapshot — the time-travel half of a table format
    * (Delta `VERSION AS OF` / Iceberg snapshots), additive to the swap
    * protocol rather than a rewrite of it: every live data file, the
    * schema sidecar, and the MoR deletion vector are HARD-LINKED (inode
    * shared, zero bytes copied, O(files) metadata ops) into
    * `_snapshots/<name>/`. Later merges/compactions/deletes unlink the
    * live files, but the linked inodes survive, so the snapshot reads
    * back byte-identical forever — and because `_snapshots` is
    * underscore-prefixed, Spark's file index never sees it from the
    * live table's reads.
    *
    * Creation is crash-safe the same way the swap is: links build under
    * a dot-prefixed temp dir, and one atomic rename publishes the
    * snapshot (a half-built `.tmp-` dir is invisible to [[readSnapshot]]
    * and harmless — hard links hold no data of their own).
    *
    * Hard links are a local-FS notion: on any other file system this
    * throws `UnsupportedOperationException` naming the scheme. There the
    * operator would be the table format's snapshot manifest (a file
    * LIST, which object-store table formats keep instead of links); the
    * O(metadata), zero-data-copy shape is the part that transfers. */
  def snapshot(table: String, name: String): Unit = {
    require(name.matches("[A-Za-z0-9][A-Za-z0-9._-]*"),
      s"snapshot name must be [A-Za-z0-9._-]+ and not dot-lead: $name")
    val root = snapsRoot(tablePath(table))
    linkCopy(table, new Path(root, s".tmp-$name"), new Path(root, name),
      s"snapshot already exists: $name")
    recordCommit(table, "snapshot", Map.empty)
  }

  /** Hard-link `table`'s sidecar, data files and deletion vector under
    * `tmpDst`, then publish it as `dst` by one rename. Listing, dirs and
    * the publish go through the handle; only the link endpoints resolve
    * to local files. */
  private def linkCopy(table: String, tmpDst: Path, dst: Path,
                       exists: String): Unit = {
    val local = fs match {
      case l: RawLocalFileSystem => l
      case other => throw new UnsupportedOperationException(
        s"snapshots and clones hard-link files, which needs a local file " +
          s"system; the warehouse is on ${other.getUri.getScheme}:")
    }
    def link(src: Path, to: Path): Unit =
      java.nio.file.Files.createLink(local.pathToFile(to).toPath,
        local.pathToFile(src).toPath): Unit
    val path = tablePath(table)
    recover(path)
    val sidecar = new Path(path, SchemaSidecar)
    if (!fs.exists(sidecar))
      throw new IllegalStateException(
        s"table $table has no schema sidecar (write to it first)")
    if (fs.exists(dst)) throw new IllegalStateException(exists)
    fs.delete(tmpDst, true)
    fs.mkdirs(tmpDst)
    link(sidecar, new Path(tmpDst, SchemaSidecar))
    def linkDir(src: Path, to: Path): Unit = {
      fs.mkdirs(to)
      CommitLog.children(fs, src)
        .filter(f => f.isFile && !name(f).startsWith(".") && !name(f).startsWith("_"))
        .foreach(f => link(f.getPath, new Path(to, name(f))))
    }
    partitionDirs(path).foreach(d => linkDir(d.getPath, new Path(tmpDst, name(d))))
    val dv = dvPath(path)
    if (fs.isDirectory(dv)) linkDir(dv, new Path(tmpDst, "_deletes"))
    rename(tmpDst, dst)
  }

  /** Zero-copy WRITABLE clone — the dev/test-branch half of the
    * snapshot pair (Delta SHALLOW CLONE): a new top-level table whose
    * data files, schema sidecar, and MoR deletion vector are hard
    * links into the source's current state. Reads of the clone are
    * byte-identical to the source at clone time; subsequent writes to
    * EITHER side diverge safely because the router never mutates a
    * data file in place — appends create new files, and merge /
    * compact / delete replace whole partition directories through the
    * staged-write + manifest swap, unlinking rather than rewriting the
    * shared inodes. O(files) metadata ops, zero bytes copied; atomic
    * publish via directory rename. Like [[snapshot]], it needs a local
    * file system and throws `UnsupportedOperationException` on any
    * other; there the link set would become a metadata-manifest copy —
    * the same O(metadata) shape. */
  def cloneTable(srcTable: String, dstTable: String): Unit = {
    linkCopy(srcTable, new Path(warehouseDir, s".clone-tmp-$dstTable"),
      new Path(tablePath(dstTable)), s"table already exists: $dstTable")
    recordCommit(dstTable, "clone",
      Map.empty) // source untouched; the clone's history starts here
  }

  /** Read a named snapshot exactly as [[readTable]] reads the live
    * table: the snapshot's OWN sidecar schema (schema evolution after
    * the snapshot doesn't leak back in time) and the snapshot's own
    * deletion vector. */
  def readSnapshot(spark: SparkSession, table: String, name: String): DataFrame = {
    val snap = new Path(snapsRoot(tablePath(table)), name)
    if (!fs.exists(snap))
      throw new IllegalArgumentException(s"no such snapshot: $table@$name")
    readAt(spark, snap.toString)
  }

  def listSnapshots(table: String): Seq[String] =
    CommitLog.children(fs, snapsRoot(tablePath(table)))
      .filter(f => f.isDirectory && !name(f).startsWith("."))
      .map(name).sorted.toSeq

  /** Drop a snapshot: unlinks its file references (data shared with the
    * live table or other snapshots is untouched — inodes free only when
    * the last link goes). */
  def dropSnapshot(table: String, name: String): Unit = {
    val snap = new Path(snapsRoot(tablePath(table)), name)
    schemaCache.remove(snap.toString)
    fs.delete(snap, true): Unit
  }

  /** Targeted row erasure (GDPR right-to-be-forgotten / DELETE WHERE —
    * the reference's warehouse world implies it, bulker leaves it to the
    * warehouse's own DELETE; a file-based table must rewrite files).
    * Two-job shape, O(touched partitions) not O(table):
    *   1. probe: which date partitions hold a matching row? Column-pruned
    *      to (DateCol + predicate columns) — at 100 TB this is a scan of
    *      just the predicate columns with the parquet footer stats /
    *      dictionary doing row-group pruning, not a row rewrite.
    *   2. rewrite ONLY those partitions with the predicate inverted,
    *      through the same staged-write + manifest-swap commit protocol
    *      as the merge — crash-safe, readers never see partial deletes.
    *      A partition whose every row matches is a legitimate partition
    *      deletion (no staged dir), which the commit swap already encodes.
    * Returns the number of rows deleted. */
  /** GDPR Art. 15 subject-access export — the READ counterpart of
    * [[deleteWhere]]'s right-to-be-forgotten: every row belonging to
    * `keyValue` in every warehouse table whose schema carries `keyCol`,
    * as (table, row_json) pairs ready for the portability response.
    * Tables without the key column are skipped (they hold no
    * subject-keyed data by construction).
    *
    * Scale shape: one scan per keyed table, with the equality predicate
    * pushed to the format's row-group/stripe stats and the read pruned
    * by the sidecar schema; MoR deletion vectors are applied (an erased
    * row must NOT come back in an export). Per-table output is the
    * subject's own rows — human-sized — so the JSON projection cost is
    * negligible; nothing shuffles. */
  def exportSubject(spark: SparkSession, keyCol: String,
                    keyValue: String): DataFrame = {
    val frames = tableNames.sorted.toSeq.flatMap { t =>
      val schema = loadSchema(spark, tablePath(t))
      if (!schema.fieldNames.contains(keyCol)) None
      else Some(readTable(spark, t)
        .filter(col(keyCol) === lit(keyValue))
        .select(lit(t).as("table"),
          to_json(struct(col("*"))).as("row_json")))
    }
    frames.reduceOption(_ unionByName _).getOrElse {
      import spark.implicits._
      Seq.empty[(String, String)].toDF("table", "row_json")
    }
  }

  def deleteWhere(spark: SparkSession, table: String,
                  predicate: org.apache.spark.sql.Column): Long = {
    val path = tablePath(table)
    recover(path)
    if (!tableExists(path)) return 0L
    val (deleted, rewritten) =
      rewriteWithout(spark, path, _.filter(predicate), _.filter(!predicate))
    if (deleted > 0) recordCommit(table, "delete", Map(
      "rows_deleted" -> deleted, "partitions_rewritten" -> rewritten))
    deleted
  }

  /** Copy-on-write removal, the two-job shape of [[deleteWhere]] and
    * [[purgeDeletes]]: a probe counts `hit`'s rows per date, then only
    * the dates holding one are rewritten with the rows `kept` selects.
    * Returns (rows removed, partitions rewritten). */
  private def rewriteWithout(spark: SparkSession, path: String,
                             hit: DataFrame => DataFrame,
                             kept: DataFrame => DataFrame): (Long, Long) = {
    val full = readData(spark, loadSchema(spark, path), path)
    val hits = hit(full).groupBy(col(DateCol)).agg(count(lit(1)).as("_n"))
      .collect()
    val touched = hits.map(_.getDate(0))
    if (touched.nonEmpty)
      stagedRewrite(path, kept(full.filter(col(DateCol).isin(touched.toSeq: _*))),
        touched.map(d => s"$DateCol=$d").toSeq)
    (hits.map(_.getLong(1)).sum, touched.length.toLong)
  }

  /** Merge-on-read erasure (deletion vectors): instead of rewriting the
    * matching partitions (copy-on-write `deleteWhere`), record the
    * matching primary keys in a tiny sidecar table and apply them as an
    * anti join at read. Delete cost becomes O(matching keys) — one
    * column-pruned probe plus a KB-sized write — regardless of how many
    * 100 TB partitions the rows live in; the read pays a broadcast anti
    * join until `purgeDeletes` folds the vectors in (Delta/Iceberg
    * deletion-vector semantics, position-keyed there, key-keyed here —
    * same MoR trade: cheap deletes now, a background rewrite later).
    * The sidecar lives under `_deletes/` (underscore-prefixed, so
    * Spark's file index hides it from the main table scan). Returns the
    * number of newly recorded keys. */
  def deleteWhereMor(spark: SparkSession, table: String,
                     predicate: org.apache.spark.sql.Column): Long = {
    val path = tablePath(table)
    recover(path)
    if (!tableExists(path)) return 0L
    val schema = loadSchema(spark, path)
    val pk = options.primaryKey
    val keys = readData(spark, schema, path)
      .filter(predicate).select(col(pk)).distinct()
    val n = appendDeletes(spark, path, keys)
    if (n > 0) recordCommit(table, "delete_mor", Map("keys_added" -> n))
    n
  }

  private def appendDeletes(spark: SparkSession, path: String,
                            keys: DataFrame): Long = {
    val dv = dvPath(path)
    val fresh =
      if (!fs.exists(dv)) keys
      else keys.join(spark.read.parquet(dv.toString), Seq(options.primaryKey),
        "left_anti")
    fresh.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = fresh.count()
      if (n > 0) fresh.coalesce(1).write.mode(SaveMode.Append).parquet(dv.toString)
      n
    } finally { fresh.unpersist(false); () }
  }

  /** Semantics note: the vector is KEY-keyed, so a later re-ingest of a
    * deleted key stays hidden until `purgeDeletes` — i.e. erase-and-
    * block, which is what GDPR tombstoning wants (no resurrection from
    * upstream replays). Position-keyed vectors (Delta/Iceberg) make the
    * opposite choice; both are stated trade-offs of MoR deletes. */

  private def dvPath(path: String) = new Path(path, "_deletes")

  private def applyDeletes(spark: SparkSession, path: String,
                           df: DataFrame): DataFrame = {
    val dv = dvPath(path)
    if (!fs.exists(dv)) df
    else df.join(broadcast(spark.read.parquet(dv.toString)),
      Seq(options.primaryKey), "left_anti")
  }

  /** Fold accumulated deletion vectors into the data files (the
    * background rewrite of the MoR trade): rewrite ONLY the partitions
    * holding a recorded key, anti-joined against the vector (broadcast
    * — the vector is keys-sized, never the table), through the same
    * manifest swap; then drop the sidecar. Read results are unchanged
    * before/after (SinkRouterSpec proves it). Returns rows removed. */
  def purgeDeletes(spark: SparkSession, table: String): Long = {
    val path = tablePath(table)
    recover(path)
    val dv = dvPath(path)
    if (!fs.exists(dv)) return 0L
    val keys = broadcast(spark.read.parquet(dv.toString))
    val pk = Seq(options.primaryKey)
    val (purged, _) = rewriteWithout(spark, path,
      _.join(keys, pk, "left_semi"), _.join(keys, pk, "left_anti"))
    fs.delete(dv, true)
    recordCommit(table, "purge_deletes", Map("rows_purged" -> purged))
    purged
  }

  /** Retention vacuum: drop every date partition strictly older than
    * `asOf - retainDays`. Pure metadata + directory renames through the
    * manifest protocol (deletions have no staged dirs) — ZERO data is
    * read or rewritten, cost is O(dropped partitions). `asOf` is a
    * parameter (not now()) so retention runs are reproducible and
    * testable; callers pass LocalDate.now() in production. Rows in the
    * epoch partition (null-timestamp parking) are never vacuumed — age
    * unknown. Returns the dropped partition dates. */
  def vacuum(table: String, retainDays: Int,
             asOf: java.time.LocalDate): Seq[java.sql.Date] = {
    val path = tablePath(table)
    recover(path)
    if (!tableExists(path)) return Seq.empty
    val cutoff = asOf.minusDays(retainDays.toLong)
    val dropped = partitionDates(path)
      .filter(d => d != EpochDate && d.toLocalDate.isBefore(cutoff))
      .sortBy(_.toLocalDate.toEpochDay).toSeq
    if (dropped.isEmpty) return Seq.empty
    val id = java.util.UUID.randomUUID().toString.take(8)
    val dirNames = dropped.map(d => s"$DateCol=$d")
    commitSwap(path, id, dirNames, Set.empty)
    recordCommit(table, "vacuum",
      Map("partitions_dropped" -> dropped.size.toLong))
    dropped
  }

  /** CDC micro-batch apply — the streaming form of
    * [[graft.operators.Cdc.applyBatch]], at O(batch + |delete vector|)
    * cost instead of O(table): a Debezium-shaped op batch (rows with
    * `op` in i/u/d and a per-key-monotone `lsn`) folds into `table` as
    *   - winner per key = max-lsn op (hash agg over the batch);
    *   - i/u winners upsert through the normal dedup MERGE
    *     (partition-pruned, O(touched partitions));
    *   - d winners append to the merge-on-read deletion vector
    *     (keys-sized sidecar, zero data files touched).
    * CDC re-inserts must RESURRECT deleted keys, which is the opposite
    * of the vector's GDPR tombstone semantics — so upserted keys are
    * first removed from the vector (the vector is keys-sized by
    * construction, so the rewrite is O(|vector|); `purgeDeletes` folds
    * it away on maintenance cadence). Requires `deduplicate=true`.
    * Returns (upserted, newly deleted) counts. */
  def applyCdc(spark: SparkSession, table: String, ops: DataFrame,
               lsnCol: String = "lsn", opCol: String = "op"): (Long, Long) = {
    require(options.deduplicate,
      "applyCdc needs SinkOptions(deduplicate = true): upserts ride the merge")
    val pk = options.primaryKey
    val path = tablePath(table)
    recover(path)
    val rest = ops.columns.filterNot(c =>
      c == pk || c == lsnCol || c == opCol)
    val winners = ops.groupBy(col(pk))
      .agg(max_by(struct((rest :+ opCol).map(col): _*), col(lsnCol))
        .as("_w"))
      .select(col(pk) +: (rest :+ opCol).map(c => col(s"_w.$c").as(c)): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val upserts0 = winners.filter(lower(col(opCol)) =!= "d").drop(opCol)
      // the merge ranks recency on the timestamp column; a CDC feed
      // without one still merges (null ts ranks lowest, incoming wins
      // ties via _src)
      val upserts =
        if (upserts0.columns.contains(options.timestampColumn)) upserts0
        else upserts0.withColumn(options.timestampColumn,
          lit(null).cast("timestamp"))
      val delKeys = winners.filter(lower(col(opCol)) === "d").select(col(pk))
      val nUp = upserts.count()
      if (nUp > 0) {
        // un-tombstone before the write: a key that was deleted in an
        // earlier batch and re-inserted now must come back
        val dv = dvPath(path)
        if (fs.exists(dv)) {
          val cur = spark.read.parquet(dv.toString)
          val kept = cur.join(broadcast(upserts.select(col(pk))),
            Seq(pk), "left_anti").persist()
          try {
            if (kept.count() < cur.count()) {
              val tmp = new Path(path, ".dv-rewrite")
              kept.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
              fs.delete(dv, true)
              rename(tmp, dv)
            }
          } finally { kept.unpersist(false); () }
        }
        write(upserts.withColumn("_table", lit(table)))
      }
      (nUp, appendDeletes(spark, path, delKeys))
    } finally { winners.unpersist(false); () }
  }

  /** Maintenance compaction (Delta OPTIMIZE analogue): rewrite each date
    * partition that has accumulated more than `maxFilesPerPartition`
    * files into one file, through the same staged-write + manifest swap
    * as a merge — crash-safe at every point, readers never see a partial
    * state. Streaming appends create one file per date per micro-batch,
    * so long-running tables need this periodically; untouched partitions
    * are not read or rewritten (O(compacted partitions), not O(table)). */
  /** Compact every table under the warehouse dir (table = a child dir
    * holding date partitions or parquet files). The streaming pipeline
    * calls this on a batch cadence — see EventPipeline.start. */
  def compactAll(spark: SparkSession, maxFilesPerPartition: Int = 8): Unit =
    tableNames.foreach(t => compact(spark, t, maxFilesPerPartition))

  def compact(spark: SparkSession, table: String,
              maxFilesPerPartition: Int = 8): Unit = {
    val path = tablePath(table)
    recover(path)
    if (!tableExists(path)) return
    val crowded = partitionDirs(path)
      .filter(d => CommitLog.children(fs, d.getPath)
        .count(f => f.isFile && name(f).endsWith(fmtExt)) > maxFilesPerPartition)
      .map(name)
    if (crowded.isEmpty) return
    val schema = loadSchema(spark, path)
    val dates = crowded.map(_.stripPrefix(s"$DateCol="))
    val rows = readData(spark, schema, path)
      .filter(col(DateCol).isin(dates: _*))
    stagedRewrite(path, rows, crowded.toSeq) // 1 file per date
    recordCommit(table, "compact",
      Map("partitions_compacted" -> crowded.size.toLong))
  }
}

object SinkRouter {

  /** Dead-letter table, exactly (raw_event, error); see the class doc. */
  val QuarantineTable = "quarantine"

  /** The 12-hex-digit key a stream's side files (batch marker, quota
    * deltas) are scoped by: batch ids are only unique per stream. */
  def streamScope(streamId: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(streamId.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString.take(12)

  /** Reserved routing column next to `_table`: a non-null
    * struct<raw_event, error> sends its row to [[QuarantineTable]]. */
  val QuarantineCol = "_quarantine"

  private[sinks] def record(raw: org.apache.spark.sql.Column,
                            error: org.apache.spark.sql.Column) =
    struct(raw.cast("string").as("raw_event"), error.cast("string").as("error"))

  /** `rows` as dead-letter records for [[SinkRouter.write]]: `raw` and
    * `error` become the quarantine table's (raw_event, error). */
  def quarantine(rows: DataFrame, raw: org.apache.spark.sql.Column,
                 error: org.apache.spark.sql.Column): DataFrame =
    rows.select(lit(QuarantineTable).as("_table"),
      record(raw, error).as(QuarantineCol))

  /** The file system holding `path`, resolved through the active
    * session's Hadoop configuration — the one Spark's own table reads and
    * writes use. A local path gets the raw local FS behind the cached
    * checksummed one (which writes a `.crc` twin beside every file and is
    * shared with Spark's writes, so it is not reconfigured). */
  private def fileSystem(path: Path): FileSystem =
    path.getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration) match {
      case local: LocalFileSystem => local.getRawFileSystem
      case other => other
    }

  /** The commit log's `<version>.json` entries (temp files skipped),
    * ascending by version. */
  private def historyEntries(fs: FileSystem, dir: Path): Array[(Long, Path)] =
    CommitLog.children(fs, dir).map(_.getPath)
      .filter(p => p.getName.endsWith(".json") && !p.getName.startsWith("."))
      .flatMap(p => scala.util.Try(p.getName.stripSuffix(".json").toLong)
        .toOption.map(_ -> p))
      .sortBy(_._1)

  // (historyDir, table) -> (dir mtime at scan, version). A new commit
  // creates a file, which bumps the directory's mtime — so a matching
  // mtime means the cached answer is still exact and the hit path is
  // ONE stat, independent of commit-log length.
  private val commitMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, String), (Long, Long)]()

  /** Newest `_history/` commit version naming `table` (0 when none) —
    * the per-table validity stamp consumers
    * ([[graft.sql.GuardedSql.queryCached]],
    * [[graft.plans.MvRewrite.MvCatalog]]) compare instead of stat'ing
    * every data file. Memoized against the directory mtime: unchanged
    * log ⇒ one stat; a landed commit ⇒ one listing plus reads of only
    * the newest tiny JSON entries. A store without directory mtimes
    * reports 0, which never memo-hits. */
  def latestCommit(historyDir: String, table: String): Long = {
    val dir = new Path(historyDir)
    val fs = fileSystem(dir)
    // 0 when the dir does not exist, or the store keeps no dir mtimes
    val mtime = scala.util.Try(fs.getFileStatus(dir).getModificationTime)
      .getOrElse(0L)
    val key = (historyDir, table)
    val cached = commitMemo.get(key)
    // never trust an mtime still inside the filesystem's timestamp
    // granularity: ext4 stores nanoseconds but FAT/older NFS/HFS+ round
    // to a full SECOND, and a commit landing in the same tick would not
    // move the mtime — so only memo-hit once the mtime is older than the
    // coarsest plausible granularity (2 s). The re-list inside that
    // window is one directory listing of a vacuum-bounded log.
    if (cached != null && cached._1 == mtime &&
        mtime < System.currentTimeMillis() - 2000) return cached._2
    val needle = s""""table": "$table""""
    val v = historyEntries(fs, dir).reverseIterator
      .find { case (_, f) => CommitLog.readString(fs, f).contains(needle) }
      .fold(0L)(_._1)
    if (mtime > 0) commitMemo.put(key, (mtime, v))
    v
  }
}
