package graft.operators

import java.sql.Timestamp

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** User recognition — SURVEY §2.5 J1: the stateful anonymous->identified
  * self-join (ref `libs/core-functions/src/functions/user-recognition.ts:
  * 24-108` + Mongo buffer `lib/mongodb.ts:40-84`).
  *
  * Semantics: the anonymous key is the first non-null of
  * `anonymousIdFields` (ref `getAnonId` :87-95); an event is identified
  * when ANY of `identifierFields` is non-empty (ref `getIdentifiedFields`
  * :97-108). Anonymous events are buffered per key for
  * `lookbackWindowDays`; when an identified event arrives for the same
  * key, all buffered events are re-emitted with THAT event's identifier
  * fields merged in (identified values overwrite, JSON-object fields
  * deep-merge at key level — lodash `merge` :66). Downstream the sink's
  * dedup-on-`message_id` merge makes re-emitted rows overwrite originals.
  *
  * [[resolveBatch]] is the batch/oracle-checkable equivalent: the merge
  * source is the FIRST identified event at-or-after each row within the
  * lookback window (exactly the event that would trigger eviction in the
  * streaming form). Single shuffle on the anonymous key (window
  * functions), no join. The streaming form is ONE state machine,
  * [[urGenTransition]] on `flatMapGroupsWithState` with event-time
  * timeout as the TTL (RocksDB-backed state at scale, one shuffle on the
  * key), reached through [[streamingResolveConfigured]] on a parsed
  * stream or [[tagRawLines]] + [[resolveTagged]] on raw lines (the
  * production path, [[graft.streaming.EventPipeline.startRecognized]]).
  *
  * Identifier fields may be dotted paths (`context.traits`), read AND
  * write side, matching the reference's `set(res, path, f)` (:66): the
  * write-back rebuilds the nested struct with `Column.withField` (a
  * null top-level struct is materialized as an all-null struct first,
  * the way lodash `set` creates intermediate objects — one level deep;
  * a null struct nested BELOW the top level stays a no-op, stated
  * limitation). The streaming twin walks/creates JSON object paths.
  */
object UserRecognition {

  /** ref `UserRecognitionConfig` zod schema :8-19. `jsonObjectFields`:
    * identifier columns holding a JSON object string (deep-merged at key
    * level instead of overwritten).
    *
    * `maxBufferPerKey` (beyond-ref operational guard, 0 = unbounded =
    * reference parity): caps the anonymous buffer per key. The
    * reference's Mongo store is TTL-bounded only (`mongodb.ts:40-84`),
    * so one bot anonymous_id emitting millions of events inside the
    * lookback grows an unbounded buffer — and at an eventual identify,
    * an unbounded eviction. With a cap, events past it still EMIT
    * unchanged (delivery is never affected) but are not buffered, so
    * they can never be back-filled with an identity — drop-NEWEST,
    * chosen because capped keys are overwhelmingly never-identified bot
    * traffic, and it keeps a key's earliest history mergeable. */
  case class URConfig(
      anonymousIdFields: Seq[String] = Seq("anonymous_id"),
      identifierFields: Seq[String] = Seq("user_id"),
      lookbackDays: Int = 30,
      jsonObjectFields: Set[String] = Set("traits"),
      maxBufferPerKey: Int = 0)

  private def fieldAlias(path: String) = path.replace('.', '_')

  private def nonEmpty(c: Column, isJsonObject: Boolean): Column =
    if (isJsonObject) c.isNotNull && c =!= "{}" else c.isNotNull

  /** The (timestamp + identifier fields) struct describing the merge
    * source event — shared by the window and bucketed batch paths. */
  private def identStruct(config: URConfig): Column = struct(
    (col("timestamp").as("_ts") +:
      config.identifierFields.map(f => col(f).as(fieldAlias(f)))): _*)

  /** `field` resolves a config path to its column (`col` on a parsed
    * frame, `e.<path>` on a [[tagRawLines]] narrow parse). */
  private def isIdentCol(config: URConfig,
                         field: String => Column = col(_)): Column =
    config.identifierFields
      .map(f => nonEmpty(field(f), config.jsonObjectFields(f))).reduce(_ || _)

  /** Batch resolution under a config. One window pass: the first
    * identified event's (timestamp + identifier fields) struct is
    * computed per row over the forward frame; each identifier field is
    * then merged in when that event falls inside the lookback window. */
  def resolveConfigured(events: DataFrame, config: URConfig): DataFrame = {
    val anonKey = coalesce(config.anonymousIdFields.map(col): _*)
    val isIdent = isIdentCol(config)
    val w = Window.partitionBy(anonKey)
      .orderBy(col("timestamp"), col("message_id"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val identEvent = first(
      when(isIdent, identStruct(config)), ignoreNulls = true).over(w)
    val withIdent = events
      .withColumn("_is_ident", isIdent)
      .withColumn("_ident", identEvent)
    mergeIdent(withIdent, config)
  }

  /** Merge phase shared by [[resolveConfigured]] and
    * [[resolveBucketed]]: `withIdent` carries `_is_ident` plus the
    * candidate merge-source struct in `_ident`; each identifier field
    * merges in when that candidate falls inside the lookback window. */
  private def mergeIdent(withIdent: DataFrame, config: URConfig): DataFrame = {
    val anonKey = coalesce(config.anonymousIdFields.map(col): _*)
    // no anonymous key -> recognition skipped entirely (ref getAnonId
    // :87-95 returns the event untouched); without this guard every
    // null-key event lands in one window partition and an identified
    // null-key event would stamp its identity across unrelated users
    val inWindow = anonKey.isNotNull && col("_ident").isNotNull &&
      col("_ident._ts") <= col("timestamp") +
        expr(s"INTERVAL ${config.lookbackDays} DAYS")
    val merged = config.identifierFields.foldLeft(withIdent) { (df, f) =>
      val rec = when(inWindow, col(s"_ident.${fieldAlias(f)}"))
      val out =
        if (config.jsonObjectFields(f)) {
          // key-level JSON object merge, identified keys win (LAST_WIN
          // dedup policy set by GraftSession). The rec === own case (an
          // identified event merging with itself — the common path) is
          // returned verbatim; only a genuine two-object merge pays the
          // map round-trip, whose string value type stringifies non-string
          // JSON values — a stated divergence from the streaming twin's
          // node-level merge, acceptable because buffered anonymous
          // events rarely carry their own traits object (carrying one
          // makes the event identified).
          val mapT = org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.StringType)
          val ownMap = from_json(col(f), mapT)
          val recMap = from_json(rec, mapT)
          when(rec.isNull, col(f))
            .when(col(f).isNull || col(f) === rec, rec)
            .otherwise(to_json(map_concat(ownMap, recMap)))
        } else when(rec.isNotNull, rec).otherwise(col(f))
      if (!f.contains('.')) df.withColumn(f, out)
      else {
        // dotted write-back: rebuild the top-level struct around the
        // merged leaf. A null struct would make withField a no-op, so a
        // recognized value materializes an all-null struct first (lodash
        // set creating the intermediate object).
        val top = f.substring(0, f.indexOf('.'))
        val rest = f.substring(f.indexOf('.') + 1)
        val st = df.schema(top).dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
        val emptyStruct = struct(st.fields.toSeq.map(sf =>
          lit(null).cast(sf.dataType).as(sf.name)): _*)
        df.withColumn(top,
          when(col(top).isNull && out.isNull, col(top))
            .otherwise(coalesce(col(top), emptyStruct).withField(rest, out)))
      }
    }
    merged
      .withColumn("recognized", !col("_is_ident") && inWindow)
      .drop("_is_ident", "_ident")
  }

  /** Backwards-compatible form: hardcoded anonymous_id -> user_id. */
  def resolveBatch(events: DataFrame, lookbackDays: Int = 30): DataFrame =
    resolveConfigured(events, URConfig(lookbackDays = lookbackDays))

  /** Bucketed batch resolution — the bounded-state shape of
    * [[resolveConfigured]] for the 100× case: the single-window form
    * sorts EVERY event of an anonymous key in one window partition, so
    * one bot key with years of history becomes one giant task. Here
    * events land in `bucketDays`-wide day buckets and per-task state is
    * bounded by (key, bucket), not by a key's full history:
    *
    *   1. same-bucket pass — the forward window of [[resolveConfigured]]
    *      partitioned by (key, bucket): finds the first identified
    *      event at-or-after each row WITHIN its bucket;
    *   2. cross-bucket pass — every keyed event joins against the
    *      per-(key, bucket) FIRST-identified-event table (a
    *      bucket-count-bounded aggregate) over the next
    *      ceil(lookback/bucketDays) buckets; the earliest non-empty
    *      bucket's first is the global first, because bucket order is
    *      time order. Derived from the RAW events, not the window
    *      output, so the window pass stays single-consumer (no
    *      double-compute, nothing to persist).
    *
    * A same-bucket hit is always at-or-before anything in a later
    * bucket, so candidate choice is EXACT and the result is row-for-row
    * identical to [[resolveConfigured]] (the shared [[mergeIdent]]
    * re-checks the lookback horizon either way — a cross-bucket
    * candidate beyond it is rejected there). Price: two extra shuffles
    * (the candidate join back on message_id) — the trade a 100 TB
    * backfill wants, since it buys away the unbounded-key task. */
  def resolveBucketed(events: DataFrame, config: URConfig = URConfig(),
                      bucketDays: Int = 0): DataFrame = {
    val bd = if (bucketDays <= 0) config.lookbackDays else bucketDays
    require(bd >= 1, "bucketDays must be >= 1")
    val nBuckets = (config.lookbackDays + bd - 1) / bd
    val anonKey = coalesce(config.anonymousIdFields.map(col): _*)
    val isIdent = isIdentCol(config)
    val ev = events
      .withColumn("_urk", anonKey)
      .withColumn("_urb",
        floor(datediff(col("timestamp"), to_date(lit("1970-01-01"))) / bd)
          .cast("long"))
    val wb = Window.partitionBy(col("_urk"), col("_urb"))
      .orderBy(col("timestamp"), col("message_id"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val withSame = ev.withColumn("_same",
      first(when(isIdent, identStruct(config)), ignoreNulls = true).over(wb))
    val firsts = ev.filter(isIdent && col("_urk").isNotNull)
      .groupBy(col("_urk"), col("_urb"))
      .agg(min_by(identStruct(config),
        struct(col("timestamp"), col("message_id"))).as("_bf"))
    val later = ev
      .filter(col("_urk").isNotNull)
      .select(col("message_id").as("_emid"), col("_urk"),
        explode(sequence(col("_urb") + 1, col("_urb") + nBuckets))
          .as("_urb"))
      .join(firsts, Seq("_urk", "_urb"))
      .groupBy(col("_emid"))
      .agg(min_by(col("_bf"), col("_urb")).as("_lf"))
    mergeIdent(
      withSame
        .join(later, withSame("message_id") === later("_emid"), "left")
        .withColumn("_ident", coalesce(col("_same"), col("_lf")))
        .withColumn("_is_ident", isIdent)
        .drop("_same", "_lf", "_emid", "_urk", "_urb"),
      config)
  }

  // ---- streaming form (full-event payloads) ---------------------------

  /** Streaming event: anonymous key + identified flag pre-computed as
    * columns, `mid` = the event's message_id (deterministically defaulted
    * upstream when absent — the same id the payload itself carries),
    * payload = the full event as JSON (the Mongo collection in the
    * reference stores whole events the same way). */
  case class URGenEvent(key: String, ident: Boolean, ts: Timestamp,
                        mid: String, payload: String)
  /** One buffered anonymous event: its id (the same-batch replacement
    * key — a redelivery may differ in bytes but never in id) + payload. */
  case class URBufEntry(mid: String, payload: String)
  case class URGenState(buffered: List[URBufEntry])

  /** A JSON-object value, whether it arrives as a real object node or as
    * a string column holding serialized JSON (the envelope keeps open
    * maps as strings). */
  private def asObjectNode(mapper: ObjectMapper,
                           n: com.fasterxml.jackson.databind.JsonNode): Option[ObjectNode] =
    n match {
      case o: ObjectNode => Some(o)
      case t if t.isTextual =>
        try mapper.readTree(t.asText()) match {
          case o: ObjectNode => Some(o)
          case _ => None
        } catch { case _: Exception => None }
      case _ => None
    }

  /** Dotted-path read on a JSON tree: null at any missing/non-object hop. */
  private def getPath(n: com.fasterxml.jackson.databind.JsonNode,
                      path: String): com.fasterxml.jackson.databind.JsonNode =
    path.split('.').foldLeft(n: com.fasterxml.jackson.databind.JsonNode) {
      (cur, p) => if (cur == null || cur.isNull) null else cur.get(p)
    }

  /** Dotted-path write: intermediate objects are created when missing or
    * non-object (lodash `set`). */
  private def setPath(mapper: ObjectMapper, t: ObjectNode, path: String,
                      v: com.fasterxml.jackson.databind.JsonNode): Unit = {
    val parts = path.split('.')
    var cur = t
    parts.dropRight(1).foreach { p =>
      cur.get(p) match {
        case o: ObjectNode => cur = o
        case _ =>
          val o = mapper.createObjectNode()
          cur.set[ObjectNode](p, o)
          cur = o
      }
    }
    val _ = cur.set[ObjectNode](parts.last, v)
  }

  private[graft] def mergeIdentifiers(
      mapper: ObjectMapper, identifierFields: Seq[String])(
      target: String, identSource: String): String = {
    val t = mapper.readTree(target).asInstanceOf[ObjectNode]
    val s = mapper.readTree(identSource)
    identifierFields.foreach { f =>
      val v = getPath(s, f)
      if (v != null && !v.isNull && !(v.isObject && v.isEmpty)) {
        val merged = (asObjectNode(mapper, v),
            Option(getPath(t, f)).filterNot(_.isNull).flatMap(asObjectNode(mapper, _))) match {
          case (Some(identObj), Some(ownObj)) =>
            // lodash-merge semantics at key level: identified keys win
            val m = ownObj.deepCopy[ObjectNode]()
            val _ = m.setAll[ObjectNode](identObj)
            if (v.isTextual) mapper.getNodeFactory.textNode(mapper.writeValueAsString(m))
            else m
          case _ => v.deepCopy[com.fasterxml.jackson.databind.JsonNode]()
        }
        setPath(mapper, t, f, merged)
      }
    }
    mapper.writeValueAsString(t)
  }

  /** The user-recognition state machine, run by `flatMapGroupsWithState`
    * — the reference's exact contract (user-recognition.ts:48-84, pinned
    * by its own test's expected sets, gated by `j1d_ur_golden`): an
    * anonymous event is EMITTED UNCHANGED immediately AND buffered
    * (`return event` after addEvent); an identified event evicts the
    * buffer and re-emits every buffered event with the identity merged
    * (the sink's keyed MERGE then overwrites the originals); TTL expiry
    * just drops state — nothing to flush, the events already flowed.
    * Keyless events arrive under a per-event synthetic key marked
    * `ident`, so they emit themselves and never create state. */
  def urGenTransition(lookbackMs: Long, identifierFields: Seq[String],
      maxBufferPerKey: Int = 0)(
      key: String, rows: Iterator[URGenEvent],
      state: GroupState[URGenState]): Iterator[String] = {
    val mapper = new ObjectMapper()
    val merge = mergeIdentifiers(mapper, identifierFields) _
    if (state.hasTimedOut) {
      state.remove()
      return Iterator.empty // originals were emitted on arrival
    }
    // (ts, mid): [[resolveConfigured]]'s window order; a timestamp-only
    // sort would leave tied events in partition order and make the
    // identify-vs-anonymous interleave nondeterministic
    val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.mid))
    // a builder, not the stored List: appending to a List copies it, so
    // a deep anonymous key would cost O(n^2) per invocation; one List is
    // stored at state.update
    val buffered = scala.collection.mutable.ListBuffer
      .from(state.getOption.map(_.buffered).getOrElse(Nil))
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var lastTs = 0L
    // emissions of THIS WHOLE invocation, by slot: a same-batch identify
    // REPLACES this batch's just-emitted originals in place instead of
    // adding a second row — one micro-batch must never hand the sink
    // both the original and the merged version of a message (the MERGE
    // tie-break on equal (timestamp, batch) would pick arbitrarily);
    // across batches the original landed earlier and the merged
    // re-emission overwrites it. Slots are keyed by MESSAGE ID (a
    // redelivered original may differ in bytes — a mutated field, a
    // re-serialization — but never in id, and the sink's MERGE key is
    // the id). `upgraded` marks slots holding a merged version, which a
    // redelivered original arriving after the identify must not
    // downgrade or duplicate.
    val slotOf = scala.collection.mutable.Map.empty[String, Int]
    val upgraded = scala.collection.mutable.Set.empty[Int]
    def emit(mid: String, value: String, isMerged: Boolean): Unit =
      slotOf.get(mid) match {
        case Some(i) =>
          if (isMerged || !upgraded(i)) {
            out(i) = value
            if (isMerged) { upgraded += i; () }
          }
        case None =>
          slotOf(mid) = out.length
          if (isMerged) { upgraded += out.length; () }
          out += value
      }
    sorted.foreach { e =>
      if (e.ident) {
        buffered.foreach(b =>
          emit(b.mid, merge(b.payload, e.payload), isMerged = true))
        buffered.clear()
        emit(e.mid, e.payload, isMerged = false)
      } else {
        // pass through unchanged (ref: return event)
        emit(e.mid, e.payload, isMerged = false)
        // cap guard (see URConfig.maxBufferPerKey): past the cap the
        // event still emitted above but is not buffered (drop-newest)
        if (maxBufferPerKey <= 0 || buffered.length < maxBufferPerKey)
          buffered += URBufEntry(e.mid, e.payload)
      }
      lastTs = e.ts.getTime
    }
    if (buffered.nonEmpty) {
      state.update(URGenState(buffered.toList))
      if (state.getCurrentWatermarkMs() < lastTs + lookbackMs)
        state.setTimeoutTimestamp(lastTs + lookbackMs)
    } else state.remove()
    out.iterator
  }

  /** Grouping-key prefix for events WITHOUT an anonymous id: NUL, so no
    * real anonymous id can collide (see [[tagRawLines]]). */
  private val NoKeyPrefix = "\u0000nokey:"

  /** Streaming user recognition over a parsed stream: buffers whole
    * events (as JSON payloads) per anonymous key and deep-merges the
    * identifying event's `identifierFields` into evicted events — the
    * streaming twin of [[resolveConfigured]]. Returns merged event JSON
    * strings. The default `URConfig()` is the envelope contract
    * (anonymous_id -> user_id). */
  def streamingResolveConfigured(events: DataFrame, config: URConfig = URConfig(),
                                 watermark: String = "1 hour"): Dataset[String] = {
    val anonKey = coalesce(config.anonymousIdFields.map(col): _*)
    val isIdent = isIdentCol(config)
    // No anonymous key -> the event bypasses recognition with its
    // CONTENT untouched (ref getAnonId :87-95; a shared null key would
    // cross-contaminate), riding through the stateful operator under a
    // synthetic key — the keyless bypass and its late-row deviation are
    // described at [[tagRawLines]].
    val payload = to_json(struct(events.columns.map(col): _*))
    // deterministic id default (md5 of the serialized event) so a
    // redelivery of an id-less event lands in the same slot/MERGE key
    val mid = coalesce(col("message_id"), md5(payload))
    val syntheticKey = concat(lit(NoKeyPrefix), mid)
    val tagged = events
      .withWatermark("timestamp", watermark)
      .select(coalesce(anonKey, syntheticKey).as("key"),
        (isIdent || anonKey.isNull).as("ident"),
        col("timestamp").as("ts"),
        mid.as("mid"),
        payload.as("payload"))
    resolveTagged(tagged, config)
  }

  /** Tag a raw-line stream for [[resolveTagged]]: input columns
    * `payload` (the ORIGINAL JSON line) and `e` (a NARROW parse of it —
    * only the config's key/identifier fields plus
    * type/message_id/timestamp/received_at). The raw line rides through
    * recognition as the payload, so neither a full-envelope from_json
    * nor a to_json re-serialization is paid in-stream; the one full
    * parse happens downstream, after recognition.
    *
    * Events WITHOUT an anonymous id are keyed `NoKeyPrefix` + their
    * message id and tagged `ident`: a second filter+union branch would
    * re-scan and re-parse the whole source every micro-batch, so keyless
    * events ride through the stateful operator instead and emit
    * themselves (no buffering, no state). Two keyless events share a key
    * only when they share a message id, which the sink's MERGE collapses
    * anyway.
    *
    * DOCUMENTED DEVIATION (late keyless rows): riding through the
    * stateful operator subjects keyless events to its late-row filter —
    * a keyless event older than the watermark is dropped, where the
    * reference's `return event` for no-anon-id events
    * (user-recognition.ts:48) always delivers and the replaced
    * filter+union bypass did too. Accepted: one watermark now governs
    * EVERY row at the recognition boundary (keyed rows were already
    * subject to it), which is the uniform late-data contract the rest
    * of the pipeline assumes, and it buys back a full second source
    * scan + parse per micro-batch. Operators needing straggler-keyless
    * parity can widen the watermark — it bounds state for KEYED rows
    * only, keyless rows create none. */
  def tagRawLines(df: DataFrame, config: URConfig = URConfig(),
                  watermark: String = "1 hour"): DataFrame = {
    val anonKey = coalesce(config.anonymousIdFields.map(f => col(s"e.$f")): _*)
    val isIdent = isIdentCol(config, f => col(s"e.$f"))
    // A line lacking message_id gets one defaulted DETERMINISTICALLY --
    // a hash of the raw bytes -- and injected INTO THE PAYLOAD ITSELF
    // here in the tag stage, so every later parse of this event (its
    // immediate emission, the UR merged re-emission after an identify,
    // a foreachBatch replay after a crash between the sink write and
    // the runOnce marker) lands under the SAME id and the sink's keyed
    // MERGE collapses them. A per-parse uuid() default downstream would
    // mint a fresh identity each time and the duplicates would persist.
    // DOCUMENTED DEVIATION (id-less duplicates): byte-identical id-less
    // lines hash alike and collapse to one row where the reference
    // mints a fresh uuid per event (analytics-plugin.ts:464) and keeps
    // both. Deliberate trade: with no id and identical bytes they are
    // indistinguishable duplicates, and determinism across re-parses is
    // what makes crash replays exactly-once. A deployment that must
    // keep them distinct can mix a source offset into the hash.
    val defaultMid = md5(col("payload"))
    // An EXPLICIT "message_id": null in the payload is STRIPPED before
    // the id is prepended — JSON parsers keep the LAST duplicate key,
    // so a surviving explicit null would override the injected id and
    // resurrect the per-parse-fallback duplicate-rows bug. The
    // alternation consumes a leading comma when one exists, else a
    // trailing one, so the field drops cleanly from any position. (The
    // envelope keys ids at the top level only; a byte-identical
    // "message_id":null inside a nested object of an id-less event
    // would also be stripped — stated trade of staying regex-cheap.)
    val stripNullMid =
      ",\\s*\"message_id\"\\s*:\\s*null|\"message_id\"\\s*:\\s*null\\s*,?"
    val afterBrace = expr("substring(_stripped, instr(_stripped, '{') + 1)")
    val injected = concat(lit("{\"message_id\":\""), defaultMid, lit("\""),
      when(afterBrace.rlike("^\\s*\\}"), lit("")).otherwise(lit(",")),
      afterBrace)
    // brace guard: tagRawLines is public API — on a line with no '{'
    // the injection would produce a malformed hybrid, so such lines
    // pass through unchanged ([[graft.streaming.EventPipeline
    // .startRecognized]]'s corrupt probe routes them to quarantine
    // before this stage; other callers get their payload back intact)
    val payload = when(col("e.message_id").isNull &&
        instr(col("payload"), "{") > 0, injected)
      .otherwise(col("payload"))
    val syntheticKey = concat(lit(NoKeyPrefix),
      coalesce(col("e.message_id"), defaultMid))
    df.withColumn("ts", coalesce(col("e.timestamp"),
        col("e.received_at"), current_timestamp()))
      .withWatermark("ts", watermark)
      // evaluated ONLY for id-less rows (the sole consumers — `injected`
      // sits under the same guard): an unconditional withColumn would
      // charge every event a full-line regex scan it never reads
      .withColumn("_stripped",
        when(col("e.message_id").isNull,
          regexp_replace(col("payload"), stripNullMid, "")))
      .select(coalesce(anonKey, syntheticKey).as("key"),
        (isIdent || anonKey.isNull).as("ident"),
        col("ts"),
        coalesce(col("e.message_id"), defaultMid).as("mid"),
        payload.as("payload"))
  }

  /** The top-level envelope fields a [[tagRawLines]] narrow parse needs
    * under `config` (the corrupt probe's `type` included). */
  def tagFields(config: URConfig): Seq[String] =
    (Seq("type", "message_id", "timestamp", "received_at") ++
      config.anonymousIdFields.map(_.takeWhile(_ != '.')) ++
      config.identifierFields.map(_.takeWhile(_ != '.'))).distinct

  /** The stateful half of [[streamingResolveConfigured]], on an already
    * (key, ident, ts, payload)-tagged stream ([[tagRawLines]] builds
    * one from raw lines;
    * [[graft.streaming.EventPipeline.startRecognized]] wires both). */
  def resolveTagged(tagged: DataFrame,
                    config: URConfig = URConfig()): Dataset[String] = {
    val spark = tagged.sparkSession
    import spark.implicits._
    tagged
      .as[URGenEvent]
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        urGenTransition(config.lookbackDays * 86400000L,
          config.identifierFields, config.maxBufferPerKey))
  }

  /** Identity-graph stitching — the GRAPH-scale generalization of the
    * pairwise anonymous→identified join above (ref
    * `user-recognition.ts` merges ONE anonymous id into one identity;
    * real CDP identity resolution must stitch chains: anon A shares a
    * device with anon B, B shares an email with identified C ⇒ all
    * three are one person). `edges`: (id_a, id_b) co-occurring
    * identifier tokens (namespace-prefix them — 'a:'/'e:'/'d:' — so
    * value spaces can't collide). Every identifier in a connected
    * component maps to the component's canonical id (its minimum
    * member, deterministic), with the component size alongside —
    * the re-key table a warehouse joins to unify event history.
    *
    * Componentization is [[Dedup.connectedComponents]]: driver
    * union-find under the pair cutover, O(diameter)-round min-label
    * propagation above it — the 100 TB shape, since identifier graphs
    * are billions of short chains, not one giant component (and a
    * too-large component is itself a data-quality signal: a shared
    * device id gluing unrelated users). */
  def identityGraph(edges: DataFrame): DataFrame = {
    val labels = Dedup.connectedComponents(edges)
      .select(col("id"), col("component").as("canonical_id"))
    val sizes = labels.groupBy(col("canonical_id"))
      .agg(count(lit(1)).as("n_identifiers"))
    labels.join(sizes, Seq("canonical_id"))
      .select(col("id"), col("canonical_id"), col("n_identifiers"))
  }
}
