package graft.chain

import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

/** The function-chain runtime — SURVEY §2.9 surface + §2.8 semantics.
  *
  * The reference (rotor) runs per-connection chains of event functions:
  * builtin transformations, then user functions, then a destination
  * function (`services/rotor/src/lib/functions-chain.ts:278-374`). Result
  * semantics (R5): array -> replaces the event (fan-out), null/"drop" ->
  * drop, undefined/same -> pass through; errors (R1/R3): a `RetryError`
  * marks the event retryable at the failed stage, a drop-error drops it,
  * other errors pass the last-good event through to the destination.
  *
  * Spark shape: a chain compiles to ONE `mapPartitions` over JSON-encoded
  * events (the reference's IR is the JSON object; jackson here), emitting
  * (event, status, failedStage) rows. Dataflow-visible operators (filters,
  * projections) should be expressed as DataFrame ops instead — this
  * runtime exists for the opaque user-function surface, and keeps the
  * whole chain in a single narrow stage (no shuffle, no driver loop).
  */
object FunctionChain {

  /** What a function returns (R5). */
  sealed trait Result
  case object Same extends Result
  case class Replace(events: Seq[ObjectNode]) extends Result
  case object Drop extends Result
  /** Retryable failure (ref RetryError). */
  case class Retry(reason: String) extends Result
  /** Drop + record (ref RetryError{drop:true}). */
  case class DropRetry(reason: String) extends Result

  /** An event function: name + body. `builtin` controls the metrics status
    * prefix (ref metrics.ts:156-175) and exempts the function from the
    * UDF timeout (only user code runs in rotor's isolate). The body
    * receives the event and the [[ChainContext]] (`store`/`props`/`geo`/
    * `ua`/`retries` — ref functions.d.ts:68-73,140-176). */
  case class EventFunction(id: String, builtin: Boolean,
                           fn: (ObjectNode, ChainContext) => Result,
                           step: String = "")
  object EventFunction {
    /** Context-free form, for functions that only look at the event. */
    def apply(id: String, builtin: Boolean,
              fn: ObjectNode => Result): EventFunction =
      EventFunction(id, builtin, (e: ObjectNode, _: ChainContext) => fn(e))
  }
  /** A function's retry-granularity group: its `step` if set, else its
    * own id (per-function redrive, the pre-parity default). */
  private def stepOf(f: EventFunction): String =
    if (f.step.isEmpty) f.id else f.step

  /** Chain-level options: connection identity (store namespace + props,
    * ref FullContext.connection), retry attempt number surfaced as
    * ctx.retries, and the R9 task-level UDF timeout (ref
    * `udf_wrapper.ts:232-291`, UDF_TIMEOUT_MS default 5000). */
  /** `stepRetry = true` switches Retry/DropRetry to rotor's STEP
    * semantics (ref `functions-chain.test.ts` scenario matrix, verified
    * against `functions-chain-data.ts` expected sets):
    *  - a Retry from a non-final step behaves like a plain error for
    *    the CURRENT attempt (edits skipped, chain continues, the
    *    degraded event still delivers) AND additionally queues a retry
    *    row carrying the event as it entered the failed function's
    *    step;
    *  - a Retry from the FINAL step (the destination) delivers nothing
    *    and queues the step-entry event;
    *  - DropRetry delivers nothing for the current attempt and queues
    *    the step-entry event;
    *  - a mid-chain multiply is IGNORED (the un-multiplied event
    *    continues) instead of erroring;
    *  - [[redrive]] re-enters at the failed function's step START (the
    *    whole udf chain re-runs with ctx.retries bumped; a destination
    *    retry re-runs only the destination on the saved post-udf
    *    event).
    * Default false keeps the repo's per-function redrive. */
  case class ChainOptions(
      connectionId: String = "c0",
      props: Map[String, String] = Map.empty,
      retries: Int = 0,
      udfTimeoutMs: Long = 5000L,
      stepRetry: Boolean = false)

  case class ChainOutput(event: String, status: String, functionId: String,
                         error: String)

  private val mapperTl = new ThreadLocal[ObjectMapper] {
    override def initialValue(): ObjectMapper = new ObjectMapper()
  }

  /** Run a chain over JSON event strings.
    *
    * `fromStage`: index of the first function to run (R2 partial-chain
    * retry — a retried event re-enters at the failed stage, keeping
    * earlier results). Only the LAST function may multiply (R4).
    */
  def run(events: Dataset[String], chain: Seq[EventFunction],
          fromStage: Int = 0,
          options: ChainOptions = ChainOptions()): Dataset[ChainOutput] = {
    val enc = Encoders.product[ChainOutput]
    events.mapPartitions { it =>
      val mapper = mapperTl.get()
      it.flatMap { raw =>
        runOne(mapper, raw, chain, fromStage, options)
      }
    }(enc)
  }

  // ---- ctx construction ----------------------------------------------

  /** Per-thread memo of parsed UA nodes: real traffic has modest UA
    * cardinality, so the keyword scan runs once per distinct string per
    * task thread (callers get a deepCopy — ctx.ua is handed to user
    * code). */
  private val uaCacheTl = new ThreadLocal[java.util.LinkedHashMap[String, ObjectNode]] {
    override def initialValue() =
      new java.util.LinkedHashMap[String, ObjectNode](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, ObjectNode]): Boolean = size() > 1024
      }
  }

  /** Scalars.parseUa's taxonomy in the chain: the SAME rule walks
    * ([[graft.functions.UaTaxonomy.parse]]) the native expression runs,
    * so the two cannot drift (ChainSpec still cross-checks them). Shape
    * is the reference's nested UserAgent protocol type
    * (`types/protocols/functions.d.ts:102-125`): browser{name, version,
    * major}, engine{name, version}, os{name, version}, device{model,
    * type, vendor}, cpu{architecture}, bot. */
  private[graft] def parseUaMemo(mapper: ObjectMapper, ua: String): ObjectNode = {
    val cache = uaCacheTl.get()
    val hit = cache.get(ua)
    val node = if (hit != null) hit else {
      val fresh = parseUaNode(mapper, ua)
      cache.put(ua, fresh)
      fresh
    }
    node.deepCopy[ObjectNode]()
  }

  private[graft] def parseUaNode(mapper: ObjectMapper, ua: String): ObjectNode = {
    val r = graft.functions.UaTaxonomy.parse(ua)
    val n = mapper.createObjectNode()
    val browser = n.putObject("browser")
    browser.put("name", r.name)
    browser.put("version", r.version)
    browser.put("major", r.major)
    val engine = n.putObject("engine")
    engine.put("name", r.engineName)
    engine.put("version", r.engineVersion)
    val os = n.putObject("os")
    os.put("name", r.osName)
    os.put("version", r.osVersion)
    val device = n.putObject("device")
    device.put("model", r.deviceModel)
    device.put("type", r.deviceType)
    device.put("vendor", r.deviceVendor)
    n.putObject("cpu").put("architecture", r.cpuArchitecture)
    n.put("bot", r.bot)
    n
  }

  /** Per-event ctx: store namespaced by connection, geo/ua pulled from
    * the event's own context (rotor builds FullContext the same way). */
  private def buildCtx(mapper: ObjectMapper, ev: ObjectNode,
                       options: ChainOptions): ChainContext = {
    val context = Option(ev.get("context")).filterNot(_.isNull)
    val geo = context.flatMap(c => Option(c.get("geo"))).filterNot(_.isNull)
    val ua = context.flatMap(c => Option(c.get("user_agent")))
      .filterNot(_.isNull).map(u => parseUaMemo(mapper, u.asText()))
    ChainContext(options.connectionId, options.props,
      new TTLStore(options.connectionId), geo, ua, options.retries)
  }

  // ---- R9 task-level UDF timeout -------------------------------------

  /** Deadlines of in-flight user-function calls, keyed by task thread;
    * one reaper thread scans and interrupts overdue calls. */
  private val activeCalls = new java.util.concurrent.ConcurrentHashMap[Thread, java.lang.Long]()
  private val ReaperTickMs = 50L
  private lazy val reaper: Thread = {
    val t = new Thread(() => {
      while (true) {
        try {
          Thread.sleep(ReaperTickMs)
          val now = System.currentTimeMillis()
          activeCalls.forEach { (thread, deadline) =>
            if (now > deadline)
              // interrupt INSIDE the map-bin computation: it serializes
              // against callBounded's finally-remove, so an interrupt can
              // never land after the call already finished and cleared
              // its flag (stale interrupts would poison the next call or
              // Spark IO on the task thread)
              activeCalls.computeIfPresent(thread, (th, dl) => {
                if (now > dl) { th.interrupt(); null } else dl
              }): Unit
          }
        } catch {
          case _: InterruptedException => // spurious; keep reaping
          case scala.util.control.NonFatal(_) => // never let the reaper die
        }
      }
    }, "graft-udf-reaper")
    t.setDaemon(true)
    t.start()
    t
  }

  /** Bound a user function call to `ms` (ref `udf_wrapper.ts:232-291`:
    * rotor kills the isolate after UDF_TIMEOUT_MS and surfaces a
    * RetryError). The function runs ON the calling task thread; its
    * deadline is registered in a shared map and a single reaper thread
    * interrupts overdue calls — per-call hot-path cost is two uncontended
    * map ops (~100 ns), vs a thread hand-off per event for a
    * submit/get pattern (which tripled the chain benchmark). Timeout
    * precision is the reaper tick (±50 ms), plenty for multi-second
    * budgets. Sleeping/IO-bound overruns die via the interrupt; a hard
    * CPU loop that never checks the interrupt flag stalls its task until
    * Spark's task reaper steps in (`spark.task.reaper.*` — the
    * cluster-grade twin of rotor disposing the whole isolate). The
    * overrun surfaces as a retryable failure at this stage. */
  private def callBounded(ms: Long)(body: => Result): Result =
    if (ms <= 0) body
    else {
      reaper // ensure started
      val self = Thread.currentThread()
      activeCalls.put(self, System.currentTimeMillis() + ms)
      var taskKilled = false
      try body
      catch {
        case e: InterruptedException =>
          // Only the reaper's deadline interrupt converts to Retry. An
          // interrupt from Spark killing/cancelling THIS TASK must
          // propagate, or the kill would be swallowed as a UDF-timeout
          // retry and the task would run on to the next row boundary.
          val tc = org.apache.spark.TaskContext.get()
          if (tc != null && tc.isInterrupted()) {
            taskKilled = true
            throw e
          }
          Retry(s"function execution took longer than ${ms}ms")
      } finally {
        activeCalls.remove(self)
        if (taskKilled) self.interrupt() // re-assert the kill signal
        else { Thread.interrupted(); () } // clear a late-fired reaper interrupt
      }
    }

  private[chain] def runOne(mapper: ObjectMapper, raw: String,
                            chain: Seq[EventFunction],
                            fromStage: Int,
                            options: ChainOptions = ChainOptions()): Seq[ChainOutput] = {
    var current: Seq[ObjectNode] =
      try Seq(mapper.readTree(raw).asInstanceOf[ObjectNode])
      catch { case NonFatal(e) =>
        return Seq(ChainOutput(raw, "error", "parse", e.toString))
      }
    var lastError: String = null
    var i = math.max(fromStage, 0)
    val finalStep = chain.lastOption.map(stepOf).getOrElse("")
    // step-entry snapshot for rotor-parity retries: the event set as it
    // entered the CURRENT step (single-event steps snapshot the event;
    // a post-multiply multi-event step falls back per-event)
    var stepEntry: String = if (i < chain.length) raw else raw
    var currentStep: String = chain.lift(i).map(stepOf).getOrElse("")
    // queued retry rows (stepRetry mode): emitted alongside delivery
    val queued = scala.collection.mutable.ArrayBuffer[ChainOutput]()
    while (i < chain.length) {
      val f = chain(i)
      if (options.stepRetry && stepOf(f) != currentStep) {
        currentStep = stepOf(f)
        stepEntry =
          if (current.length == 1) mapper.writeValueAsString(current.head)
          else null // multi-event step entry: snapshot per-event below
      }
      val isLast = i == chain.length - 1
      val next = scala.collection.mutable.ArrayBuffer[ObjectNode]()
      var aborted: Option[Seq[ChainOutput]] = None
      current.foreach { ev =>
        if (aborted.isEmpty) {
          // R3: a PLAIN exception skips this function's edits but the
          // event continues down the chain (ref functions-chain.ts:
          // 352-358, "error" scenario); only an explicit Retry/DropRetry
          // result interrupts (ref RetryError semantics).
          val result =
            try {
              val ctx = buildCtx(mapper, ev, options)
              val copy = ev.deepCopy[ObjectNode]() // functions get a deep copy (R5)
              if (f.builtin) f.fn(copy, ctx) // builtins run unbounded, as in rotor
              else callBounded(options.udfTimeoutMs)(f.fn(copy, ctx))
            } catch { case NonFatal(e) =>
              lastError = s"${f.id}: ${e.toString}"
              Same
            }
          def entrySnapshot: String =
            if (options.stepRetry && stepEntry != null) stepEntry
            else mapper.writeValueAsString(ev)
          result match {
            case Same => next += ev
            case Replace(evs) =>
              // R4: only the final function may return multiple events.
              // Rotor-parity: multiply is legal at the END OF ITS STEP
              // (the udf chain's last function fans out through the
              // destination, ref "multi" scenario) and a mid-step
              // multiply is IGNORED with the un-multiplied event
              // continuing (ref multi_middle); default keeps the error.
              val lastOfStep = isLast ||
                stepOf(chain(i + 1)) != stepOf(f)
              val allowed = if (options.stepRetry) lastOfStep else isLast
              if (evs.length > 1 && !allowed) {
                if (options.stepRetry) {
                  lastError = s"${f.id}: mid-chain multiply ignored"
                  next += ev
                } else
                  aborted = Some(Seq(ChainOutput(mapper.writeValueAsString(ev),
                    "error", f.id,
                    "only the last function in a chain can multiply events")))
              } else next ++= evs
            case Drop => // dropped silently (P10)
            case DropRetry(reason) =>
              // deliver nothing this attempt; queue the step-entry
              // event (rotor drop:true) / the pre-function event
              aborted = Some(Seq(ChainOutput(entrySnapshot,
                if (options.stepRetry) "retry" else "dropped", f.id, reason)))
            case Retry(reason) =>
              if (options.stepRetry && stepOf(f) != finalStep) {
                // rotor: RetryError in a non-final (udf) step — current
                // attempt continues degraded, retry queued at step entry
                queued += ChainOutput(entrySnapshot, "retry", f.id, reason)
                lastError = s"${f.id}: $reason"
                next += ev
              } else {
                // final-step (destination) retry or default mode:
                // nothing delivers; emit with failed stage for re-drive
                aborted = Some(Seq(ChainOutput(entrySnapshot,
                  "retry", f.id, reason)))
              }
          }
        }
      }
      aborted match {
        case Some(out) => return queued.toSeq ++ out
        case None =>
          if (next.isEmpty) return queued.toSeq
          current = next.toSeq
          i += 1
      }
    }
    queued.toSeq ++ current.map(ev => ChainOutput(mapper.writeValueAsString(ev),
      "success", chain.lastOption.map(_.id).getOrElse(""), lastError))
  }

  /** Result of a single-function console test run (ref `UDFTestRun`,
    * `udf_wrapper.ts:346-498`, and the console endpoint
    * `pages/api/[workspaceId]/function/run.ts:31-70`): the output
    * events, the captured function log, the error/reason string, and
    * the store's final state — everything the "test function" button
    * shows. */
  case class TestRunResult(status: String, events: Seq[String],
                           logs: Seq[(String, String)], error: String,
                           store: Map[String, String])

  /** Driver-side single-event test harness: run ONE function (or a
    * short chain) against one event JSON with a synthetic context —
    * seeded store namespace, captured logs, default connection props —
    * without touching Spark. Mirrors the reference's UDFTestRun
    * defaults: a fresh store namespace per invocation unless the caller
    * pins `options.connectionId`. */
  def testRun(chain: Seq[EventFunction], eventJson: String,
              options: ChainOptions = ChainOptions(connectionId = "test-run"),
              storeSeed: Map[String, String] = Map.empty): TestRunResult = {
    val mapper = mapperTl.get()
    val store = new TTLStore(options.connectionId)
    store.clear() // fresh-store semantics per invocation, like UDFTestRun
    storeSeed.foreach { case (key, json) =>
      store.set(key, mapper.readTree(json))
    }
    val logs = scala.collection.mutable.ArrayBuffer[(String, String)]()
    val wrapped = chain.map(f => f.copy(fn =
      (e: ObjectNode, ctx: ChainContext) =>
        f.fn(e, ctx.copy(logSink = Some(logs)))))
    val out = runOne(mapper, eventJson, wrapped, fromStage = 0, options)
    val status =
      if (out.isEmpty) "drop"
      else if (out.exists(_.status != "success")) out.head.status
      else "success"
    TestRunResult(
      status = status,
      events = out.filter(_.status == "success").map(_.event),
      logs = logs.toSeq,
      error = out.map(_.error).find(e => e != null && e.nonEmpty).orNull,
      store = store.dump().map { case (key, v) =>
        key -> mapper.writeValueAsString(v) })
  }

  /** R2: re-drive retry rows from their failed stage. `retries` is the
    * output of a previous run filtered to status == "retry"; returns the
    * chain output of the re-run (stage index looked up by function id). */
  def redrive(retries: Dataset[ChainOutput],
              chain: Seq[EventFunction],
              options: ChainOptions = ChainOptions()): Dataset[ChainOutput] = {
    // default: re-enter at the failed function; stepRetry: re-enter at
    // the failed function's STEP start (rotor re-runs the whole udf
    // chain; a destination retry re-runs only the destination)
    val stageById =
      if (!options.stepRetry) chain.map(_.id).zipWithIndex.toMap
      else chain.map(f =>
        f.id -> chain.indexWhere(g => stepOf(g) == stepOf(f))).toMap
    val enc = Encoders.product[ChainOutput]
    // a re-driven event sees ctx.retries bumped (ref function2retry
    // scenario: success only when retries >= 1)
    val attempt = options.copy(retries = options.retries + 1)
    retries.mapPartitions { it =>
      val mapper = mapperTl.get()
      it.flatMap { r =>
        runOne(mapper, r.event, chain, stageById.getOrElse(r.functionId, 0), attempt)
      }
    }(enc)
  }

  /** §3.2 synchronous (edge) invocation — the reference's
    * `FunctionsHandlerMulti` (`services/rotor/src/http/functions.ts:
    * 40-83`): ONE event stream processed through SEVERAL connections'
    * chains in the same call, retries DISABLED (the synchronous caller
    * gets the failure instead of a queue entry — a Retry surfaces as an
    * error result), results labeled per connection. Spark shape: a
    * union of per-connection chain runs — each run carries its own
    * `connectionId` (so ctx.store/props namespace correctly), and the
    * whole thing is one lazy plan (persist the input upstream to scan
    * it once across the N connection branches). */
  def runMulti(events: Dataset[String],
               chains: Map[String, Seq[EventFunction]],
               options: ChainOptions = ChainOptions()): DataFrame = {
    require(chains.nonEmpty, "need at least one connection chain")
    chains.toSeq.sortBy(_._1).map { case (cid, chain) =>
      run(events, chain, options = options.copy(connectionId = cid))
        .toDF()
        .withColumn("connection_id", lit(cid))
        // sync path: no retry queue exists — a retryable failure IS the
        // response (ref rotorMessageHandler invoked with retries
        // disabled from the sync endpoint)
        .withColumn("status",
          when(col("status") === "retry", "error")
            .otherwise(col("status")))
    }.reduce(_ unionByName _)
  }

  /** P12 diff-minimized response — the sync endpoint returns each
    * connection's result as a MERGE PATCH against the incoming event
    * (RFC 7386 semantics, the reference's diff-minimized results):
    * unchanged fields are omitted, added/changed fields carry the new
    * value, removed fields appear as explicit nulls, nested objects
    * recurse (an empty nested diff is omitted). Applying the patch to
    * the original reconstructs the result exactly — ChainSpec proves
    * the round-trip. */
  private[graft] def diffEvent(mapper: ObjectMapper, before: ObjectNode,
                               after: ObjectNode): ObjectNode = {
    val patch = mapper.createObjectNode()
    val it = after.fieldNames()
    while (it.hasNext) {
      val k = it.next()
      val av = after.get(k)
      val bv = before.get(k)
      // NB: ObjectNode.set's generic return must be pinned — an
      // inferred-from-Unit type parameter compiles to a BoxedUnit cast
      // that throws at runtime
      if (bv == null)
        patch.set[com.fasterxml.jackson.databind.JsonNode](
          k, av.deepCopy[com.fasterxml.jackson.databind.JsonNode]())
      else if (bv.isObject && av.isObject) {
        val sub = diffEvent(mapper, bv.asInstanceOf[ObjectNode],
          av.asInstanceOf[ObjectNode])
        if (sub.size() > 0)
          patch.set[com.fasterxml.jackson.databind.JsonNode](k, sub)
      } else if (bv != av)
        patch.set[com.fasterxml.jackson.databind.JsonNode](
          k, av.deepCopy[com.fasterxml.jackson.databind.JsonNode]())
    }
    val bit = before.fieldNames()
    while (bit.hasNext) {
      val k = bit.next()
      if (!after.has(k)) { patch.putNull(k); () }
    }
    patch
  }

  /** [[runMulti]] with P12 diff-minimized results: success rows carry
    * the merge patch of (incoming event → connection result) instead of
    * the full result event; error/dropped rows carry no patch (the
    * error string is the response). */
  def runMultiDiff(events: Dataset[String],
                   chains: Map[String, Seq[EventFunction]],
                   options: ChainOptions = ChainOptions()): DataFrame = {
    require(chains.nonEmpty, "need at least one connection chain")
    val ordered = chains.toSeq.sortBy(_._1)
    val enc = Encoders.product[(String, String, String, String, String)]
    events.mapPartitions { it =>
      val mapper = mapperTl.get()
      it.flatMap { raw =>
        val orig = scala.util.Try(
          mapper.readTree(raw).asInstanceOf[ObjectNode]).toOption
        ordered.flatMap { case (cid, chain) =>
          runOne(mapper, raw, chain, 0,
            options.copy(connectionId = cid)).map { o =>
            val status = if (o.status == "retry") "error" else o.status
            val patch = (status, orig) match {
              case ("success", Some(b)) =>
                mapper.writeValueAsString(diffEvent(mapper, b,
                  mapper.readTree(o.event).asInstanceOf[ObjectNode]))
              case _ => null
            }
            (cid, status, o.functionId, o.error, patch)
          }
        }
      }
    }(enc).toDF("connection_id", "status", "function_id", "error", "patch")
  }

  /** A4 metrics status derivation for chain outputs. */
  def withMetricsStatus(out: DataFrame, chain: Seq[EventFunction]): DataFrame = {
    val builtinIds = chain.filter(_.builtin).map(_.id)
    out.withColumn("metric_status",
      when(col("status") === "success", "success")
        .when(col("status") === "dropped", "dropped")
        .when(col("functionId").isin(builtinIds: _*), "builtin_function_error")
        .otherwise("function_error"))
  }
}
