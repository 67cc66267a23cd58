package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** In-memory spans: run -> workload -> batch | request | gate -> public
  * call -> Spark job. Spans are written out once, when the run ends.
  *
  * A `call` span names the Spark job group after its own id, so the jobs
  * the call starts can be linked back to it ([[Probe.onJobStart]]).
  * Times are epoch milliseconds with sub-millisecond digits, the clock
  * Spark's listener events and progress records also use. */
final class Tracer(spark: SparkSession) {
  final case class Span(id: String, parent: String, name: String,
                        layer: String, startMs: Double, var endMs: Double,
                        attrs: mutable.LinkedHashMap[String, Any])

  private val nextId = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Span]()
  private val t0Nanos = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble

  def nowMs: Double = t0Ms + (System.nanoTime() - t0Nanos) / 1e6

  def current: String = stack.headOption.map(_.id).getOrElse("")

  /** Open a span under the innermost open one. */
  def open(name: String, layer: String,
           attrs: (String, Any)*): Span = synchronized {
    val s = Span(s"s${nextId.incrementAndGet()}", current, name, layer,
      nowMs, -1, mutable.LinkedHashMap(attrs: _*))
    spans += s
    stack.push(s)
    if (layer == "call")
      spark.sparkContext.setJobGroup(s.id, name, interruptOnCancel = false)
    s
  }

  def close(s: Span): Unit = synchronized {
    s.endMs = nowMs
    while (stack.nonEmpty && (stack.pop() ne s)) {}
    if (s.layer == "call") spark.sparkContext.clearJobGroup()
  }

  def span[T](name: String, layer: String, attrs: (String, Any)*)(
      body: Span => T): T = {
    val s = open(name, layer, attrs: _*)
    try body(s) finally close(s)
  }

  /** A span whose times were measured elsewhere (streaming progress,
    * listener events). */
  def record(id: String, parent: String, name: String, layer: String,
             startMs: Double, endMs: Double,
             attrs: (String, Any)*): Unit = synchronized {
    spans += Span(id, parent, name, layer, startMs, endMs,
      mutable.LinkedHashMap(attrs: _*))
    ()
  }

  def all: Seq[Span] = synchronized(spans.toSeq)
}
