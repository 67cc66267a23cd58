package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** JVM half of the benchmark: runs one workload over inputs the Python
  * half generated, and writes raw samples, counters and spans as JSON.
  * Metrics are computed from those by `perfbench/stats.py`.
  *
  * Usage: Main <plan.json> <run dir> <trace 0|1>
  *
  * Load shape: one process at local[4], 4 shuffle partitions, 4 state
  * partitions, one client thread. */
object Main {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** One operation: a micro-batch, request or gate, with what the checks
    * need. A failed operation has an error and no time. */
  final case class Op(kind: String, name: String, ok: Boolean,
                      ms: Option[Double], info: Map[String, Any] = Map.empty,
                      error: Option[String] = None)

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(new File(args(0)))
    val runDir = Paths.get(args(1)).toAbsolutePath
    val trace = args(2) == "1"
    val tmp = runDir.resolve("tmp")
    Files.createDirectories(tmp)
    val builder = graft.GraftSession.builder("local[4]", 4)
      .config("spark.local.dir", tmp.toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("spark-warehouse").toString)
      .config("spark.sql.streaming.streamingQueryListeners",
        classOf[ProgressListener].getName)
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
    if (trace) builder
      .config("spark.extraListeners", classOf[EngineListener].getName)
      .config("spark.sql.queryExecutionListeners", classOf[PlanningListener].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // JVM start to a ready session: the program's own start-up cost
    val sessionMs = System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val tracer = new Tracer(spark)
    val out = mutable.LinkedHashMap[String, Any](
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "cores" -> Runtime.getRuntime.availableProcessors(),
      "session_ms" -> sessionMs)
    val root = tracer.open("run", "run", "workload" -> plan.get("workload").asText())
    val code =
      try {
        val w: Workload = plan.get("workload").asText() match {
          case "ingest_bulk" | "ingest_live" => new Ingest(spark, tracer, plan, runDir)
          case "console" => new Console(spark, tracer, plan, runDir)
          case "operators" => new Operators(spark, tracer, plan, runDir)
          case other => sys.error(s"unknown workload $other")
        }
        out ++= w.run(trace)
        0
      } catch {
        case e: Throwable =>
          out("fatal") = stackOf(e)
          1
      } finally tracer.close(root)
    out("peak_rss_kb") = vmHwmKb()
    out("spans") = spansJson(tracer)
    Files.write(runDir.resolve("result.json"),
      mapper.writeValueAsBytes(out))
    spark.stop()
    sys.exit(code)
  }

  def opJson(u: Op): Map[String, Any] =
    Map("kind" -> u.kind, "name" -> u.name, "ok" -> u.ok,
      "ms" -> u.ms.map(java.lang.Double.valueOf).orNull,
      "info" -> u.info) ++ u.error.map("error" -> _)

  def stackOf(e: Throwable): String = {
    val sw = new java.io.StringWriter
    e.printStackTrace(new java.io.PrintWriter(sw))
    sw.toString.linesIterator.take(30).mkString("\n")
  }

  /** Peak resident set of this process (VmHWM), in kB. */
  def vmHwmKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)

  /** Spans plus the Spark jobs linked to them (traced phases only). A
    * micro-batch's job goes under the progress phase it started in. */
  private def spansJson(tracer: Tracer): Seq[Map[String, Any]] = {
    val all = tracer.all
    val known = all.map(_.id).toSet
    val phasesOf = all.filter(_.layer == "phase").groupBy(_.parent)
    def parentOf(j: Probe.Job): String =
      phasesOf.getOrElse(j.owner, Nil)
        .find(p => p.startMs <= j.startMs && j.startMs < p.endMs)
        .map(_.id).getOrElse(j.owner)
    val spans = all.map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "layer" -> s.layer, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "attrs" -> s.attrs.toMap)
    }
    // planning phases go to the first job of the same SQL execution
    val planByExec = Probe.planning.asScala.toSeq
      .groupBy(p => Option(Probe.sqlExecutionOf.get(p.qeId)).getOrElse(-1L))
    val jobs = Probe.jobs.values().asScala.toSeq.sortBy(_.id)
      .filter(j => known(j.owner) && j.endMs >= 0)
    val firstJobOfExec = jobs.groupBy(_.execId).map { case (e, js) => e -> js.head.id }
    val jobSpans = jobs.map { j =>
      val c = j.c
      val pl = if (j.execId >= 0 && firstJobOfExec.get(j.execId).contains(j.id))
        planByExec.getOrElse(j.execId, Nil) else Nil
      Map("id" -> s"job${j.id}", "parent" -> parentOf(j), "name" -> s"job ${j.id}",
        "layer" -> "job", "start_ms" -> j.startMs.toDouble,
        "end_ms" -> j.endMs.toDouble,
        "attrs" -> Map("stages" -> c.stages, "tasks" -> c.tasks,
          "task_run_ms" -> c.runMs, "task_cpu_ms" -> c.cpuMs,
          "task_overhead_ms" -> c.overheadMs, "gc_ms" -> c.gcMs,
          "shuffle_read_bytes" -> c.shuffleRead,
          "shuffle_write_bytes" -> c.shuffleWrite,
          "shuffle_records" -> c.shuffleRecords, "spill_bytes" -> c.spill,
          "output_bytes" -> c.output, "skew_sum" -> c.skewSum,
          "skew_n" -> c.skewN,
          "analysis_ms" -> pl.map(_.analysisMs).sum,
          "optimization_ms" -> pl.map(_.optimizationMs).sum,
          "planning_ms" -> pl.map(_.planningMs).sum,
          "files_written" -> pl.map(_.filesWritten).sum))
    }
    spans ++ jobSpans
  }

  /** The measured phases of a run: (tag, traced). A traced run brackets
    * its traced phase with two untraced ones, so the tracing overhead is
    * read against both neighbours rather than a colder or warmer one. */
  def phasePlan(trace: Boolean): Seq[(String, Boolean)] =
    if (trace) Seq("untraced" -> false, "traced" -> true, "untraced2" -> false)
    else Seq("untraced" -> false)

  // ---- small file helpers shared by the workloads ----
  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))

  def copyTree(src: Path, dst: Path): Unit =
    Files.walk(src).forEach { f =>
      val t = dst.resolve(src.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t)
      else Files.copy(f, t)
    }

  def writeLines(p: Path, lines: Iterable[String]): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, lines.asJava, StandardCharsets.UTF_8): Unit
  }
}

/** A workload: set-up (repeated for `setup_s`), an untimed warm-up, then
  * the measured phases of [[Main.phasePlan]]. */
trait Workload {
  def run(trace: Boolean): Map[String, Any]
}
