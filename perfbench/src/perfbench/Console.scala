package perfbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.operators.ProfileJob
import graft.plans.MvRewrite.{MvCatalog, MvDef}
import graft.sinks.{SinkOptions, SinkRouter}
import graft.sources.DriverEventsAdapter
import graft.sql.GuardedSql

/** `console`: one closed-loop client against a warehouse landed during
  * set-up. The seeded request sequence mixes [[GuardedSql.query]] and
  * [[GuardedSql.queryCached]] reports, a day rollup the registered
  * [[MvCatalog]] MV can serve, [[ProfileJob.runCycle]], and per block of
  * eight requests one append/MERGE through [[SinkRouter.write]] (which
  * invalidates the result cache and makes the MV stale) and one
  * [[MvCatalog.refreshStale]]. */
final class Console(spark: SparkSession, tracer: Tracer, plan: JsonNode,
                    runDir: Path) extends Workload {
  import Main.Op

  private val LandingRepeats = 3
  private lazy val appends = spark.read.parquet(plan.get("appends").asText())

  private def enveloped(raw: DataFrame): DataFrame =
    DriverEventsAdapter.toEnvelope(raw).withColumn("_table", lit("events"))

  /** Land the base rows and build the day-rollup MV under `dir`. */
  private def land(dir: Path): Unit = {
    Main.deleteTree(dir)
    val router = new SinkRouter(dir.resolve("warehouse").toString,
      SinkOptions(deduplicate = true))
    router.write(enveloped(spark.read.parquet(plan.get("base").asText())))
    router.readTable(spark, "events")
      .groupBy(col("type"), date_trunc("day", col("timestamp")).as("period"))
      .agg(count(lit(1)).as("cnt"))
      .write.mode("overwrite").parquet(dir.resolve("mv").toString)
  }

  /** The client's view of one warehouse copy. */
  private final class Session(dir: Path) {
    val wh: String = dir.resolve("warehouse").toString
    val table = s"$wh/events"
    val mvPath: String = dir.resolve("mv").toString
    val router = new SinkRouter(wh, SinkOptions(deduplicate = true))
    val profiles = new ProfileJob(dir.resolve("profiles").toString,
      dir.resolve("profiles.ckpt").toString)

    def events: DataFrame = router.readTable(spark, "events")
    /** The `events` view lists the table's files when it is made, so
      * it is made again after every write. */
    def refreshView(): Unit = events.createOrReplaceTempView("events")

    MvCatalog.clear()
    GuardedSql.clearResultCache()
    refreshView()
    MvCatalog.register(spark, events, table, MvDef(
      name = "daily_by_type", mvPath = mvPath,
      groupKeys = Seq((col("type"), "type")),
      timeKey = Some((col("timestamp"), "period", "day")),
      countCol = Some("cnt")))
    MvCatalog.watchCommits(table, router.historyDir, "events")

    def servedByMv(df: DataFrame): Boolean = {
      val mv = new java.io.File(mvPath).getCanonicalPath
      df.queryExecution.optimizedPlan.collect {
        case lr: LogicalRelation => lr.relation
      }.exists {
        case h: HadoopFsRelation =>
          h.location.rootPaths.exists(p =>
            new java.io.File(p.toUri.getPath).getCanonicalPath == mv)
        case _ => false
      }
    }
  }

  private def rowsJson(rows: Array[Row]): Seq[Seq[Any]] =
    rows.toSeq.map(_.toSeq.map {
      case t: Timestamp => t.getTime * 1000L + (t.getNanos / 1000) % 1000
      case v => v
    })

  private def request(s: Session, r: JsonNode, i: Int): Op = {
    val kind = r.get("kind").asText()
    var info = Map[String, Any]("i" -> i)
    def call[T](name: String)(body: => T): T =
      tracer.span(name, "call")(_ => body)
    val t = tracer.nowMs
    try {
      tracer.span(kind, "request", "i" -> i) { _ =>
        kind match {
          case "query" =>
            val rows = call("GuardedSql.query")(
              GuardedSql.query(spark, r.get("sql").asText()).collect())
            info += "rows" -> rowsJson(rows)
          case "cached" =>
            val (rows, hit) = call("GuardedSql.queryCached") {
              val (df, hit) = GuardedSql.queryCached(spark, r.get("sql").asText())
              (df.collect(), hit)
            }
            info ++= Map("rows" -> rowsJson(rows), "cache_hit" -> hit)
          case "rollup" =>
            val (rows, served) = call("MvRewrite rollup") {
              val df = spark.sql(r.get("sql").asText())
              (df.collect(), s.servedByMv(df))
            }
            info ++= Map("rows" -> rowsJson(rows), "mv_served" -> served)
          case "profile" =>
            val now = new Timestamp(r.get("now_us").asLong() / 1000L)
            val n = call("ProfileJob.runCycle")(s.profiles.runCycle(s.events, now))
            info += "users_rebuilt" -> n
          case "write" =>
            val raw = appends.filter(col("slice") === r.get("slice").asInt())
            val ms = call("SinkRouter.write") {
              val t0 = tracer.nowMs
              s.router.write(enveloped(raw))
              tracer.nowMs - t0
            }
            s.refreshView()
            info += "write_ms" -> ms
          case "mv_refresh" =>
            val done = call("MvCatalog.refreshStale")(MvCatalog.refreshStale(spark))
            info += "refreshed" -> done.size
        }
      }
      Op("request", kind, ok = true, Some(tracer.nowMs - t), info)
    } catch {
      case e: Throwable => Op("request", kind, ok = false, None, info,
        Some(Main.stackOf(e)))
    }
  }

  private def runRequests(dir: Path, reqs: Seq[JsonNode]): (Seq[Op], Map[String, Any]) = {
    val s = new Session(dir)
    val t = tracer.nowMs
    val units = reqs.zipWithIndex.map { case (r, i) => request(s, r, i) }
    (units, Map("rep_wall_ms" -> Seq(tracer.nowMs - t), "warehouses" -> Seq(s.wh)))
  }

  def run(trace: Boolean): Map[String, Any] = {
    val base = runDir.resolve("base")
    val landingMs = (1 to LandingRepeats).map { _ =>
      val t = tracer.nowMs
      land(base)
      tracer.nowMs - t
    }
    def copyOf(tag: String): Path = {
      val d = runDir.resolve(tag)
      Main.deleteTree(d)
      Main.copyTree(base, d)
      d
    }
    val reqs = plan.get("requests").elements().asScala.toSeq
    val warmMs = tracer.span("warmup", "workload") { _ =>
      val t = tracer.nowMs
      val (wu, _) = runRequests(copyOf("warm"), reqs)
      wu.find(!_.ok).foreach(u => sys.error(s"warm-up failed: ${u.error.getOrElse("")}"))
      tracer.nowMs - t
    }
    val phases = Main.phasePlan(trace).map { case (tag, traced) =>
      val dir = copyOf(tag)
      val ((units, info), cpuMs) = tracer.span(tag, "workload", "traced" -> traced) { _ =>
        Probe.phase(spark, traced)(runRequests(dir, reqs))
      }
      Map("traced" -> traced, "units" -> units.map(Main.opJson),
        "info" -> (info + ("cpu_ms" -> cpuMs)))
    }
    MvCatalog.clear()
    Map("setup_ms" -> landingMs.map(_ + warmMs), "warmup_ms" -> warmMs,
      "phases" -> phases)
  }
}
