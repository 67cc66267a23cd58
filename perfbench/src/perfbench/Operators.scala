package perfbench

import java.nio.file.Path

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** `operators`: declared gates from [[SparkEntry.queries]] over a small
  * generated table set, in the seed's order. The untimed warm-up pass
  * writes every gate's output for the oracle check; the measured passes
  * run each gate through the `noop` sink, so all of its output rows and
  * columns are produced. */
final class Operators(spark: SparkSession, tracer: Tracer, plan: JsonNode,
                      runDir: Path) extends Workload {
  import Main.Op

  private val dir = plan.get("dir").asText()
  private val gates = plan.get("gates").elements().asScala.map(_.asText()).toSeq

  private def pass(write: (String, org.apache.spark.sql.DataFrame) => Unit,
                   passNo: Int): Seq[Op] =
    gates.map { g =>
      val t = tracer.nowMs
      try {
        tracer.span(g, "gate", "pass" -> passNo) { _ =>
          tracer.span(s"SparkEntry.queries($g)", "call") { _ =>
            write(g, SparkEntry.queries(g)(spark, dir))
          }
        }
        Op("gate", g, ok = true, Some(tracer.nowMs - t), Map("pass" -> passNo))
      } catch {
        case e: Throwable =>
          Op("gate", g, ok = false, None, Map("pass" -> passNo), Some(Main.stackOf(e)))
      }
    }

  def run(trace: Boolean): Map[String, Any] = {
    val outDir = runDir.resolve("gate_outputs")
    val oracles = gates.flatMap(g => SparkEntry.oracleSql.get(g).map(g -> _)).toMap
    Main.mapper.writeValue(runDir.resolve("oracle_sql.json").toFile, oracles)
    val t = tracer.nowMs
    val warm = tracer.span("warmup", "workload") { _ =>
      pass((g, df) => df.write.mode("overwrite").parquet(outDir.resolve(g).toString), 0)
    }
    val warmMs = tracer.nowMs - t
    // an untraced phase runs `passes` passes; per gate the fastest pass
    // counts (min-of-N)
    val passes = if (trace) 1 else plan.get("passes").asInt()
    val phases = Main.phasePlan(trace).map { case (tag, traced) =>
      val (runs, cpuMs) = tracer.span(tag, "workload", "traced" -> traced) { _ =>
        Probe.phase(spark, traced)((1 to passes).map { p =>
          val t0 = tracer.nowMs
          val units = pass((_, df) => df.write.format("noop").mode("overwrite").save(), p)
          (units, tracer.nowMs - t0)
        })
      }
      Map("traced" -> traced, "units" -> runs.flatMap(_._1).map(Main.opJson),
        "info" -> Map("rep_wall_ms" -> runs.map(_._2), "cpu_ms" -> cpuMs))
    }
    Map("setup_ms" -> Seq(warmMs), "warmup_ms" -> warmMs,
      "warmup_units" -> warm.map(Main.opJson),
      "gate_outputs" -> outDir.toString, "phases" -> phases)
  }
}
